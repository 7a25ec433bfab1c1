"""Seeded input generator for the KG benchmark.

Pure Python on `random.Random(seed)`: the same seed and sizes give
byte-identical inputs, a different seed gives different bytes. The
program under test only ever sees the generated tables, never the seed.

What it plants:

- reference-shaped pages (2-4 KB of English sentences), each carrying
  `(subject, predicate, object)` fact sentences between filler;
- Zipf-skewed entity popularity, so a few hub entities appear on many
  pages (the skew the `nodes` salting exists for);
- entity labels, aliases and ambiguous aliases (a person's surname that
  is also a place label, or shared by two people) that only the
  linker's `rank` / smallest-id rule resolves;
- predicate wording in three forms: the property label, a dictionary
  alias (both linked exactly) and a paraphrase that is a reordering of
  the label's tokens, which only the cosine fallback links;
- a few out-of-dictionary entities and literal (year) objects;
- the ground truth, both as surface forms and as linked ids;
- the two incremental deltas (new pages; changed pages);
- a multilingual corpus with planted exact duplicates, near duplicates,
  off-language and low-quality documents.
"""

from __future__ import annotations

import hashlib
import random
import re
from dataclasses import dataclass, field

# (prop_id, label, alias, paraphrase). The paraphrase is a reordering of
# the label's tokens: not in the dictionary, so exact lookup misses it,
# while the hash embedding (a mean of token vectors) matches the label's
# exactly. No phrase may contain another, so the stand-in model's phrase
# match is unambiguous.
PROPERTIES: tuple[tuple[str, str, str, str], ...] = (
    ("P19", "place of birth", "born in", "birth place of"),
    ("P27", "country of citizenship", "citizen of", "citizenship country of"),
    ("P69", "educated at", "studied at", "at educated"),
    ("P108", "employed by", "works for", "by employed"),
    ("P463", "member of", "belongs to", "of member"),
    ("P131", "located in", "situated in", "in located"),
    ("P112", "founded by", "established by", "by founded"),
    ("P26", "spouse of", "married to", "of spouse"),
    ("P1376", "capital of", "seat of", "of capital"),
    ("P166", "award received", "won award", "received award"),
    ("P159", "headquarters location", "headquartered in", "location headquarters"),
    ("P127", "owned by", "property of", "by owned"),
    ("P737", "influenced by", "inspired by", "by influenced"),
    ("P1066", "student of", "pupil of", "of student"),
    ("P3373", "sibling of", "kin of", "of sibling"),
    ("P1327", "partner in business", "collaborated with", "business partner in"),
    ("P50", "author of", "wrote", "of author"),
    ("P40", "child of", "offspring of", "of child"),
    ("P551", "residence in", "resides in", "in residence"),
    ("P1344", "participant in", "took part in", "in participant"),
)
# literal-object property: the object is a year, never a dictionary entity
LITERAL_PROPERTY = ("P571", "inception year", "established in year", "year inception")
ALL_PROPERTIES = PROPERTIES + (LITERAL_PROPERTY,)

# filler vocabulary: shares no word with any predicate phrase, so filler
# sentences never look like facts
_FILLER = {
    "adj": "early later quiet broad narrow steady modern ancient rapid gentle "
    "distant northern southern eastern western central formal local public "
    "private rural coastal annual brief careful complex common detailed "
    "minor major notable regional rough shared simple stable urban".split(),
    "noun": "archive record region period river valley market harbor bridge "
    "village council library museum festival season journal method design "
    "garden tower road square railway factory harvest colony ledger "
    "treaty charter census survey estate chapel district canal meadow forest "
    "orchard quarry workshop pamphlet letter map".split(),
    "verb": "describes mentions records shows notes lists outlines traces "
    "documents reflects preserves reports catalogues illustrates "
    "summarizes".split(),
    "adv": "briefly often rarely later again mostly partly widely".split(),
}
_FILLER_TEMPLATES = (
    "The {adj} {noun} {verb} the {adj} {noun}.",
    "A {adj} {noun} {adv} {verb} the {noun} of the {adj} {noun}.",
    "The {noun} {adv} {verb} a {adj} {noun} and the {noun}.",
    "One {adj} {noun} {verb} the {noun} to the {adj} {noun}.",
    "The {adj} {noun} is the {noun} that {verb} the {adj} {noun}.",
)
_SYLL = (
    "ka ri mo ve lan dor tu sel bra nik qui mar zo fen ha lo gar tis pel ur "
    "ben sa vo cri del"
).split()

# corpus_prep: function words per language (they drive the package's
# marker-count language id) plus pseudo-words
_LANG_WORDS = {
    "es": "el la de que y los del las por con una".split(),
    "fr": "le la les des et du une sur pour dans".split(),
    "de": "der die das und nicht ein eine mit auf sich".split(),
}


def _word(rng: random.Random, lo: int = 2, hi: int = 3) -> str:
    return "".join(rng.choice(_SYLL) for _ in range(rng.randint(lo, hi)))


@dataclass
class Entity:
    qid: str
    label: str
    aliases: list[str]


@dataclass
class World:
    entities: list[Entity]
    weights: list[float]          # Zipf popularity per entity
    ood: list[str]                # out-of-dictionary names (no id)
    resolve: dict[str, str]       # lower(mention) -> id the rank rule picks

    def entity_rows(self) -> list[tuple[str, int, str]]:
        """(alias, rank, entity_id): label rows rank 0, alias rows rank 1."""
        rows = []
        for e in self.entities:
            rows.append((e.label, 0, e.qid))
            rows.extend((a, 1, e.qid) for a in e.aliases)
        return rows

    @staticmethod
    def property_rows() -> list[tuple[str, str, str, int]]:
        """(prop_id, label, alias, rank): label rank 0, alias rank 1."""
        rows = []
        for pid, label, alias, _ in ALL_PROPERTIES:
            rows.append((pid, label, label, 0))
            rows.append((pid, label, alias, 1))
        return rows


def make_world(rng: random.Random, n_entities: int) -> World:
    used: set[str] = set()

    def fresh(lo=2, hi=3) -> str:
        while True:
            w = _word(rng, lo, hi).capitalize()
            if w.lower() not in used:
                used.add(w.lower())
                return w

    surnames = [fresh() for _ in range(max(4, n_entities // 6))]
    entities: list[Entity] = []
    for i in range(n_entities):
        qid = f"Q{100000 + i}"
        r = rng.random()
        if r < 0.5:
            sur = rng.choice(surnames)
            label = f"{fresh()} {sur}"
            entities.append(Entity(qid, label, [sur]))
        elif r < 0.8:
            # some place labels reuse a surname: that surname alias is
            # then ambiguous, and the rank-0 label wins it
            name = rng.choice(surnames) if rng.random() < 0.15 else fresh()
            if any(e.label == name for e in entities):
                name = fresh()
            entities.append(Entity(qid, name, [f"{name} Town"]))
        else:
            base = fresh()
            suffix = rng.choice(["Institute", "Guild", "Company", "Society"])
            entities.append(
                Entity(qid, f"{base} {suffix}", [f"the {base} {suffix.lower()}"])
            )
    resolve: dict[str, tuple[int, str]] = {}
    for e in entities:
        for rank, m in [(0, e.label)] + [(1, a) for a in e.aliases]:
            k = m.lower()
            cand = (rank, e.qid)
            if k not in resolve or cand < resolve[k]:
                resolve[k] = cand
    weights = [1.0 / (i + 1) ** 1.1 for i in range(n_entities)]
    rng.shuffle(weights)
    ood = [f"{fresh()} {fresh()}" for _ in range(max(2, n_entities // 20))]
    return World(entities, weights, ood, {k: v[1] for k, v in resolve.items()})


@dataclass
class Fact:
    subj: str       # surface mention as written
    pred: str       # predicate phrase as written
    obj: str
    subj_key: str   # linked id, or the surface form when unlinked
    pid: str
    obj_key: str


@dataclass
class Page:
    path: str
    content: str
    facts: list[Fact] = field(default_factory=list)


def _filler(rng: random.Random) -> str:
    t = rng.choice(_FILLER_TEMPLATES)
    return t.format_map(_Pick(rng))


class _Pick(dict):
    def __init__(self, rng):
        super().__init__()
        self.rng = rng

    def __missing__(self, key):
        return self.rng.choice(_FILLER[key])


def _mention(rng: random.Random, world: World, e: Entity) -> tuple[str, str]:
    """(text, linked key) for one mention of entity e."""
    m = e.label if rng.random() < 0.8 or not e.aliases else rng.choice(e.aliases)
    return m, world.resolve[m.lower()]


def _fact(rng: random.Random, world: World, topic: Entity) -> Fact:
    ents = world.entities
    if rng.random() < 0.6:
        s = topic
    else:
        s = rng.choices(ents, weights=world.weights)[0]
    if rng.random() < 0.04:
        pid, *forms = LITERAL_PROPERTY
        year = str(rng.randint(1500, 2020))
        pred = _pred_form(rng, forms)
        sm, sk = _mention(rng, world, s)
        return Fact(sm, pred, year, sk, pid, year)
    pid, *forms = rng.choice(PROPERTIES)
    pred = _pred_form(rng, forms)
    sm, sk = _mention(rng, world, s)
    if rng.random() < 0.04:
        om = ok = rng.choice(world.ood)
    else:
        o = rng.choices(ents, weights=world.weights)[0]
        while o.qid == s.qid:
            o = rng.choices(ents, weights=world.weights)[0]
        om, ok = _mention(rng, world, o)
    return Fact(sm, pred, om, sk, pid, ok)


def _pred_form(rng: random.Random, forms: list[str]) -> str:
    label, alias, para = forms
    r = rng.random()
    return label if r < 0.6 else alias if r < 0.85 else para


def make_page(rng: random.Random, world: World, path: str) -> Page:
    topic = rng.choices(world.entities, weights=world.weights)[0]
    target = rng.randint(2000, 4000)
    sents = [f"{topic.label} is the subject of this page."]
    facts: list[Fact] = []
    size = len(sents[0])
    while size < target:
        if rng.random() < 0.3:
            f = _fact(rng, world, topic)
            facts.append(f)
            s = f"{f.subj} {f.pred} {f.obj}."
        else:
            s = _filler(rng)
        sents.append(s)
        size += len(s) + 1
    return Page(path, " ".join(sents), facts)


@dataclass
class KGInputs:
    world: World
    pages: list[Page]
    delta_new: list[Page]       # pages at new paths
    delta_changed: list[Page]   # new content at existing paths


def make_kg_inputs(seed: int, n_pages: int, n_entities: int, delta_frac: float) -> KGInputs:
    rng = random.Random(f"kg:{seed}")
    world = make_world(rng, n_entities)
    pages = [make_page(rng, world, f"wiki/page{i:06d}.txt") for i in range(n_pages)]
    n_delta = max(1, int(n_pages * delta_frac))
    delta_new = [
        make_page(rng, world, f"wiki/page{n_pages + i:06d}.txt") for i in range(n_delta)
    ]
    changed_paths = sorted(rng.sample([p.path for p in pages], n_delta))
    delta_changed = [make_page(rng, world, p) for p in changed_paths]
    return KGInputs(world, pages, delta_new, delta_changed)


def live_pages(inp: KGInputs) -> list[Page]:
    """The corpus after both deltas: changed pages replace their old
    versions, new pages are added."""
    changed = {p.path: p for p in inp.delta_changed}
    return [changed.get(p.path, p) for p in inp.pages] + inp.delta_new


def ground_truth(pages: list[Page]) -> tuple[set, set]:
    """(surface triples, linked triples) planted in the pages."""
    surface = {(f.subj, f.pred, f.obj) for p in pages for f in p.facts}
    linked = {(f.subj_key, f.pid, f.obj_key) for p in pages for f in p.facts}
    return surface, linked


# -- corpus_prep ---------------------------------------------------------------

@dataclass
class PrepDoc:
    doc_id: int
    text: str
    kind: str       # good | exact_dup | near_dup | lang | short | repetitive


def _english_doc(rng: random.Random) -> str:
    out, size, target = [], 0, rng.randint(600, 1400)
    while size < target:
        s = _filler(rng)
        # distinct pseudo-words keep unrelated docs far apart in
        # shingle space, as real documents are
        s = s[:-1] + f" near {_word(rng)} and {_word(rng)}."
        out.append(s)
        size += len(s) + 1
    return " ".join(out)


def _foreign_doc(rng: random.Random, lang: str) -> str:
    words = _LANG_WORDS[lang]
    out = []
    for _ in range(rng.randint(60, 140)):
        out.append(rng.choice(words) if rng.random() < 0.4 else _word(rng))
    return " ".join(out).capitalize() + "."


def _near_copy(rng: random.Random, text: str) -> str:
    toks = text.split(" ")
    for _ in range(max(1, len(toks) // 60)):
        i = rng.randrange(len(toks))
        toks[i] = _word(rng)
    return " ".join(toks)


def make_prep_corpus(seed: int, n_docs: int) -> list[PrepDoc]:
    """Distinct English docs first (so every planted duplicate has a
    larger id than its original and the min-id survivor rule keeps
    the original), then exact and near copies, off-language and
    low-quality docs, with ids in that order."""
    rng = random.Random(f"prep:{seed}")
    n_good = int(n_docs * 0.7)
    good = [_english_doc(rng) for _ in range(n_good)]
    docs: list[tuple[str, str]] = [(t, "good") for t in good]
    for _ in range(int(n_docs * 0.08)):
        docs.append((rng.choice(good), "exact_dup"))
    for _ in range(int(n_docs * 0.08)):
        docs.append((_near_copy(rng, rng.choice(good)), "near_dup"))
    for _ in range(int(n_docs * 0.08)):
        docs.append((_foreign_doc(rng, rng.choice(sorted(_LANG_WORDS))), "lang"))
    while len(docs) < n_docs:
        if rng.random() < 0.5:
            docs.append((" ".join(_word(rng) for _ in range(3)), "short"))
        else:
            a, b = _word(rng), _word(rng)
            docs.append((" ".join([a, b] * rng.randint(20, 60)), "repetitive"))
    return [PrepDoc(i + 1, t, k) for i, (t, k) in enumerate(docs)]


def digest(rows) -> str:
    """Order-free md5 over rows (each row repr'd), for input and
    output fingerprints."""
    h = hashlib.md5()
    for r in sorted(repr(x) for x in rows):
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


def check_vocabulary() -> None:
    """The phrase set must be match-unambiguous (no phrase inside
    another), the paraphrase a true reordering of its label, and no
    two properties may share a token multiset."""
    phrases = [f for _, *forms in ALL_PROPERTIES for f in forms]
    for a in phrases:
        for b in phrases:
            if a != b and re.search(rf"(^| ){re.escape(a)}( |$)", b):
                raise ValueError(f"phrase {a!r} occurs inside {b!r}")
    bags = set()
    filler = {w for ws in _FILLER.values() for w in ws}
    for _, label, alias, para in ALL_PROPERTIES:
        if sorted(label.split()) != sorted(para.split()) or para == label:
            raise ValueError(f"{para!r} is not a reordering of {label!r}")
        for p in (label, alias):
            bag = tuple(sorted(p.split()))
            if bag in bags:
                raise ValueError(f"token multiset of {p!r} is not unique")
            bags.add(bag)
        for p in (label, alias, para):
            if not set(p.split()) - filler - {"the", "a", "of", "to", "in", "and", "that", "is"}:
                raise ValueError(f"{p!r} has no word outside the filler vocabulary")
