"""The benchmark's four workloads.

Each workload stages its generated inputs as parquet (set-up), then runs
one operation repeatedly through the package's public API, and checks
its outputs after the timed window. Inputs are small because an
operation's cost is mostly Spark's per-job and per-write overhead, not
input size: on `local[4]` a warm 160-page build takes 6-8 s and
`prepare_corpus` over 150 docs 8-10 s, after a cold operation of 16-32 s.
Larger inputs would not fit a cold, a warm-up and a timed operation into
a run of about a minute.
"""

from __future__ import annotations

import hashlib
import math
import os
import re
import shutil
from contextlib import nullcontext

import pyarrow as pa
import pyarrow.parquet as pq

from knowledge_graph_creation_from_text_with_llms_spark.functions.embeddings import (
    hash_embedding_expr,
)
from knowledge_graph_creation_from_text_with_llms_spark.operators import dedup, metrics
from knowledge_graph_creation_from_text_with_llms_spark.plans.corpus_prep import (
    CorpusPrepConfig,
    prepare_corpus,
)
from knowledge_graph_creation_from_text_with_llms_spark.plans.pipeline import (
    KGPipeline,
    PipelineConfig,
)
from knowledge_graph_creation_from_text_with_llms_spark.sources.catalog import ParquetCatalog
from knowledge_graph_creation_from_text_with_llms_spark.sources.corpus import read_source

from . import gen
from .backend import StandInBackend
from .trace import TracedCatalog

REPO = "kgbench/wiki"
COMMIT = "0" * 40
GRAPH_TABLES = ("nodes", "edges", "adjacency")
# how often the repeatable part of set-up (input staging) runs; setup_s
# reports the median
SETUP_REPEATS = 3


class CheckFailed(Exception):
    pass


def _norm(s: str) -> str:
    """normalize_text_expr in Python: lower, drop [^\\w\\s], trim spaces."""
    return re.sub(r"[^\w\s]", "", (s or "").lower(), flags=re.ASCII).strip(" ")


def _prf(tp: int, fp: int, fn: int) -> tuple[float, float, float]:
    p = tp / (tp + fp) if tp + fp else 0.0
    r = tp / (tp + fn) if tp + fn else 0.0
    return p, r, (2 * p * r / (p + r) if p + r else 0.0)


def _require(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


class Ctx:
    """What a workload needs from the run: the session, a private work
    directory inside the checkout, and the tracer (None when untraced)."""

    def __init__(self, spark, work: str, seed: int, cpus: int, tracer=None):
        self.spark = spark
        self.cpus = cpus
        self.work = work
        self.seed = seed
        self.tracer = tracer

    def span(self, name: str, traced: bool):
        return self.tracer.span(name) if traced and self.tracer else nullcontext()

    def catalog(self, root: str, traced: bool) -> ParquetCatalog:
        if traced and self.tracer:
            return TracedCatalog(root, self.spark, self.tracer)
        return ParquetCatalog(root, self.spark)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def snapshot_rows(cat: ParquetCatalog, table: str) -> list[dict]:
    """Rows of a table's latest committed snapshot, read with pyarrow
    from `<root>/<table>/snapshot=<n>` (the catalog's documented
    layout), so output checks cost no Spark job."""
    snap = cat.latest_snapshot(table)
    return pq.read_table(os.path.join(cat.root, table, f"snapshot={snap}")).to_pylist()


def graph_digest(cat: ParquetCatalog) -> str:
    return gen.digest(
        (t, sorted(r.items())) for t in GRAPH_TABLES for r in snapshot_rows(cat, t)
    )


# -- KG inputs -----------------------------------------------------------------

def write_parquet(path: str, columns: dict[str, list], files: int) -> None:
    """Stage a table as `files` parquet files written by pyarrow, so
    set-up costs no Spark job and the scan still has one split per
    core. Rows go to files in contiguous runs."""
    os.makedirs(path)
    n = len(next(iter(columns.values())))
    for k in range(files):
        lo, hi = n * k // files, n * (k + 1) // files
        pq.write_table(
            pa.table({c: v[lo:hi] for c, v in columns.items()}),
            os.path.join(path, f"part-{k:05d}.parquet"),
        )


class KGStaged:
    """Generated KG inputs staged as parquet, and lazy frames over them."""

    def __init__(self, ctx: Ctx, inp: gen.KGInputs, tag: str, sources=("source",)):
        spark = ctx.spark
        base = ctx.path(f"inputs-{tag}")
        pages = {
            "source": inp.pages,
            "delta_new": inp.delta_new,
            "delta_changed": inp.delta_changed,
            "live": gen.live_pages(inp),
        }
        for name in sources:
            path = os.path.join(base, name)
            ps = pages[name]
            write_parquet(path, {
                "repo": [REPO] * len(ps),
                "path": [p.path for p in ps],
                "commit": [COMMIT] * len(ps),
                "lang": ["text"] * len(ps),
                "content": [p.content for p in ps],
            }, ctx.cpus)
            setattr(self, name, read_source(spark, path))
        ent = inp.world.entity_rows()
        write_parquet(os.path.join(base, "entity_dict"), {
            "alias": [r[0] for r in ent],
            "rank": pa.array([r[1] for r in ent], pa.int32()),
            "entity_id": [r[2] for r in ent],
        }, 1)
        prop = gen.World.property_rows()
        write_parquet(os.path.join(base, "property_dict"), {
            "prop_id": [r[0] for r in prop],
            "label": [r[1] for r in prop],
            "alias": [r[2] for r in prop],
            "rank": pa.array([r[3] for r in prop], pa.int32()),
        }, 1)
        self.entity_dict = spark.read.schema(
            "alias string, rank int, entity_id string"
        ).parquet(os.path.join(base, "entity_dict"))
        self.property_dict = spark.read.schema(
            "prop_id string, label string, alias string, rank int"
        ).parquet(os.path.join(base, "property_dict")).withColumn(
            "embedding", hash_embedding_expr("alias"))


def _pipeline(ctx: Ctx, st: KGStaged, cat: ParquetCatalog) -> KGPipeline:
    cfg = PipelineConfig(property_method="mixed", backend_factory=StandInBackend)
    return KGPipeline(ctx.spark, cat, cfg, st.entity_dict, st.property_dict)


def _bytes(pages) -> int:
    return sum(len(p.content.encode()) for p in pages)


def kg_quality(cat: ParquetCatalog, pages) -> dict[str, float]:
    """Surface and linked-id precision/recall of a built graph against
    the ground truth planted in `pages`."""
    gt_surface, gt_linked = gen.ground_truth(pages)
    gt_s = {tuple(map(_norm, t)) for t in gt_surface}
    got_s = {
        (_norm(r["subj"]), _norm(r["pred"]), _norm(r["obj"]))
        for r in snapshot_rows(cat, "triples_linked")
    }
    got_l = {(r["src_id"], r["pred_id"], r["dst_id"]) for r in snapshot_rows(cat, "edges")}
    out = {}
    for name, got, gt in (("triple", got_s, gt_s), ("linked", got_l, gt_linked)):
        tp = len(got & gt)
        p, r, _ = _prf(tp, len(got) - tp, len(gt) - tp)
        out[f"{name}_precision"], out[f"{name}_recall"] = p, r
    return out


def parse_and_link_ratios(cat: ParquetCatalog) -> dict[str, float]:
    """parser.reject_ratio: response lines not parsed / lines emitted;
    linker.link_ratio: distinct labels linked / distinct labels looked
    up (subject, predicate and object lookups counted apart)."""
    lines = sum(len(r["response"].split("\n")) for r in snapshot_rows(cat, "raw_responses"))
    parsed = len(snapshot_rows(cat, "triples_raw"))
    looked: dict[tuple[str, str], bool] = {}
    for r in snapshot_rows(cat, "triples_linked"):
        for col, id_col in (("subj", "subj_id"), ("pred", "pred_id"), ("obj", "obj_id")):
            looked[(col, r[col].strip(" ").lower())] = r[id_col] is not None
    return {
        "parser.reject_ratio": (lines - parsed) / lines if lines else 0.0,
        "linker.link_ratio": sum(looked.values()) / len(looked) if looked else 0.0,
    }


class KGBuild:
    """Fresh-catalog KGPipeline.run over seeded pages with dictionaries
    and mixed property linking: the paper's main path."""

    name = "kg_build"
    N_PAGES, N_ENTITIES = 160, 240

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.cats: list[str] = []

    def setup(self, rep: int) -> None:
        self.inp = gen.make_kg_inputs(self.ctx.seed, self.N_PAGES, self.N_ENTITIES, 0.05)
        self.input_bytes = _bytes(self.inp.pages)
        self.st = KGStaged(self.ctx, self.inp, f"r{rep}")

    def op(self, i: int, traced: bool) -> None:
        root = self.ctx.path(f"cat-{i}")
        cat = self.ctx.catalog(root, traced)
        with self.ctx.span("pipeline.run", traced):
            _pipeline(self.ctx, self.st, cat).run(self.st.source)
        self.cats.append(root)

    def check(self) -> dict[str, float]:
        spark = self.ctx.spark
        digests = {graph_digest(ParquetCatalog(r, spark)) for r in self.cats}
        _require(len(digests) == 1, f"graph digests differ across {len(self.cats)} builds")
        self.output_digest = digests.pop()
        last = ParquetCatalog(self.cats[-1], spark)
        _require(_pipeline(self.ctx, self.st, last).verify_invariant(),
                 "verify_invariant() is false")
        q = kg_quality(last, self.inp.pages)
        for k, v in q.items():
            _require(v >= 0.95, f"{k} = {v:.4f} < 0.95")
        if self.ctx.tracer:
            self.layer_extra = parse_and_link_ratios(last)
        return q


class KGIncremental:
    """Two deltas applied in order to an identical copy of a prior
    catalog: new pages (merge_edges path), then changed pages
    (retraction/rebuild path)."""

    name = "kg_incremental"
    N_PAGES, N_ENTITIES, DELTA = 160, 240, 0.05

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.cats: list[str] = []

    def setup(self, rep: int) -> None:
        self.inp = gen.make_kg_inputs(self.ctx.seed, self.N_PAGES, self.N_ENTITIES, self.DELTA)
        self.input_bytes = _bytes(self.inp.delta_new) + _bytes(self.inp.delta_changed)
        self.st = KGStaged(
            self.ctx, self.inp, f"r{rep}", ("source", "delta_new", "delta_changed", "live")
        )

    def setup_once(self) -> None:
        self.prior = self.ctx.path("prior")
        cat = ParquetCatalog(self.prior, self.ctx.spark)
        _pipeline(self.ctx, self.st, cat).run(self.st.source)

    def prepare(self, i: int) -> None:
        root = self.ctx.path(f"inc-{i}")
        shutil.copytree(self.prior, root)
        self.cats.append(root)

    def op(self, i: int, traced: bool) -> None:
        cat = self.ctx.catalog(self.cats[-1], traced)
        pipe = _pipeline(self.ctx, self.st, cat)
        with self.ctx.span("incremental.new", traced):
            c1 = pipe.run_incremental(self.st.delta_new)
        with self.ctx.span("incremental.changed", traced):
            c2 = pipe.run_incremental(self.st.delta_changed)
        _require(c1.get("retracted_docs") == 0, f"new-pages delta retracted {c1}")
        _require(c2.get("retracted_docs") == len(self.inp.delta_changed),
                 f"changed-pages delta retracted {c2.get('retracted_docs')}")

    def check(self) -> dict[str, float]:
        spark = self.ctx.spark
        full = ParquetCatalog(self.ctx.path("full"), spark)
        _pipeline(self.ctx, self.st, full).run(self.st.live)
        want = self.output_digest = graph_digest(full)
        for r in self.cats:
            _require(graph_digest(ParquetCatalog(r, spark)) == want,
                     f"incremental graph {os.path.basename(r)} != from-scratch build")
        if self.ctx.tracer:
            self.layer_extra = parse_and_link_ratios(ParquetCatalog(self.cats[-1], spark))
        return kg_quality(full, gen.live_pages(self.inp))


class KGEval:
    """The metrics layer over a built graph's triples against the
    planted ground truth; the pipeline itself is idle."""

    name = "kg_eval"
    N_PAGES, N_ENTITIES = 40, 80

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.results: list[str] = []

    def setup(self, rep: int) -> None:
        self.inp = gen.make_kg_inputs(self.ctx.seed, self.N_PAGES, self.N_ENTITIES, 0.05)
        self.input_bytes = _bytes(self.inp.pages)
        self.st = KGStaged(self.ctx, self.inp, f"r{rep}")

    def setup_once(self) -> None:
        spark = self.ctx.spark
        cat = ParquetCatalog(self.ctx.path("graph"), spark)
        _pipeline(self.ctx, self.st, cat).run(self.st.source)
        gen_rows = sorted(
            (r["doc_id"], r["subj"], r["pred"], r["obj"])
            for r in snapshot_rows(cat, "triples_linked")
        )
        doc_of = {p.path: _doc_id(p.path) for p in self.inp.pages}
        gt_rows = [
            (doc_of[p.path], f.subj, f.pred, f.obj) for p in self.inp.pages for f in p.facts
        ]
        # BERTScore pairs: every generated triple against every planted
        # triple of the same page
        by_doc: dict[str, list[str]] = {}
        for d, s, p, o in gt_rows:
            by_doc.setdefault(d, []).append(f"{s} {p} {o}")
        pairs = [
            (f"{s} {p} {o}", ref) for d, s, p, o in gen_rows for ref in by_doc.get(d, [])
        ]
        cols = ("doc_id", "subj", "pred", "obj")
        for name, rows, names in (
            ("generated", gen_rows, cols),
            ("ground_truth", gt_rows, cols),
            ("pairs", pairs, ("cand", "ref")),
        ):
            write_parquet(self.ctx.path("eval", name), {
                c: [r[k] for r in rows] for k, c in enumerate(names)
            }, self.ctx.cpus)
        self.gen_rows, self.gt_rows, self.n_pairs = gen_rows, gt_rows, len(pairs)
        self.generated = spark.read.parquet(self.ctx.path("eval", "generated"))
        self.ground_truth = spark.read.parquet(self.ctx.path("eval", "ground_truth"))
        self.pairs = spark.read.parquet(self.ctx.path("eval", "pairs"))

    def op(self, i: int, traced: bool) -> None:
        g, t, span = self.generated, self.ground_truth, self.ctx.span
        out = {}
        with span("metrics.strict", traced):
            out["strict"] = [tuple(r) for r in metrics.strict_metrics(g, t).collect()]
        with span("metrics.component", traced):
            out["component"] = [tuple(r) for r in metrics.component_metrics(g, t).collect()]
        with span("metrics.relaxed", traced):
            out["relaxed"] = [tuple(r) for r in metrics.relaxed_metrics(g, t).collect()]
        with span("metrics.rouge", traced):
            out["rouge"] = sorted(tuple(r) for r in metrics.rouge_best_match(g, t).collect())
        with span("metrics.bertscore", traced):
            out["bertscore"] = sorted(
                tuple(r) for r in metrics.bertscore_pairs(self.pairs, "cand", "ref").collect()
            )
        self.last = out
        self.results.append(gen.digest(repr(v) for v in out.items()))

    def check(self) -> dict[str, float]:
        _require(len(set(self.results)) == 1, "metric outputs differ across iterations")
        self.output_digest = self.results[0]
        out = self.last
        gen_t = [tuple(map(_norm, r[1:])) for r in self.gen_rows]
        gt_t = [tuple(map(_norm, r[1:])) for r in self.gt_rows]

        # strict: distinct normalized triples, all-empty rows dropped
        g = {t for t in gen_t if any(t)}
        t = {x for x in gt_t if any(x)}
        tp, fp, fn = len(g & t), len(g - t), len(t - g)
        _same(out["strict"][0], (tp, fp, fn, *_prf(tp, fp, fn)), "strict")

        # component: per-component sets of non-empty values
        for k, comp in enumerate(("subj", "pred", "obj")):
            gs = {x[k] for x in gen_t if x[k]}
            ts = {x[k] for x in gt_t if x[k]}
            tp, fp, fn = len(gs & ts), len(gs - ts), len(ts - gs)
            row = out["component"][k]
            _require(row[0] == comp, f"component row order {row[0]}")
            _same(row[1:], (tp, fp, fn, *_prf(tp, fp, fn)), comp)

        # relaxed: a GT row is found when some generated tuple holds each
        # of its non-empty components; counts keep duplicates
        gen_set = set(gen_t)
        tp = 0
        for x in gt_t:
            want = [c for c in x if c]
            tp += (any(all(c in y for c in want) for y in gen_set) if want else bool(gen_t))
        fp, fn = len(gen_t) - tp, len(gt_t) - tp
        _same(out["relaxed"][0], (tp, fp, fn, *_prf(tp, fp, fn)), "relaxed")

        # ROUGE: one row per distinct generated triple, in [0, 1], and 1.0
        # on every triple that is also a planted one
        gt_raw = {tuple(r[1:]) for r in self.gt_rows}
        rouge = out["rouge"]
        _require(len(rouge) == len({tuple(r[1:]) for r in self.gen_rows}), "rouge row count")
        for r in rouge:
            _require(all(0.0 <= v <= 1.0 for v in r[3:]), f"rouge out of range {r}")
            if tuple(r[:3]) in gt_raw:
                _require(r[3:] == (1.0, 1.0, 1.0), f"rouge of an exact match {r}")
        # BERTScore: one row per pair; identical texts score 1
        bs = out["bertscore"]
        _require(len(bs) == self.n_pairs, "bertscore row count")
        for cand, ref, p, r, f1 in bs:
            _require(-1.0 <= f1 <= 1.0 + 1e-9, f"bertscore out of range {f1}")
            if cand == ref:
                _require(abs(f1 - 1.0) < 1e-9, f"bertscore of identical texts {f1}")
        s = out["strict"][0]
        return {"triple_precision": s[3], "triple_recall": s[4]}


def _doc_id(path: str) -> str:
    return hashlib.sha256(f"{REPO} {path} {COMMIT}".encode()).hexdigest()


def _same(got, want, what: str) -> None:
    got, want = tuple(got), tuple(want)
    ok = len(got) == len(want) and all(
        math.isclose(a, b, rel_tol=1e-12, abs_tol=1e-12) for a, b in zip(got, want)
    )
    _require(ok, f"{what} metrics {got} != plain-Python {want}")


class CorpusPrep:
    """prepare_corpus over a multilingual corpus with planted exact and
    near duplicates and low-quality docs. No KG layer runs."""

    name = "corpus_prep"
    N_DOCS = 150

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.audits: list[str] = []

    def setup(self, rep: int) -> None:
        self.docs = gen.make_prep_corpus(self.ctx.seed, self.N_DOCS)
        self.input_bytes = sum(len(d.text.encode()) for d in self.docs)
        path = self.ctx.path(f"inputs-r{rep}", "docs")
        write_parquet(path, {
            "doc_id": [d.doc_id for d in self.docs],
            "text": [d.text for d in self.docs],
        }, self.ctx.cpus)
        self.df = self.ctx.spark.read.schema("doc_id long, text string").parquet(path)

    def op(self, i: int, traced: bool) -> None:
        cfg = CorpusPrepConfig()
        with self.ctx.span("corpus_prep", traced), _dedup_spans(self.ctx, traced) as pairs:
            ids = [r[0] for r in prepare_corpus(self.df, cfg).select("doc_id").collect()]
        self.pairs = pairs
        self.survivors = set(ids)
        self.audits.append(gen.digest([repr(sorted(cfg.audit.items())), repr(sorted(ids))]))

    def after_op(self, tracer) -> None:
        """Untimed: count the pairs the LSH stage returned."""
        tracer.count("dedup.candidate_pairs", sum(p.count() for p in self.pairs))

    def check(self) -> dict[str, float]:
        _require(len(set(self.audits)) == 1, "audit counts or survivors differ across iterations")
        self.output_digest = self.audits[0]
        dups = [d.doc_id for d in self.docs if d.kind in ("exact_dup", "near_dup")]
        good = [d.doc_id for d in self.docs if d.kind == "good"]
        dedup_recall = sum(i not in self.survivors for i in dups) / len(dups)
        false_drop = sum(i not in self.survivors for i in good) / len(good)
        return {"dedup_recall": dedup_recall, "false_drop_ratio": false_drop}


class _dedup_spans:
    """Traced runs only: wrap the dedup layer's calls made inside
    prepare_corpus in spans. Yields the list of pair frames returned,
    so their size can be counted after the operation."""

    def __init__(self, ctx: Ctx, traced: bool):
        self.ctx, self.traced, self.pairs = ctx, traced, []

    def __enter__(self):
        if not (self.traced and self.ctx.tracer):
            return self.pairs
        self.saved = (dedup.minhash_lsh_pairs, dedup.connected_components)
        lsh, comp = self.saved
        tracer, pairs = self.ctx.tracer, self.pairs

        def minhash_lsh_pairs(*a, **kw):
            with tracer.span("dedup.minhash_lsh"):
                out = lsh(*a, **kw)
            pairs.append(out)
            return out

        def connected_components(*a, **kw):
            with tracer.span("dedup.components"):
                return comp(*a, **kw)

        dedup.minhash_lsh_pairs = minhash_lsh_pairs
        dedup.connected_components = connected_components
        return self.pairs

    def __exit__(self, *exc):
        if self.traced and self.ctx.tracer:
            dedup.minhash_lsh_pairs, dedup.connected_components = self.saved
        return False


WORKLOADS = {w.name: w for w in (KGBuild, KGIncremental, KGEval, CorpusPrep)}
