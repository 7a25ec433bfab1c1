"""LLM stand-in for the benchmark, plugged in through
`PipelineConfig.backend_factory`.

It reads the planted fact sentences of a chunk by matching the fixed
predicate phrases, and answers in the shape the reference's model
answers: a preamble line, then numbered `(s, p, o)` lines. A fixed share
of fact lines come out malformed (the parser must reject them) and a
fixed share get an extra hallucinated line (the subject and object
swapped), so parser rejects, linker misses and precision/recall below 1
are real. Every choice is a hash of the chunk text, so the response is
a pure function of the chunk and repeats exactly in any batch order.
"""

from __future__ import annotations

import hashlib
import re

import pandas as pd

from knowledge_graph_creation_from_text_with_llms_spark.operators.extractor import Backend

from .gen import ALL_PROPERTIES

MALFORMED_SHARE = 0.03
HALLUCINATED_SHARE = 0.03
PREAMBLE = "Here are the knowledge triples I found in the text:"
EMPTY = "No triples found."

_PHRASES = sorted(
    {f for _, *forms in ALL_PROPERTIES for f in forms}, key=len, reverse=True
)
_FACT = re.compile(
    r"^(?P<s>.+?) (?P<p>" + "|".join(map(re.escape, _PHRASES)) + r") (?P<o>.+)\.$"
)
_SENT = re.compile(r"(?<=\.) +")


def _u(text: str, i: int) -> float:
    h = hashlib.md5(f"{i}\x1f{text}".encode()).digest()
    return int.from_bytes(h[:8], "big") / 2.0**64


class StandInBackend(Backend):
    def _one(self, text: str) -> str:
        text = text or ""
        lines = [PREAMBLE]
        for sent in _SENT.split(text):
            m = _FACT.match(sent)
            if m is None:
                continue
            s, p, o = m.group("s", "p", "o")
            u = _u(text, len(lines))
            n = len(lines)
            if u < MALFORMED_SHARE:
                lines.append(f"{n}. {s} -> {p} -> {o}")
            else:
                lines.append(f"{n}. ({s}, {p}, {o})")
                if u < MALFORMED_SHARE + HALLUCINATED_SHARE:
                    lines.append(f"{n + 1}. ({o}, {p}, {s})")
        if len(lines) == 1:
            return EMPTY
        return "\n".join(lines)

    def generate(self, texts: pd.Series) -> pd.Series:
        return texts.map(self._one)
