"""Self-tests of the benchmark harness.

    python3 -m pytest kgbench/test_kgbench.py -q            # all
    python3 -m pytest kgbench/test_kgbench.py -q -k "not run"  # no Spark

The `run` tests start the benchmark as a subprocess, once untraced and
once traced per workload, so they take a few minutes each.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from kgbench import gen, run  # noqa: E402
from kgbench.backend import StandInBackend  # noqa: E402
from kgbench.trace import parse_metric  # noqa: E402


def _kg_bytes(seed: int) -> str:
    inp = gen.make_kg_inputs(seed, 12, 30, 0.2)
    return gen.digest(
        [(p.path, p.content) for p in inp.pages + inp.delta_new + inp.delta_changed]
        + inp.world.entity_rows()
    )


def test_generator_is_deterministic_per_seed():
    gen.check_vocabulary()
    assert _kg_bytes(3) == _kg_bytes(3)
    assert _kg_bytes(3) != _kg_bytes(4)
    prep = lambda s: gen.digest((d.doc_id, d.text) for d in gen.make_prep_corpus(s, 60))
    assert prep(3) == prep(3)
    assert prep(3) != prep(4)


def test_deltas_change_existing_pages_and_add_new_ones():
    inp = gen.make_kg_inputs(5, 40, 60, 0.1)
    paths = {p.path for p in inp.pages}
    assert all(p.path in paths for p in inp.delta_changed)
    assert not any(p.path in paths for p in inp.delta_new)
    assert len(gen.live_pages(inp)) == len(inp.pages) + len(inp.delta_new)
    old = {p.path: p.content for p in inp.pages}
    assert all(old[p.path] != p.content for p in inp.delta_changed)


def test_backend_is_a_function_of_the_chunk_text():
    import pandas as pd

    texts = [p.content for p in gen.make_kg_inputs(6, 30, 50, 0.1).pages]
    b = StandInBackend()
    fwd = b.generate(pd.Series(texts)).tolist()
    rev = b.generate(pd.Series(texts[::-1])).tolist()[::-1]
    assert fwd == rev
    lines = [ln for r in fwd for ln in r.split("\n")[1:]]
    malformed = sum("->" in ln for ln in lines) / len(lines)
    assert 0.005 < malformed < 0.08


def test_parse_metric_formats():
    assert parse_metric("100,000") == 100000
    assert parse_metric("total (min, med, max (stageId: taskId))\n1.5 KiB (x)") == 1536
    assert parse_metric("total (min, med, max (stageId: taskId))\n11.2 s (2.7 s)") == 11.2
    assert parse_metric("67 ms") == pytest.approx(0.067)


_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
_UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_every_metric_has_a_unit_and_matches_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == run.END_TO_END
    assert layers == run.PER_LAYER
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS)
    for name, unit in list(e2e.items()) + list(layers.items()) + list(run.QUALITY.items()):
        assert _NAME.match(name), name
        assert _UNIT.match(unit), (name, unit)
    assert e2e["setup_s"] == "s"
    assert max(m["bound"] for m in bench["end_to_end"]) == next(
        m["bound"] for m in bench["end_to_end"] if m["name"] == "setup_s"
    )


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    p = subprocess.run(
        [sys.executable, "kgbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    detail = json.loads(lines[-2].split(" ", 1)[1])
    return detail, json.loads(lines[-1])


# layer figures that must be non-zero when the workload runs that layer
_ACTIVE = {
    "kg_build": ("stage.nodes.s", "python.raw_responses.rows", "parser.reject_ratio",
                 "linker.link_ratio", "catalog.commits"),
    "kg_incremental": ("incremental.new.s", "incremental.changed.s", "stage.edges.s",
                       "catalog.snapshots_read"),
    "kg_eval": ("metrics.strict.s", "metrics.rouge.jobs", "python.rouge.rows",
                "metrics.bertscore.task_s"),
    "corpus_prep": ("corpus_prep.jobs", "dedup.minhash_lsh.s", "dedup.components.s",
                    "dedup.candidate_pairs"),
}


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_run_traced_matches_untraced_and_reports_every_layer(workload):
    plain_detail, plain = _run(workload, 0)
    traced_detail, traced = _run(workload, 1)
    for res in (plain, traced):
        assert set(res) == {"correct", "attempted", "failed", "metrics"}
        assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 2
    assert set(plain["metrics"]) == set(run.END_TO_END)
    assert all(v["value"] > 0 for v in plain["metrics"].values())
    assert plain_detail["output_digest"] == traced_detail["output_digest"]
    assert set(traced["metrics"]) == set(run.PER_LAYER)
    for k, v in traced["metrics"].items():
        assert v["unit"] == run.PER_LAYER[k]
        assert isinstance(v["value"], (int, float))
    for k in _ACTIVE[workload]:
        assert traced["metrics"][k]["value"] > 0, k
