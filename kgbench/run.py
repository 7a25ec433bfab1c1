"""Run one workload of the KG benchmark.

    python3 kgbench/run.py --workload kg_build --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. Inputs come from the seed; the program
(the `knowledge_graph_creation_from_text_with_llms_spark` package, used
through its public API only) sees only the generated tables. One
closed-loop client: each operation starts when the previous one ends,
on `local[<cores>]`, in this one process.

A run: start the Spark session, stage the inputs (repeated, median
reported), time one cold operation, run one untimed warm-up operation,
time warm operations for `--seconds` (at least one), then check the
outputs. The last stdout line is one JSON object `{"correct",
"attempted", "failed", "metrics"}`: with `--trace 0` the end-to-end
metrics, with `--trace 1` the per-layer ones from traced operations
(interleaved with untraced ones, which give the trace overhead). The line before it reports every figure by name and unit,
including the output-quality ones. Exit code 0 only when every
operation and every check passed. All files go under `.kgbench_work/`
(removed at exit) and `.kgbench_out/` (span dumps) in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "knowledge_graph_creation_from_text_with_llms_spark"
WORKLOADS = ("kg_build", "kg_incremental", "kg_eval", "corpus_prep")

END_TO_END = {
    "setup_s": "s",
    "cold_op_s": "s",
    "op_s": "s",
    "peak_rss_mb": "MB",
}
# reported on the line before the result, where they apply
QUALITY = {
    "fail_ratio": "1",
    "triple_precision": "1",
    "triple_recall": "1",
    "linked_precision": "1",
    "linked_recall": "1",
    "dedup_recall": "1",
    "false_drop_ratio": "1",
}

KG_STAGES = ("source", "chunks", "raw_responses", "triples_raw", "triples_linked",
             "nodes", "edges", "adjacency")
STAGE_FIELDS = {"s": "s", "task_s": "s", "cpu_s": "s", "shuffle_bytes": "B",
                "spill_bytes": "B", "driver_gap_s": "s"}
PY_FIELDS = {"rows": "count", "bytes_sent": "B", "bytes_received": "B", "worker_s": "s"}
METRIC_FIELDS = {"s": "s", "task_s": "s", "shuffle_bytes": "B", "jobs": "count"}


def _per_layer() -> dict[str, str]:
    out = {"session.start_s": "s", "session.worker_boot_s": "s"}
    for st in KG_STAGES:
        out.update({f"stage.{st}.{f}": u for f, u in STAGE_FIELDS.items()})
    for py in ("chunks", "raw_responses", "rouge"):
        out.update({f"python.{py}.{f}": u for f, u in PY_FIELDS.items()})
    out.update({"parser.reject_ratio": "1", "linker.link_ratio": "1"})
    out.update({"catalog.commits": "count", "catalog.commit_s": "s",
                "catalog.bytes_written": "B", "catalog.write_amp": "1",
                "catalog.snapshots_read": "count", "catalog.read_s": "s"})
    out.update({"incremental.new.s": "s", "incremental.changed.s": "s"})
    for m in ("strict", "component", "relaxed", "rouge", "bertscore"):
        out.update({f"metrics.{m}.{f}": u for f, u in METRIC_FIELDS.items()})
    out.update({"corpus_prep.jobs": "count", "corpus_prep.input_scans": "count",
                "corpus_prep.task_s": "s"})
    for d in ("minhash_lsh", "components"):
        out.update({f"dedup.{d}.s": "s", f"dedup.{d}.shuffle_bytes": "B"})
    out["dedup.candidate_pairs"] = "count"
    out["trace.overhead_frac"] = "1"
    return out


PER_LAYER = _per_layer()


def op_layers(tracer, op: int, input_bytes: int) -> dict[str, float]:
    """Per-layer figures of one traced operation, from its spans."""
    out: dict[str, float] = {}

    def add(k, v):
        out[k] = out.get(k, 0.0) + v

    for s in (s for s in tracer.spans if s["op"] == op):
        name, wall = s["name"], s["end"] - s["start"]
        if name.startswith("stage."):
            for f in ("task_s", "cpu_s", "shuffle_bytes", "spill_bytes"):
                add(f"{name}.{f}", s[f])
            add(f"{name}.s", wall)
            add(f"{name}.driver_gap_s", max(0.0, wall - s["stage_busy_s"]))
            add("catalog.commits", 1)
            add("catalog.commit_s", wall)
            add("catalog.bytes_written", s["bytes_written"])
        elif name.startswith("metrics."):
            add(f"{name}.s", wall)
            for f in ("task_s", "shuffle_bytes", "jobs"):
                add(f"{name}.{f}", s[f])
        elif name == "catalog.read":
            add("catalog.read_s", wall)
        elif name.startswith(("incremental.", "dedup.")):
            add(f"{name}.s", wall)
            add(f"{name}.shuffle_bytes", s["shuffle_bytes"])
        py = {"stage.chunks": "chunks", "stage.raw_responses": "raw_responses",
              "metrics.rouge": "rouge"}.get(name)
        if py:
            for f in PY_FIELDS:
                add(f"python.{py}.{f}", s["python"].get(f, 0.0))
        if name == "corpus_prep" or s.get("parent_name") == "corpus_prep":
            add("corpus_prep.jobs", s["jobs"])
            add("corpus_prep.input_scans", s["scans"])
            add("corpus_prep.task_s", s["task_s"])
    for (o, name), v in tracer.counters.items():
        if o == op:
            add(name, v)
    if "catalog.bytes_written" in out:
        out["catalog.write_amp"] = out["catalog.bytes_written"] / input_bytes
    return out


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def peak_rss_mb(jvm_pid: int) -> float:
    """Sum of peak resident set (VmHWM) of the JVM and every process
    under it (the Python daemon and its workers)."""
    total = 0
    for p in _descendants(jvm_pid):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total / 1024.0


def _stop(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def run(args, work: str) -> tuple[dict, int]:
    from knowledge_graph_creation_from_text_with_llms_spark import get_spark

    cpus = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    spark = get_spark(
        "kgbench",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.memory": "3g",
            # no progress-bar thread redrawing stderr while ops are timed
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    ready_s = time.perf_counter() - T_START
    try:
        return _measure(args, spark, work, cpus, session_s, ready_s)
    finally:
        _stop(spark)


def _measure(args, spark, work, cpus, session_s, ready_s):
    from kgbench import workloads
    from kgbench.trace import Tracer

    trace = bool(args.trace)
    tracer = Tracer(spark) if trace else None
    ctx = workloads.Ctx(spark, work, args.seed, cpus, tracer)
    w = workloads.WORKLOADS[args.workload](ctx)
    reps = []
    for rep in range(workloads.SETUP_REPEATS):
        t = time.perf_counter()
        w.setup(rep)
        reps.append(time.perf_counter() - t)
    once = 0.0
    if hasattr(w, "setup_once"):
        t = time.perf_counter()
        w.setup_once()
        once = time.perf_counter() - t
    setup_s = ready_s + statistics.median(reps) + once

    attempted = failed = 0
    times: dict[bool, list[float]] = {False: [], True: []}
    cold = warmup = None
    deadline = None
    i = 0
    while True:
        # op 0 is the cold op; op 1 is an untimed warm-up, since the
        # second op of a session still runs ~10% slow and would bias the
        # median by how many ops fit in the window. Trace runs trace the
        # cold op (worker boot shows there), then time ops untraced,
        # traced, traced, untraced, ... so that a drift biases neither
        # side of the overhead figure
        traced = trace and (i == 0 or (i > 1 and (i - 2) % 4 in (1, 2)))
        if hasattr(w, "prepare"):
            w.prepare(i)
        if tracer:
            tracer.op = i
        attempted += 1
        t = time.perf_counter()
        try:
            w.op(i, traced)
        except Exception:
            failed += 1
            traceback.print_exc()
        dt = time.perf_counter() - t
        if traced:
            tracer.collect()
            if hasattr(w, "after_op"):
                w.after_op(tracer)
        if i == 0:
            cold = dt
        elif i == 1:
            warmup = dt
            deadline = time.perf_counter() + args.seconds
        else:
            times[traced].append(dt)
        i += 1
        # at least one timed op (two of each kind when tracing), even
        # when a single op outlasts the window
        enough = min(len(times[False]), len(times[True])) >= 2 if trace else times[False]
        if enough and time.perf_counter() >= deadline:
            break
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    rss = peak_rss_mb(jvm_pid)

    correct = failed == 0
    quality: dict[str, float] = {}
    try:
        quality = w.check()
    except Exception:
        correct = False
        traceback.print_exc()

    op_s = statistics.median(times[False])
    report = {
        "setup_s": setup_s, "cold_op_s": cold, "op_s": op_s, "peak_rss_mb": rss,
        "fail_ratio": failed / attempted, **quality,
    }
    units = {**END_TO_END, **QUALITY}
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": int(trace),
        "warmup_op_s": warmup, "warm_ops_s": times[False], "traced_ops_s": times[True],
        "setup_repeats_s": reps, "setup_once_s": once, "session_s": session_s,
        "output_digest": getattr(w, "output_digest", None),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in report.items()},
    }
    if trace:
        layers = _layers(tracer, w, times, session_s)
        out_dir = os.path.join(ROOT, ".kgbench_out")
        tracer.write(os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json"))
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": report[k], "unit": u} for k, u in END_TO_END.items()}
    print("kgbench " + json.dumps(detail), flush=True)
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": metrics}, 0 if correct else 1


def _layers(tracer, w, times, session_s) -> dict[str, float]:
    for s in tracer.spans:
        parent = next((p for p in tracer.spans if p["id"] == s["parent"]), None)
        s["parent_name"] = parent["name"] if parent else None
    traced_ops = sorted(({s["op"] for s in tracer.spans} | {o for o, _ in tracer.counters}) - {0})
    per_op = [op_layers(tracer, op, w.input_bytes) for op in traced_ops]
    keys = {k for d in per_op for k in d}
    out = {k: statistics.median(d.get(k, 0.0) for d in per_op) for k in keys}
    out["session.start_s"] = session_s
    out["session.worker_boot_s"] = sum(
        s["python"].get("boot_s", 0.0) for s in tracer.spans if s["op"] == 0 and "python" in s
    )
    out.update(getattr(w, "layer_extra", {}))
    out["trace.overhead_frac"] = (
        statistics.median(times[True]) / statistics.median(times[False]) - 1.0
    )
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"kgbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".kgbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # Python workers import this package and the stand-in backend, and
    # every temp file stays inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM (the spark-submit launcher too): temp files in the
    # checkout, no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path.insert(0, ROOT)
    try:
        result, code = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
