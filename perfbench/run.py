"""Benchmark entry point.

    python3 perfbench/run.py --workload query --seed 1 --seconds 20 --trace 0

Runs one seeded workload in this process (a fresh JVM per run), checks
every output after the timed region, prints a metric table and, as the
last line, one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` the run records spans at every layer boundary and the
metrics are the per-layer ones (spans are written to
``.perfbench_spans/<workload>-<seed>.json``). ``--workload all`` runs
every workload in its own process and prints all their metrics.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

from statistics import mean  # noqa: E402

from common import ROOT, Outcome, configure_host, median, package_present  # noqa: E402

WORKLOADS = ("query", "update")
SPANS_DIR = os.path.join(ROOT, ".perfbench_spans")


class Context:
    def __init__(self, spark, tracer, seed: int, seconds: float, work: str, traced: bool):
        self.spark, self.tracer, self.seed = spark, tracer, seed
        self.seconds, self.work, self.traced = seconds, work, traced

    def setup(self, *steps) -> float:
        """Run the workload's set-up steps; returns seconds from process
        start to the end of set-up (the first timed op starts next)."""
        for step in steps:
            step()
        return time.perf_counter() - T_START


# Layers whose self time is reported as a share of op time. A span
# belongs to the layer its name starts with, except that executing a
# DataFrame the benchmark holds (``*execute`` spans) is ``spark`` time
# and a stream op's own time (all but its foreachBatch IVM fold) is
# ``streaming`` time.
LAYERS = ("sources", "indexing", "fusion", "registry", "pipelines", "sinks", "streaming",
          "ivm", "incremental", "spark")


def layer_shares(tracer, o: Outcome) -> None:
    op_ms = 0.0
    share = dict.fromkeys(LAYERS, 0.0)
    for s, ms in zip(tracer.spans, tracer.self_ms()):
        if s["name"].startswith("op."):
            op_ms += (s["end"] - s["start"]) * 1e3
            layer = "streaming" if s["name"] == "op.stream" else None
        elif s["op"] is not None:
            layer = "spark" if s["name"].endswith("execute") else s["name"].split(".")[0]
        else:
            continue
        if layer in share:
            share[layer] += ms
    for layer, ms in share.items():
        o.layers[f"{layer}.self_pct"] = (100.0 * ms / op_ms if op_ms else 0.0, "%")


def spark_layers(tracer, o: Outcome) -> None:
    """Per-op Spark engine numbers from the spans and job groups."""
    define, execute = {}, {}
    for s in tracer.spans:
        if s["op"] is None or s["end"] is None:
            continue
        ms = (s["end"] - s["start"]) * 1e3
        if s["name"].endswith("define"):
            define[s["op"]] = define.get(s["op"], 0.0) + ms
        elif s["name"].endswith("execute"):
            execute[s["op"]] = execute.get(s["op"], 0.0) + ms
    c = tracer.counters
    n_ops = max(1, sum(1 for s in tracer.spans if s["name"].startswith("op.")))
    o.layers.update({
        "spark.define_ms": (median(list(define.values())) if define else 0.0, "ms"),
        "spark.catalyst_ms": (mean(tracer.samples.get("spark.catalyst_ms", [0.0])), "ms"),
        "spark.execute_ms": (median(list(execute.values())) if execute else 0.0, "ms"),
        "spark.jobs": (c.get("spark.jobs", 0.0), "count"),
        "spark.stages": (c.get("spark.stages", 0.0), "count"),
        "spark.tasks": (c.get("spark.tasks", 0.0), "count"),
        "spark.failed_tasks": (c.get("spark.failed_tasks", 0.0), "count"),
        "spark.jobs_per_op": (c.get("spark.jobs", 0.0) / n_ops, "count"),
    })


def run_one(args) -> int:
    if not package_present():
        print(f"perfbench: the engine package is not next to {os.path.dirname(__file__)}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    extra_conf = configure_host(work)

    import query
    import update
    from common import jvm_peak_rss_mb, start_session, stop_session
    from spans import NullTracer, Tracer

    traced = bool(args.trace)
    tracer = Tracer() if traced else NullTracer()
    spark = None
    try:
        with tracer.span("session.start"):
            spark = start_session(extra_conf)
        session_ms = (time.perf_counter() - T_START) * 1e3
        if args.workload == "update":
            update.wrap_layers(tracer)
        ctx = Context(spark, tracer, args.seed, float(args.seconds), work, traced)
        o = (query.run if args.workload == "query" else update.run)(ctx)
        if traced:
            o.layers["session.start_ms"] = (session_ms, "ms")
            o.layers["session.jvm_peak_rss_mb"] = (jvm_peak_rss_mb(spark), "MB")
            o.layers["sources.load_ms"] = (tracer.median("sources.load"), "ms")
            spark_layers(tracer, o)
            layer_shares(tracer, o)
            tracer.unwrap_all()
            os.makedirs(SPANS_DIR, exist_ok=True)
            tracer.write(os.path.join(SPANS_DIR, f"{args.workload}-{args.seed}.json"))
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    report(args.workload, o, traced)
    metrics = o.layers if traced else o.e2e
    print(json.dumps({
        "correct": o.failed == 0,
        "attempted": o.attempted,
        "failed": o.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def report(workload: str, o: Outcome, traced: bool) -> None:
    print(f"workload {workload}: {o.attempted} ops attempted, {o.failed} failed")
    for p in o.problems:
        print(f"  problem: {p}")
    rows = dict(o.e2e)
    rows["failed_frac"] = (o.failed / max(1, o.attempted), "ratio")
    rows.update(o.named)
    if traced:
        rows.update(o.detail)
        rows.update(o.layers)
    for name, (value, unit) in rows.items():
        shown = "n/a (too few samples)" if value is None else f"{value:.6g}"
        print(f"  {name:40s} {shown:>22s} {unit}")


def run_all(args) -> int:
    """Every workload, each in a fresh process; prints every metric."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]))
        if proc.returncode != 0 or not lines:
            return proc.returncode or 1
        res = json.loads(lines[-1])
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        merged["metrics"].update({f"{w}.{k}": v for k, v in res["metrics"].items()})
    print(json.dumps(merged))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
