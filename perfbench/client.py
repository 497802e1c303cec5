"""One benchmark client process: start Spark, open the input, run the
workload's closed loop and write its metrics as JSON to ``--out``.

Started by ``run.py`` with the checkout root on ``PYTHONPATH`` (so the
Python workers can import ``m3spark`` too) and with every scratch
directory inside ``perfbench/work``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import time
from collections import defaultdict

from tracing import Tracer, tree_cpu_seconds

CORES = 4

# per-layer metrics the traced run reports as their last recorded value;
# every other one is the median of its per-op values over measured ops
LAST = {
    "session.start_s", "schema.compile_s", "schema.validate_us_per_doc",
    "columnar.compile_s", "columnar.apply_build_cold_s",
    "columnar.apply_build_warm_s", "columnar.prefilter_build_s",
    "columnar.checks", "pipeline.heavy_split", "pipeline.persisted_rdds",
    "checks.resume_skipped", "checks.checkpoint_files",
}


def benchmark_metrics(kind: str) -> dict:
    """``{name: unit}`` of the ``end_to_end`` or ``per_layer`` metrics
    that BENCHMARK.json, at the checkout root, lists."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def _median(values) -> float:
    return statistics.median(values) if values else 0.0


def layer_metrics(tr: Tracer, measured: set, op_seconds: dict,
                  start_s: float) -> dict:
    """Reduce the traced run's spans and counters to the per-layer
    metrics of BENCHMARK.json; one whose layer did not run is 0.  A span
    named ``x`` feeds metric ``x_s``: its time summed per op."""
    per_op: dict = defaultdict(lambda: defaultdict(float))
    last: dict = {"session.start_s": start_s}
    for s in tr.spans:
        per_op[s["name"] + "_s"][s["op"]] += s["end"] - s["start"]
    for c in tr.counters:
        per_op[c["name"]][c["op"]] += c["value"]
        last[c["name"]] = c["value"]
    for op in measured:
        per_op["spark.cpu_busy"][op] = (
            per_op["spark.executor_cpu_ms"].get(op, 0.0)
            / (CORES * op_seconds[op] * 1000.0))
    out = {}
    for name in benchmark_metrics("per_layer"):
        if name in LAST or name.startswith("leaf."):
            out[name] = last.get(name, 0.0)
        else:
            out[name] = _median([v for op, v in per_op[name].items()
                                 if op in measured])
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--spawned-at", type=float, required=True,
                    help="time.time() when the parent started this process")
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)

    from m3spark.session import get_spark
    from workloads import COLD, MEASURED, WORKLOADS, Recorder

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cores=CORES)
    start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    tr = Tracer(enabled=bool(args.trace))
    wl = WORKLOADS[args.workload](spark, tr, args.seed)
    wl.open()
    # set-up is reported in CPU seconds of the process tree (this
    # interpreter from its start, the JVM and its launcher): wall time
    # here swings with the CPU that other guests of the machine take
    setup_s = tree_cpu_seconds()
    setup_wall_s = time.time() - args.spawned_at
    rec = Recorder()
    wl.run(rec, args.seconds)
    if tr.enabled:
        wl.probe(rec)
    spark.stop()
    warm = [o for o in rec.ops if o["phase"] == MEASURED and o["ok"]]
    cold = [o["s"] for o in rec.ops if o["phase"] == COLD]
    cold_cpu = [o["cpu"] for o in rec.ops if o["phase"] == COLD]
    result = {
        "setup_s": setup_s,
        "attempted": len(rec.ops) + len(rec.checks),
        "failed": (sum(not o["ok"] for o in rec.ops)
                   + sum(not ok for _, ok in rec.checks)),
        "cold_op_s": cold[0] if cold else 0.0,
        "op_p50_s": _median([o["s"] for o in warm]),
        "rows_per_s": (sum(o["rows"] for o in warm)
                       / sum(o["s"] for o in warm)) if warm else 0.0,
        "cold_op_cpu_s": cold_cpu[0] if cold_cpu else 0.0,
        "op_cpu_s": _median([o["cpu"] for o in warm]),
        "op_seconds": [(o["s"], o["cpu"]) for o in rec.ops],
    }
    if tr.enabled:
        # op ids count from 1 in the order ops ran
        op_seconds = {k + 1: o["s"] for k, o in enumerate(rec.ops)}
        measured = {k + 1 for k, o in enumerate(rec.ops)
                    if o["phase"] == MEASURED and o["ok"]}
        result["layers"] = layer_metrics(tr, measured, op_seconds, start_s)
        result["layers"].update({
            "run.cold_op_s": result["cold_op_s"],
            "run.op_p50_s": result["op_p50_s"],
            "run.rows_per_s": result["rows_per_s"],
            "run.setup_wall_s": setup_wall_s,
            "trace.op_cpu_s": result["op_cpu_s"]})
        tr.write(args.out + ".trace.json")
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
