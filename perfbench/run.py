"""m3spark benchmark: one closed-loop client on local[4] per run.

    python3 perfbench/run.py --workload resumable_job --seed 1 \
        --seconds 12 --trace 0

Run from the root of a checkout.  Generates the workload's inputs from
``--seed`` (cached under ``perfbench/work``), starts Spark in fresh client
processes, measures warm operations for ``--seconds``, checks every
output, and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics of a separately traced run.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import time

from client import benchmark_metrics
from tracing import MemorySampler

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
WORKLOADS = ("resumable_job", "json_interp")
CHILD_TIMEOUT_S = 140


def _env() -> dict:
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update({
        # the Python workers import m3spark from the checkout
        "PYTHONPATH": os.pathsep.join(
            [ROOT, HERE] + [p for p in [env.get("PYTHONPATH")] if p]),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "SPARK_DRIVER_MEMORY": "2g",
        "TMPDIR": tmp,
        # no hsperfdata file under /tmp: the run writes only in the checkout
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    return env


def _stop_group(proc: subprocess.Popen):
    """Wait until every process of the client's session (its JVM and
    Python workers) has ended; terminate what is left after 20 s."""
    deadline = time.monotonic() + 20
    sig = None
    while True:
        try:
            os.killpg(proc.pid, sig or 0)
        except ProcessLookupError:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL if sig == signal.SIGTERM else signal.SIGTERM
            deadline = time.monotonic() + 5
        time.sleep(0.1)


def client(args, out: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "client.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--out", out, "--spawned-at", repr(time.time())]
    run_dir = os.path.join(WORK, "cwd")
    os.makedirs(run_dir, exist_ok=True)
    if os.path.exists(out):
        os.remove(out)
    proc = subprocess.Popen(cmd, cwd=run_dir, env=_env(),
                            stdout=sys.stderr, start_new_session=True)
    try:
        with MemorySampler(proc.pid) as mem:
            code = proc.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
    finally:
        _stop_group(proc)
        proc.wait()
    if code != 0 or not os.path.exists(out):
        raise RuntimeError(f"client exited with {code}")
    with open(out) as f:
        res = json.load(f)
    res["peak_rss_mb"] = mem.peak_kib / 1024.0
    return res


def _preflight():
    """Fail fast, before any Spark start, when the program or its
    toolchain is not there."""
    for pkg in ("m3spark", os.path.join("m3spark", "pipeline.py"),
                os.path.join("m3spark", "sparkval.py")):
        if not os.path.exists(os.path.join(ROOT, pkg)):
            raise SystemExit(f"perfbench: {pkg} not found under {ROOT}")
    import duckdb  # noqa: F401
    import pyspark  # noqa: F401


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    _preflight()
    os.makedirs(WORK, exist_ok=True)

    # generate (or reuse) the inputs before any timed client starts
    import workloads
    workloads.prepare(args.workload, args.seed)

    out = os.path.join(WORK, f"result-{os.getpid()}.json")
    res = client(args, out)
    os.remove(out)
    if args.trace:
        trace_file = out + ".trace.json"
        os.replace(trace_file, os.path.join(
            WORK, f"trace-{args.workload}-{args.seed}.json"))
    kind, values = (("per_layer", res["layers"]) if args.trace
                    else ("end_to_end", res))
    metrics = {name: {"value": values[name], "unit": unit}
               for name, unit in benchmark_metrics(kind).items()}
    ops = [(round(s, 2), round(c, 2)) for s, c in res["op_seconds"]]
    print(f"perfbench: {args.workload} seed {args.seed}: op seconds "
          f"(wall, cpu) {ops}", file=sys.stderr)
    print(json.dumps({"correct": res["failed"] == 0,
                      "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
