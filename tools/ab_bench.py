"""Pinned-window interleaved A/B of specific queries() entries between
the CURRENT tree and a git ref (the commit-98436cc methodology):
each side runs in a FRESH subprocess JVM, sides alternate A,B,B,A per
round so window drift cannot land on one side, 1 warmup + N timed runs
per invocation, sf0.1 input.

    python tools/ab_bench.py <ref> <query> [<query> ...]

Prints one JSON line per query: median seconds per side + ratio, and
per side the median change of the driver JVM's ``jvm_counters`` (JIT
ms, GC ms, Janino classes) over the warmup and timed runs.  Both sides
read the counters through this tree's ``m3spark/session.py``, so a ref
that predates ``jvm_counters`` is measured the same way.  Sessions use
``get_spark``'s default core count (``SPARK_GRAFT_CPUS``, else the
host's).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
TIMED = int(os.environ.get("M3SPARK_AB_TIMED", "5"))
ROUNDS = int(os.environ.get("M3SPARK_AB_ROUNDS", "2"))

_CHILD = r"""
import importlib.util, json, sys, time, statistics
tree, qname, sf, timed, counters = sys.argv[1], sys.argv[2], sys.argv[3], \
    int(sys.argv[4]), sys.argv[5]
sys.path.insert(0, tree)   # the side's OWN entry + m3spark package
import __spark_entry__ as entry
from m3spark.session import get_spark
spec = importlib.util.spec_from_file_location("ab_counters", counters)
mod = importlib.util.module_from_spec(spec)
spec.loader.exec_module(mod)
spark = get_spark("ab")
spark.sparkContext.setLogLevel("ERROR")
q = entry.queries()[qname]
before = mod.jvm_counters(spark)
q(spark, sf).count()  # warmup
secs = []
for _ in range(timed):
    t0 = time.monotonic(); q(spark, sf).count()
    secs.append(time.monotonic() - t0)
after = mod.jvm_counters(spark)
print(json.dumps({"median": statistics.median(secs),
                  "runs": [round(s, 3) for s in secs],
                  "jvm": {k: after[k] - before[k] for k in after}}))
spark.stop()
"""


def _run_side(tree: str, query: str) -> dict:
    with tempfile.NamedTemporaryFile("w", suffix=".py",
                                     delete=False) as f:
        f.write(_CHILD)
        script = f.name
    try:
        out = subprocess.run(
            [sys.executable, script, tree, query, SF, str(TIMED),
             str(ROOT / "m3spark" / "session.py")],
            capture_output=True, text=True, check=True, cwd=tree)
        line = [ln for ln in out.stdout.splitlines()
                if ln.startswith("{")][-1]
        return json.loads(line)
    finally:
        os.unlink(script)


def _median_counters(runs: list[dict]) -> dict:
    return {k: statistics.median(r["jvm"][k] for r in runs)
            for k in runs[0]["jvm"]}


def main():
    ref = sys.argv[1]
    queries = sys.argv[2:]
    wt = tempfile.mkdtemp(prefix="ab_ref_")
    # the ref's committed files, unpacked outside the repository
    archive = subprocess.run(["git", "archive", ref], cwd=ROOT,
                             check=True, capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", wt], input=archive, check=True)
    try:
        for q in queries:
            runs = {"ref": [], "cur": []}
            for r in range(ROUNDS):
                # ABBA ordering: window drift cancels across the round
                order = [("ref", wt), ("cur", str(ROOT))] if r % 2 == 0 \
                    else [("cur", str(ROOT)), ("ref", wt)]
                for side, tree in order:
                    runs[side].append(_run_side(tree, q))
            a_times = [x["median"] for x in runs["ref"]]
            b_times = [x["median"] for x in runs["cur"]]
            med_ref = statistics.median(a_times)
            med_cur = statistics.median(b_times)
            print(json.dumps({
                "query": q, "ref": ref,
                "ref_sec": round(med_ref, 3),
                "cur_sec": round(med_cur, 3),
                "ref_runs": [round(x, 3) for x in a_times],
                "cur_runs": [round(x, 3) for x in b_times],
                "cur_over_ref": round(med_cur / med_ref, 3),
                "ref_jvm": _median_counters(runs["ref"]),
                "cur_jvm": _median_counters(runs["cur"]),
            }), flush=True)
    finally:
        shutil.rmtree(wt, ignore_errors=True)


if __name__ == "__main__":
    main()
