"""Pinned-window interleaved A/B of specific queries() entries between
the CURRENT tree and a git ref (the commit-98436cc methodology):
each side runs in a FRESH subprocess JVM, sides alternate A,B,B,A per
round so window drift cannot land on one side, 1 warmup + N timed runs
per invocation, sf0.1 input.  ``M3SPARK_AB_ROUNDS`` rounds (default 6:
with 2, one tree's runs of a query spread wider than a 10% change, and
a "within the parent's run spread" verdict flipped between runs) of
``M3SPARK_AB_TIMED`` timed runs (default 5).

    python tools/ab_bench.py <ref> <query> [<query> ...]

Prints one JSON line per query: median seconds per side + ratio, and
per side the median change of the driver JVM's ``jvm_counters`` (JIT
ms, GC ms, Janino classes) and of the Python workers' CPU seconds
(:func:`python_worker_cpu_s`) over the warmup and timed runs.  Both
sides read the counters through this tree's ``m3spark/session.py`` and
this file, so a ref that predates ``jvm_counters`` is measured the same
way.  Sessions use
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
ROUNDS = int(os.environ.get("M3SPARK_AB_ROUNDS", "6"))

_CHILD = r"""
import importlib.util, json, sys, time, statistics
tree, qname, sf, timed = sys.argv[1], sys.argv[2], sys.argv[3], \
    int(sys.argv[4])
sys.path.insert(0, tree)   # the side's OWN entry + m3spark package
import __spark_entry__ as entry
from m3spark.session import get_spark

def load(name, path):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod

mod, ab = load("ab_counters", sys.argv[5]), load("ab_bench", sys.argv[6])
spark = get_spark("ab")
spark.sparkContext.setLogLevel("ERROR")
jvm_pid = spark.sparkContext._gateway.proc.pid
q = entry.queries()[qname]
before = mod.jvm_counters(spark)
py_before = ab.python_worker_cpu_s(jvm_pid)
q(spark, sf).count()  # warmup
secs = []
for _ in range(timed):
    t0 = time.monotonic(); q(spark, sf).count()
    secs.append(time.monotonic() - t0)
after = mod.jvm_counters(spark)
print(json.dumps({"median": statistics.median(secs),
                  "runs": [round(s, 3) for s in secs],
                  "jvm": {k: after[k] - before[k] for k in after},
                  "py_cpu_s": ab.python_worker_cpu_s(jvm_pid) - py_before}))
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
             str(ROOT / "m3spark" / "session.py"), __file__],
            capture_output=True, text=True, check=True, cwd=tree)
        line = [ln for ln in out.stdout.splitlines()
                if ln.startswith("{")][-1]
        return json.loads(line)
    finally:
        os.unlink(script)


def python_worker_cpu_s(jvm_pid: int) -> float:
    """CPU seconds (user + system) of every descendant of the JVM
    ``jvm_pid``, with their reaped children's, from ``/proc``.  In
    ``local[...]`` mode those are the Python worker daemon and the
    workers it forks, whose CPU neither ``jvm_counters`` nor Spark's
    executor CPU metric includes."""
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # exited since listdir
            continue
        # fields after the parenthesised command name, from field 3 on
        rest = stat[stat.rindex(")") + 2:].split()
        pid = int(entry)
        children.setdefault(int(rest[1]), []).append(pid)
        # utime, stime, cutime, cstime: fields 14-17
        ticks[pid] = sum(int(x) for x in rest[11:15])
    total, todo = 0, list(children.get(jvm_pid, ()))
    while todo:
        pid = todo.pop()
        total += ticks[pid]
        todo += children.get(pid, ())
    return total / os.sysconf("SC_CLK_TCK")


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
                "ref_py_cpu_s": round(statistics.median(
                    x["py_cpu_s"] for x in runs["ref"]), 3),
                "cur_py_cpu_s": round(statistics.median(
                    x["py_cpu_s"] for x in runs["cur"]), 3),
            }), flush=True)
    finally:
        shutil.rmtree(wt, ignore_errors=True)


if __name__ == "__main__":
    main()
