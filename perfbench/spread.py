"""Run-to-run spread of the benchmark: runs one workload once per seed and
reports, per metric, the median and the distance between the first and
third quartile as a share of the median.

    python3 perfbench/spread.py --workload resumable_job --seeds 1-10

Each run's full JSON line is appended to ``perfbench/work/spread.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="12")
    ap.add_argument("--trace", default="0")
    args = ap.parse_args(argv)
    values: dict = {}
    failures = 0
    for seed in seeds(args.seeds):
        t0 = time.monotonic()
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"),
             "--workload", args.workload, "--seed", str(seed),
             "--seconds", args.seconds, "--trace", args.trace],
            capture_output=True, text=True)
        wall = time.monotonic() - t0
        if out.returncode != 0:
            print(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
            failures += 1
            continue
        line = json.loads(out.stdout.strip().splitlines()[-1])
        failures += line["failed"] > 0
        ops = [x for x in out.stderr.splitlines() if "op seconds" in x]
        with open(os.path.join(HERE, "work", "spread.jsonl"), "a") as f:
            f.write(json.dumps({"workload": args.workload, "seed": seed,
                                "wall_s": wall, "ops": ops[-1:], **line})
                    + "\n")
        for name, m in line["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: {wall:.0f} s wall, failed {line['failed']}/"
              f"{line['attempted']}, " + ", ".join(
                  f"{k}={m['value']:.4g}" for k, m in line["metrics"].items()),
              flush=True)
    for name, vals in values.items():
        if len(vals) >= 2:
            q1, med, q3 = statistics.quantiles(vals, n=4)
            print(f"{name:32s} median {med:12.5g}  iqr/median "
                  f"{(q3 - q1) / med if med else 0.0:.3f}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
