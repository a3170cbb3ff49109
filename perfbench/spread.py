#!/usr/bin/env python3
"""Re-measure run-to-run spread: run the benchmark once per seed and print,
per end-to-end metric, the median and the quartile spread
(Q3 - Q1) / median as ``statistics.quantiles(values, n=4)`` gives them,
next to the metric's bound in BENCHMARK.json.

    python3 perfbench/spread.py --workload corpus_dedup --seeds 1-10

Run from the root of a checkout.  Each run's JSON line is appended to
``--out`` (default ``.perfbench/spread-<workload>.jsonl``).  The header
records the core count and a one-second sha256 calibration count, so
numbers from different machines can be put side by side.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def calibration() -> dict:
    """Cores and sha256 chain steps per second (single thread)."""
    t0, h, n = time.monotonic(), 0, 0
    while time.monotonic() - t0 < 1.0:
        h = int.from_bytes(hashlib.sha256(h.to_bytes(32, "little")).digest(), "little")
        n += 1
    return {"cpus": len(os.sched_getaffinity(0)), "calib_sha256_per_sec": n}


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def spread(values: list[float]) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--out")
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    out = args.out or os.path.join(ROOT, ".perfbench", f"spread-{args.workload}.jsonl")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    print(json.dumps(calibration()))
    runs = []
    for s in seeds(args.seeds):
        t = time.monotonic()
        cmd = bench["command"] + ["--workload", args.workload, "--seed", str(s),
                                  "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                              text=True)
        lines = proc.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
        wall = time.monotonic() - t
        with open(out, "a") as f:
            f.write(json.dumps({"seed": s, "wall_s": wall, "exit": proc.returncode, "result": res}) + "\n")
        if res is None:
            print(f"seed {s}: exit {proc.returncode}, no result", file=sys.stderr)
            continue
        runs.append(res)
        print(f"seed {s}: {wall:.1f} s, correct={res['correct']} "
              f"failed={res['failed']}/{res['attempted']}", flush=True)
    if len(runs) < 2:
        return 1
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        bound = bounds.get(name)
        line = f"{name:28s} median {statistics.median(vals):12.4f}  spread {spread(vals):.3f}"
        print(line + (f"  bound {bound}" if bound is not None else ""))
    return 0


if __name__ == "__main__":
    sys.exit(main())
