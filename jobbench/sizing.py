"""Sizing record: how much of a warm job is per-row work.

    python3 jobbench/sizing.py --seed 1

For each workload, runs one untraced launch on a tiny input (TINY_ROWS rows,
same workspace) and one on the workload's own input, and prints one JSON
line per workload: the fixed per-job cost (median steady warm job time on
the tiny input), the warm job time at the workload's size, and the share of
that warm job that is per-row work, (warm - fixed) / warm. The numbers in
jobbench/README.md come from this script.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

from run import MIN_WARM, launch, prepare, run_reaped, steady  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

TINY_ROWS = 1_000


def warm_median(workload, seed: int, nproc: int, seconds: float) -> float:
    data, gpath, pyfiles = prepare(workload, seed, nproc)
    res = launch(workload.name, data, gpath, pyfiles, 0, seconds, MIN_WARM, time.monotonic() + 170)
    if not all(j.get("ok") for j in res["jobs"]):
        raise SystemExit(f"{workload.name}: a job failed or differs from the golden result")
    return statistics.median(j["wall_s"] for j in steady(res["jobs"]))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    args = ap.parse_args()
    nproc = len(os.sched_getaffinity(0))
    for w in WORKLOADS.values():
        fixed = warm_median(dataclasses.replace(w, n_rows=TINY_ROWS), args.seed, nproc, args.seconds)
        warm = warm_median(w, args.seed, nproc, args.seconds)
        print(
            json.dumps(
                {
                    "workload": w.name,
                    "n_rows": w.n_rows,
                    "fixed_s": fixed,
                    "warm_s": warm,
                    "per_row_share": (warm - fixed) / warm,
                    "per_row_us": 1e6 * (warm - fixed) / w.n_rows,
                }
            ),
            flush=True,
        )


if __name__ == "__main__":
    run_reaped(main)
