"""Repeat the benchmark over seeds and summarize its spread.

    python3 perfbench/reference.py --workload tenant_serve --seeds 1-10 --seconds 8

Runs ``run.py`` once per seed, one run at a time, and reads the host
canary of ``bench.py`` (``_calibrate``, a fixed single-threaded numpy
computation) before each run, so a slow host shows beside the figures
it slowed. Prints one line per run, then per metric the median and the distance
between the first and third quartiles as a share of the median (the
spread the metric's bound in BENCHMARK.json is compared with).
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
sys.path.insert(0, os.path.dirname(HERE))

from bench import _calibrate as canary  # noqa: E402


def seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="'1-10' or '3,5,8'")
    ap.add_argument("--seconds", default="8")
    ap.add_argument("--trace", default="0")
    a = ap.parse_args()

    values: dict[str, list[float]] = {}
    shares = set()
    for seed in seeds(a.seeds):
        c = canary()
        t = time.perf_counter()
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", a.seconds, "--trace", a.trace],
            capture_output=True, text=True, check=False,
        )
        wall = time.perf_counter() - t
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-3000:]}")
            return 1
        out = json.loads(lines[-1])
        shares.add((out["failed"], out["attempted"]))
        m = {k: v["value"] for k, v in out["metrics"].items()}
        for k, v in m.items():
            values.setdefault(k, []).append(v)
        print(f"seed {seed} canary {c:.3f}s wall {wall:.1f}s correct {out['correct']} "
              f"attempted {out['attempted']} failed {out['failed']} "
              + " ".join(f"{k}={v:.4g}" for k, v in m.items()), flush=True)
    for k, v in values.items():
        med = statistics.median(v)
        q = statistics.quantiles(v, n=4) if len(v) > 1 else [med, med, med]
        print(f"{k}: median {med:.4g} spread {(q[2] - q[0]) / med:.3f} "
              f"min {min(v):.4g} max {max(v):.4g}")
    print("failed/attempted:", sorted(shares))
    return 0


if __name__ == "__main__":
    sys.exit(main())
