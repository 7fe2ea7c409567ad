#!/usr/bin/env python3
"""Repeat the benchmark over seeds and summarise each metric.

    python3 perfbench/repeat.py --seeds 1-10 --out perfbench/results/baseline.json

For every workload of BENCHMARK.json it runs ``run.py`` once per seed with
tracing off, then once traced (first seed), and reports for each end-to-end metric the median,
quartiles (``statistics.quantiles(n=4)``), run count and the quartile spread
as a share of the median, next to the metric's bound from BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path.cwd()


def seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def one(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, float]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.monotonic()
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    wall = time.monotonic() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or not lines[-1].startswith("{"):
        print(p.stdout[-2000:], p.stderr[-4000:], sep="\n", file=sys.stderr)
        raise SystemExit(f"{workload} seed {seed} trace {trace}: exit {p.returncode}")
    return json.loads(lines[-1]), wall


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out", default=None, help="write the summary JSON here")
    args = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    wls = [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    summary = {}
    for wl in wls:
        runs, walls = [], []
        for s in seeds(args.seeds):
            res, wall = one(wl, s, bench["run_seconds"], 0)
            runs.append(res)
            walls.append(wall)
            print(f"{wl} seed={s} wall={wall:.1f}s "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        rows = {}
        for name, bound in bounds.items():
            xs = [r["metrics"][name]["value"] for r in runs]
            q1, med, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0],) * 3
            med = statistics.median(xs)
            rows[name] = {"median": med, "q1": q1, "q3": q3, "n": len(xs),
                          "spread": (q3 - q1) / med, "bound": bound,
                          "unit": runs[0]["metrics"][name]["unit"]}
            print(f"  {wl} {name}: median={med:.4g} q1={q1:.4g} q3={q3:.4g} n={len(xs)} "
                  f"spread={(q3 - q1) / med:.3f} (bound {bound})", flush=True)
        summary[wl] = {"end_to_end": rows, "run_wall_s": walls}
        res, wall = one(wl, seeds(args.seeds)[0], bench["run_seconds"], 1)
        summary[wl]["traced"] = {k: v["value"] for k, v in res["metrics"].items()}
        summary[wl]["traced_wall_s"] = wall
    if args.out:
        Path(args.out).parent.mkdir(parents=True, exist_ok=True)
        Path(args.out).write_text(json.dumps(summary, indent=1) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
