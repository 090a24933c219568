"""Run the benchmark repeatedly and report how much each metric spreads.

    python3 perfbench/steadiness.py --workloads tile_pages,query_mix \
        --seeds 1-10 --seconds 20 [--out perfbench/steadiness.json]

Runs `perfbench/run.py` once per (workload, seed), one run at a time, from
the checkout root, and prints for every end-to-end metric its median, its
quartiles (statistics.quantiles, n=4) and the quartile distance as a share
of the median, plus each run's host memset probe and wall time.
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
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.perf_counter()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace",
         str(trace)],
        cwd=os.path.dirname(HERE), capture_output=True, text=True,
        timeout=600)
    wall = time.perf_counter() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{workload} seed {seed} exit {p.returncode}: "
                           f"{p.stderr[-2000:]}")
    return {"seed": seed, "wall_s": wall,
            "details": json.loads(lines[-2])["details"],
            "result": json.loads(lines[-1])}


def summarize(runs: list[dict]) -> dict:
    out = {}
    for name in runs[0]["result"]["metrics"]:
        vals = [r["result"]["metrics"][name]["value"] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        out[name] = {"median": med, "q1": q1, "q3": q3,
                     "spread": (q3 - q1) / med if med else float("nan")}
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    args = ap.parse_args()
    report = {}
    for wl in args.workloads.split(","):
        runs = []
        for seed in seeds(args.seeds):
            r = run_once(wl, seed, args.seconds, args.trace)
            d = r["details"]
            print(f"{wl} seed {seed}: {r['wall_s']:.1f}s wall, "
                  f"correct={r['result']['correct']} "
                  f"memset={d['host_memset_gbps']:.2f} GB/s "
                  f"ops={d['ops']} " + " ".join(
                      f"{k}={v['value']:.4g}"
                      for k, v in r["result"]["metrics"].items()),
                  flush=True)
            runs.append(r)
        summary = summarize(runs)
        for name, s in summary.items():
            print(f"  {wl} {name}: median {s['median']:.4g} "
                  f"q1 {s['q1']:.4g} q3 {s['q3']:.4g} "
                  f"spread {s['spread']:.3f}", flush=True)
        report[wl] = {"runs": [{"seed": r["seed"], "wall_s": r["wall_s"],
                                "memset_gbps": r["details"][
                                    "host_memset_gbps"],
                                "op_walls": r["details"]["op_walls"],
                                "correct": r["result"]["correct"],
                                "metrics": {k: v["value"] for k, v in
                                            r["result"]["metrics"].items()}}
                               for r in runs],
                      "summary": summary}
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"seconds": args.seconds, "trace": args.trace,
                       "workloads": report}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
