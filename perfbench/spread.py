"""Run-to-run spread of the benchmark: runs run.py once per seed, one
workload at a time, and prints for every end-to-end metric the median and
the interquartile range as a share of the median (the figure each
metric's bound in BENCHMARK.json is checked against).

    python3 perfbench/spread.py --workloads near_dup bfs_crawl --seeds 1 2 3 4 5
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


def spread(values: list[float]) -> tuple[float, float]:
    """(median, (Q3 - Q1) / median) with Python's default quartiles."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q2, (q3 - q1) / q2


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", nargs="+", type=int, required=True)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    root = os.path.dirname(HERE)
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    for wl in args.workloads:
        rows, walls = [], []
        for seed in args.seeds:
            t = time.monotonic()
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                 "--seed", str(seed), "--seconds", str(seconds), "--trace", str(args.trace)],
                cwd=root, capture_output=True, text=True, timeout=600,
            )
            walls.append(time.monotonic() - t)
            if out.returncode != 0:
                print(json.dumps({"workload": wl, "seed": seed, "exit": out.returncode,
                                  "stderr": out.stderr[-2000:]}))
                continue
            lines = [json.loads(x) for x in out.stdout.strip().splitlines()]
            res = lines[-1]
            rows.append(res)
            host = next(x["host"] for x in lines if "host" in x)
            print(json.dumps({"workload": wl, "seed": seed, "wall_s": round(walls[-1], 1),
                              "calib_wall_s": round(host["calib_wall_s"], 3),
                              "correct": res["correct"], "failed": res["failed"],
                              "metrics": {k: v["value"] for k, v in res["metrics"].items()}}),
                  flush=True)
        summary = {"workload": wl, "runs": len(rows), "run_wall_s_mean": statistics.mean(walls)}
        if len(rows) >= 2:
            for name in rows[0]["metrics"]:
                med, sp = spread([r["metrics"][name]["value"] for r in rows])
                summary[name] = {"median": med, "spread": round(sp, 4), "bound": bounds.get(name)}
        print(json.dumps(summary), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
