#!/usr/bin/env python3
"""Steadiness check: run one workload once per seed and report, for each
metric, the median, the quartiles and their spread as a share of the
median, plus the host calibration loop and wall time of every run.

    python3 perfbench/steady.py --workload wire_decode --seeds 1-10 --seconds 12

Runs are sequential. Results go to ``.perfbench_out/steady-<workload>-<tag>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(text: str) -> list[int]:
    a, _, b = text.partition("-")
    return list(range(int(a), int(b or a) + 1))


def summary(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values),
            "min": min(values), "max": max(values)}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="12")
    ap.add_argument("--tag", default="a")
    args = ap.parse_args()

    runs = []
    for seed in seeds(args.seeds):
        t = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", args.seconds, "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, timeout=600)
        wall = time.perf_counter() - t
        if proc.returncode != 0:
            print(proc.stderr[-3000:], file=sys.stderr)
            return 1
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        m = re.search(r'"calibrate_s": ([0-9.]+)', proc.stderr)
        runs.append({"seed": seed, "wall_s": wall, "result": result,
                     "calibrate_s": float(m.group(1)) if m else None})
        print(json.dumps({"seed": seed, "wall_s": round(wall, 1),
                          "correct": result["correct"],
                          **{k: round(v["value"], 4)
                             for k, v in result["metrics"].items()}}), flush=True)

    names = runs[0]["result"]["metrics"]
    report = {
        "workload": args.workload, "seconds": args.seconds, "runs": runs,
        "metrics": {k: summary([r["result"]["metrics"][k]["value"] for r in runs])
                    for k in names},
        "calibrate_s": summary([r["calibrate_s"] for r in runs]),
        "wall_s": summary([r["wall_s"] for r in runs]),
        "failed_share": sorted({r["result"]["failed"] / r["result"]["attempted"]
                                for r in runs}),
        "all_correct": all(r["result"]["correct"] for r in runs),
    }
    out = os.path.join(ROOT, ".perfbench_out",
                       f"steady-{args.workload}-{args.tag}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as fh:
        json.dump(report, fh, indent=1)
    for k, s in list(report["metrics"].items()) + [("calibrate_s", report["calibrate_s"]),
                                                   ("wall_s", report["wall_s"])]:
        print(f"{k:28s} median {s['median']:.5g}  q1 {s['q1']:.5g}  q3 {s['q3']:.5g}"
              f"  spread {s['spread']:.3f}")
    print("failed share", report["failed_share"], "all correct", report["all_correct"])
    return 0


if __name__ == "__main__":
    sys.exit(main())
