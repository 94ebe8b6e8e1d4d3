"""Run-to-run spread of the end-to-end metrics, the way they are judged:
for each metric, the distance between the first and third quartile of
its values over seeds (``statistics.quantiles(values, n=4)``), as a share
of their median.

    python3 aegbench/spread.py --workload registry_mix --seeds 1-10 [--out FILE]

Runs ``aegbench/run.py`` once per seed, one run at a time, from the root
of the checkout, and prints one JSON object per workload. ``--results``
summarises result lines saved earlier instead of running.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def summarize(results: list[dict]) -> dict:
    out = {"runs": len(results), "all_correct": all(r["correct"] for r in results),
           "metrics": {}}
    for name in results[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in results]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        out["metrics"][name] = {
            "median": statistics.median(vals), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(vals),
            "unit": results[0]["metrics"][name]["unit"],
        }
    return out


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", action="append", default=[])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", help="default: run_seconds in BENCHMARK.json")
    ap.add_argument("--results", nargs="*", help="files whose last line is a result")
    args = ap.parse_args()
    if args.results:
        results = []
        for path in args.results:
            with open(path) as f:
                results.append(json.loads(f.read().splitlines()[-1]))
        print(json.dumps(summarize(results)))
        return 0
    if args.seconds is None:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            args.seconds = str(json.load(f)["run_seconds"])
    for wl in args.workload:
        results = []
        for seed in _seeds(args.seeds):
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                 "--seed", str(seed), "--seconds", args.seconds, "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True, check=True, timeout=600,
            )
            results.append(json.loads(proc.stdout.splitlines()[-1]))
        print(json.dumps({"workload": wl, **summarize(results)}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
