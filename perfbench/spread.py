"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload graph_corpus --seeds 1-10 [--out runs.jsonl]

Runs the benchmark once per seed, one run at a time, for
``run_seconds`` from ``BENCHMARK.json``, and prints for each
metric the median and the interquartile range as a share of the median
(``statistics.quantiles(values, n=4)``), next to the metric's bound from
``BENCHMARK.json``.
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
ROOT = os.path.dirname(HERE)


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    values: dict[str, list[float]] = {}
    for seed in _seeds(args.seeds):
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"),
             "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(seconds), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, check=True,
        )
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        run_s = time.perf_counter() - t0
        if args.out:
            with open(args.out, "a") as fh:
                fh.write(json.dumps({"workload": args.workload, "seed": seed,
                                     "run_s": run_s, "result": result,
                                     "stderr": proc.stderr.splitlines()[-40:]}) + "\n")
        if not result["correct"]:
            print(f"seed {seed}: INCORRECT", file=sys.stderr)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        values.setdefault("run_s", []).append(run_s)

    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med
        bound = bounds.get(k)
        flag = "" if bound is None or spread < bound / 3 else "  <-- over bound/3"
        print(f"{args.workload:16s} {k:14s} median {med:10.4f}  "
              f"spread {spread:6.3f}  bound {bound}{flag}")


if __name__ == "__main__":
    main()
