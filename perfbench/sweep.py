"""Run the benchmark over several seeds and summarize each metric.

    python3 perfbench/sweep.py --workload <name> --seeds 1-10 [--seconds 24] [--trace 0]

Run from the repository root. Each seed is one ``perfbench/run.py`` process,
run one after another. Prints one line per run, then per metric the median,
the quartiles (``statistics.quantiles(n=4)``) and the spread: the distance
between the quartiles as a share of the median. ``--out`` appends every
run's result line and run record to a JSON-lines file.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds_arg(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def summarize(values: list[float]) -> dict[str, float]:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds_arg, required=True)
    ap.add_argument("--seconds", default="24")
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    ap.add_argument("--out")
    args = ap.parse_args()
    values: dict[str, list[float]] = {}
    bad = 0
    for seed in args.seeds:
        t0 = time.perf_counter()
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload, "--seed", str(seed),
             "--seconds", args.seconds, "--trace", args.trace],
            cwd=ROOT, capture_output=True, text=True,
        )
        elapsed = time.perf_counter() - t0
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
            bad += 1
            continue
        result = json.loads(lines[-1])
        record = next((json.loads(x[len("# run "):]) for x in lines if x.startswith("# run ")),
                      None)
        bad += not result["correct"]
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps({"workload": args.workload, "seed": seed,
                                    "elapsed_s": elapsed, "result": result,
                                    "record": record}) + "\n")
        for k, m in result["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        shown = " ".join(f"{k}={m['value']:.4g}" for k, m in result["metrics"].items())
        print(f"seed {seed}: {elapsed:.1f} s correct={result['correct']} {shown}", flush=True)
    if all(len(v) >= 2 for v in values.values()):
        for k, v in values.items():
            s = summarize(v)
            print(f"{k:32s} median {s['median']:12.5g}  q1 {s['q1']:12.5g}  "
                  f"q3 {s['q3']:12.5g}  spread {s['spread']:.3f}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
