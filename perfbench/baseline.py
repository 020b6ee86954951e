"""Measure the baseline: every workload over several seeds, plus one traced
run per workload, summarized into perfbench/BASELINE.json.

    python3 perfbench/baseline.py --seeds 1-10

Run from the root of a checkout.  Workloads alternate within each seed, so
a slow stretch of the host lands on all of them.  For every end-to-end
metric the summary gives the median, the quartiles
(``statistics.quantiles(n=4)``) and the spread: the distance between the
quartiles as a share of the median, next to the metric's bound.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def _run(spec: dict, workload: str, seed: int, trace: int) -> dict:
    cmd = spec["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(spec["run_seconds"]), "--trace", str(trace),
    ]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=True)
    lines = proc.stdout.strip().splitlines()
    return {
        "seed": seed,
        "run_s": time.perf_counter() - t0,
        "detail": json.loads(lines[-2]),
        "result": json.loads(lines[-1]),
    }


def summarize(spec: dict, runs: list[dict]) -> dict:
    out = {}
    for m in spec["end_to_end"]:
        vals = [r["result"]["metrics"][m["name"]]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        med = statistics.median(vals)
        out[m["name"]] = {
            "median": med, "q1": q1, "q3": q3, "n": len(vals),
            "spread": (q3 - q1) / med, "bound": m["bound"],
        }
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", default="1-10", help="a seed or a range lo-hi")
    ap.add_argument("--out", default=os.path.join(HERE, "BASELINE.json"))
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    seeds = _seeds(args.seeds)
    runs: dict[str, list[dict]] = {n: [] for n in names}
    for seed in seeds:
        for n in names:
            r = _run(spec, n, seed, 0)
            runs[n].append(r)
            print(f"{n} seed {seed}: {r['run_s']:.1f} s, correct={r['result']['correct']}",
                  file=sys.stderr)
    ledgers = {n: _run(spec, n, seeds[0], 1) for n in names}

    import gen

    baseline = {
        "host": {"cores": os.cpu_count(), "machine": platform.machine()},
        "run_seconds": spec["run_seconds"],
        "seeds": seeds,
        "workloads": {
            n: {
                "inputs": gen.WORKLOADS[n],
                "correct_runs": sum(r["result"]["correct"] for r in runs[n]),
                "runs": [
                    {
                        "seed": r["seed"],
                        "run_s": round(r["run_s"], 1),
                        "docs": r["detail"]["docs"],
                        "wall_s_calls": [round(x, 3) for x in r["detail"]["wall_s_calls"]],
                        "setup_parts": r["detail"]["setup_parts"],
                    }
                    for r in runs[n]
                ],
                "end_to_end": summarize(spec, runs[n]),
                "ledger": {
                    "seed": seeds[0],
                    "correct": ledgers[n]["result"]["correct"],
                    "untraced_wall_s": ledgers[n]["detail"]["wall_s_quartiles"][1],
                    "metrics": {
                        k: v["value"] for k, v in ledgers[n]["result"]["metrics"].items()
                    },
                },
            }
            for n in names
        },
    }
    with open(args.out, "w") as f:
        json.dump(baseline, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main())
