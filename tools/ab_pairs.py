"""A/B the repo benchmark between two checkouts in alternating pairs.

    python tools/ab_pairs.py --parent ../parent --change . \
        [--pairs 10] [--workloads dashboard_query,ingest_drain] \
        [--seconds 15] [--seed0 N] [--jsonl runs.jsonl]

Each pair runs ``perfbench/run.py --trace 0`` once in each checkout on
one seed, which no other pair uses; the order inside a pair alternates
(parent first on even pairs, change first on odd ones), so a drift of
the host's speed falls on both sides alike. For each workload and
end-to-end metric it prints the parent's and the change's median and
quartiles, how many pairs the change won (in the direction
``BENCHMARK.json`` gives), and whether the gap between the medians
exceeds the parent's interquartile range. A run that fails or answers
``correct: false`` is reported and left out of its metric's pairs.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def run_once(checkout: str, workload: str, seed: int, seconds: float) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True,
    )
    lines = proc.stdout.strip().splitlines()
    try:
        rec = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        rec = {"correct": False, "metrics": {}}
    rec["exit"] = proc.returncode
    return rec


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(runs: list[dict], better: dict[str, str]) -> list[str]:
    out = []
    for wl in sorted({r["workload"] for r in runs}):
        pairs: dict[int, dict] = {}
        for r in runs:
            if r["workload"] == wl:
                pairs.setdefault(r["seed"], {})[r["side"]] = r
        failed = sum(1 for r in runs if r["workload"] == wl
                     and (r["exit"] or not r["correct"]))
        done = sum(1 for p in pairs.values() if len(p) == 2)
        out.append(f"{wl}: {done} pairs, {failed} failed runs")
        for metric, direction in better.items():
            got = [(p["parent"]["metrics"][metric]["value"],
                    p["change"]["metrics"][metric]["value"])
                   for p in pairs.values()
                   if len(p) == 2 and all(
                       s["correct"] and metric in s["metrics"]
                       for s in p.values())]
            if not got:
                continue
            base, new = [a for a, _ in got], [b for _, b in got]
            b1, b2, b3 = quartiles(base)
            c1, c2, c3 = quartiles(new)
            sign = 1 if direction == "lower" else -1
            wins = sum(1 for a, b in got if sign * (a - b) > 0)
            beyond = sign * (b2 - c2) > b3 - b1
            out.append(
                f"  {metric:12s} parent {b2:10.2f} ({b1:.2f}-{b3:.2f})"
                f"  change {c2:10.2f} ({c1:.2f}-{c3:.2f})"
                f"  wins {wins}/{len(got)}"
                f"  gap>parent IQR: {'yes' if beyond else 'no'}"
            )
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", default=".")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--workloads", default="dashboard_query,ingest_drain")
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--seed0", type=int, default=None,
                    help="first seed (default: from the clock, so fresh)")
    ap.add_argument("--jsonl", default=None,
                    help="also append every run's record to this file")
    args = ap.parse_args()

    with open(os.path.join(args.change, "BENCHMARK.json")) as fh:
        better = {m["name"]: m["better"] for m in json.load(fh)["end_to_end"]}
    seed0 = args.seed0 if args.seed0 is not None else int(time.time()) % 100000
    print(f"seeds {seed0}..{seed0 + args.pairs - 1}", flush=True)
    runs = []
    for i in range(args.pairs):
        for wl in args.workloads.split(","):
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            for side in order:
                rec = run_once(getattr(args, side), wl, seed0 + i, args.seconds)
                rec.update(workload=wl, seed=seed0 + i, side=side)
                runs.append(rec)
                print(f"pair {i} {wl} {side}: exit {rec['exit']} "
                      f"correct {rec['correct']}", flush=True)
                if args.jsonl:
                    with open(args.jsonl, "a") as fh:
                        fh.write(json.dumps(rec) + "\n")
    print("\n".join(summarize(runs, better)))


if __name__ == "__main__":
    main()
