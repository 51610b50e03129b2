"""A/B the GTFS pipeline benchmark on two checkouts.

Usage:
    python scripts/perfbench_ab.py --workload rt_stream \\
        --parent DIR --change DIR --seeds 601-610

For each seed, runs `python3 perfbench/run.py --workload W --seed N
--seconds S --trace 0` once in each checkout (S is BENCHMARK.json's
`run_seconds`), alternating which side runs first: the parent first
on the first seed, the change first on the next, and so on.  The runs
are sequential, one process at a time.

Prints one line per pair as it completes, then per end-to-end metric
(names, units, `better` and `bound` from the parent's BENCHMARK.json):
- each side's q1 / median / q3;
- the change's wins out of the pairs (ties count for neither side);
- the gap between the medians against the parent's IQR: better by
  more than it, worse by more than it, or within it;
- whether a gain could be claimed: the change won at least 9 of
  every 10 pairs and its median is better by more than the parent's
  IQR;
- the change of the median against the metric's bound: "ok",
  "WORSE past bound", or "unresolved" when the parent's IQR alone
  exceeds the bound and not every change run beats every parent run.
The last line is one JSON object with every run (with each run's
unscaled `raw_metrics` and `speed_loop_s`), for keeping.

It only drives the benchmark: each checkout runs its own perfbench/,
and neither checkout is changed.  Exit status 1 when any run failed
or reported `correct: false`.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

CLAIM_WIN_SHARE = 0.9  # a claimed gain wins at least 9 pairs in 10


def parse_seeds(spec: str) -> list[int]:
    """"601-610" -> [601, ..., 610]; "5" -> [5]."""
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(checkout: str, workload: str, seed: int,
             seconds: float) -> dict:
    """One benchmark run: its last stdout line, plus the detail line's
    unscaled values and speed-loop time; or {"error": ...}."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        out = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        return {"error": f"exit {proc.returncode}: "
                         f"{proc.stderr.strip()[-300:]}"}
    try:
        detail = json.loads(lines[-2])
        out.update(raw_metrics=detail["raw_metrics"],
                   speed_loop_s=detail["speed_loop_s"])
    except (IndexError, KeyError, json.JSONDecodeError):
        pass
    if proc.returncode or not out.get("correct") or out.get("failed"):
        out["error"] = (f"exit {proc.returncode}, correct "
                        f"{out.get('correct')}, failed {out.get('failed')}")
    return out


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, med, q3


def summarize(metric: dict, parent: list[float],
              change: list[float]) -> dict:
    """Quartiles, wins and the verdicts for one metric over the pairs
    where both sides produced it."""
    lower = metric["better"] == "lower"
    pq, cq = quartiles(parent), quartiles(change)
    wins = sum((c < p) if lower else (c > p) for p, c in zip(parent, change))
    iqr = pq[2] - pq[0]
    gap = (pq[1] - cq[1]) if lower else (cq[1] - pq[1])  # > 0: better
    if gap > iqr:
        vs_iqr = "better"
    elif -gap > iqr:
        vs_iqr = "worse"
    else:
        vs_iqr = "within"
    worse = -gap / pq[1] if pq[1] else 0.0  # > 0: the change is worse
    all_better = (max(change) < min(parent)) if lower \
        else (min(change) > max(parent))
    if worse > metric["bound"]:
        verdict = "WORSE past bound"
    elif pq[1] and iqr / pq[1] > metric["bound"] and not all_better:
        verdict = "unresolved"
    else:
        verdict = "ok"
    return {"parent_q": pq, "change_q": cq, "wins": wins,
            "pairs": len(parent), "gap_vs_parent_iqr": vs_iqr,
            "claim_holds": (vs_iqr == "better"
                            and wins >= CLAIM_WIN_SHARE * len(parent)),
            "worse_frac": worse, "bound": metric["bound"],
            "verdict": verdict}


_VS_IQR = {"better": "better by more than the parent IQR",
           "worse": "worse by more than the parent IQR",
           "within": "within the parent IQR"}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 601-610")
    args = ap.parse_args()
    with open(os.path.join(args.parent, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics = bench["end_to_end"]
    sides = {"parent": os.path.abspath(args.parent),
             "change": os.path.abspath(args.change)}
    runs: list[dict] = []
    failed = 0
    for i, seed in enumerate(parse_seeds(args.seeds)):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        pair = {"seed": seed, "first": order[0]}
        for side in order:
            pair[side] = run_once(sides[side], args.workload, seed,
                                  bench["run_seconds"])
        runs.append(pair)
        cells = []
        for m in metrics:
            vals = [pair[s].get("metrics", {}).get(m["name"], {}).get("value")
                    for s in ("parent", "change")]
            cells.append(f"{m['name']} " + "/".join(
                "-" if v is None else f"{v:.3f}" for v in vals))
        errors = [f"{s}: {pair[s]['error']}" for s in sides
                  if "error" in pair[s]]
        failed += len(errors)
        print(f"seed {seed} ({order[0]} first)  " + "  ".join(cells)
              + (f"  ERROR {'; '.join(errors)}" if errors else ""),
              flush=True)

    summary = {}
    print(f"\n{args.workload}: parent -> change, q1/median/q3")
    for m in metrics:
        name = m["name"]
        both = [(r["parent"]["metrics"][name]["value"],
                 r["change"]["metrics"][name]["value"]) for r in runs
                if "error" not in r["parent"] and "error" not in r["change"]]
        if not both:
            print(f"  {name}: no pair completed")
            continue
        s = summary[name] = summarize(m, *map(list, zip(*both)))
        fmt = "/".join
        print(f"  {name} [{m['unit']}, {m['better']} is better]: "
              f"{fmt(f'{v:.3f}' for v in s['parent_q'])} -> "
              f"{fmt(f'{v:.3f}' for v in s['change_q'])}; "
              f"change won {s['wins']}/{s['pairs']}; median "
              f"{_VS_IQR[s['gap_vs_parent_iqr']]}; claim "
              f"{'holds' if s['claim_holds'] else 'does not hold'}; "
              f"median {-s['worse_frac']:+.1%} (+ is better; "
              f"may worsen by {s['bound']:.0%}): {s['verdict']}")
    print(json.dumps({"workload": args.workload, "runs": runs,
                      "summary": summary}))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
