"""Per-query bench comparison — the drift-triage step of the
round-end gate order (BASELINE.md rules), as one command instead of
an ad-hoc snippet per round.

Usage: python scripts/bench_diff.py OLD NEW [--abs-floor 0.2] [--rel 0.2]

OLD / NEW each accept either
- a bench stdout file (full summary JSON line with a "queries" map:
  what `python bench.py > out.txt` writes), or
- a driver BENCH_r{N}.json artifact, whose "tail" is the LAST 2000
  stdout characters — per-query pairs are recovered by regex, so the
  overlap is whatever survived the truncation (printed as such).
When both runs carry bench.py's per-query `jobs`, each flagged query
also shows its job count old -> new.

Classification per BASELINE.md's documented environment band: a
delta is REGRESSION/IMPROVED only if BOTH the absolute delta exceeds
--abs-floor seconds AND the relative delta exceeds --rel; everything
else is noise.  A uniform shift across the whole overlap (median
relative delta beyond --rel) is flagged as an environment-band move,
not a per-query finding — re-run on an idle box before escalating.

Exit code: 0 always (this is a triage report, not a gate — the gate
is the human reading it against BASELINE.md's escalation rule:
confirmed >20% drift with an unchanged PLANS.md row).
"""

from __future__ import annotations

import argparse
import json
import re
import statistics
import sys

_META_KEYS = {
    "metric", "value", "unit", "n_queries", "sf", "n", "rc", "cpus",
    "baseline_r01_subset_seconds", "baseline_r01_subset_n",
    "n_batches", "batch_seconds_mean", "batch_seconds_max",
    "slo_trigger_seconds",
}


def load_floor(path: str) -> float | None:
    """job_floor_seconds from a bench stdout / driver artifact, if the
    run recorded one (bench.py emits it from r11 on)."""
    text = open(path).read()
    m = re.search(r'"job_floor_seconds": ([0-9.]+)', text)
    return float(m.group(1)) if m else None


def load_queries(path: str) -> tuple[dict[str, float], dict[str, int], str]:
    """Returns (name -> seconds, name -> jobs, provenance-note); the
    jobs map is empty for runs that predate bench.py's job counts."""
    text = open(path).read()
    # driver artifact?
    try:
        d = json.loads(text)
        if isinstance(d, dict) and "tail" in d and "queries" not in d:
            pairs = re.findall(r'"([a-z][a-z0-9_]+)": ([0-9]+\.[0-9]+)',
                               d["tail"])
            q = {k: float(v) for k, v in pairs if k not in _META_KEYS}
            return q, {}, \
                f"driver artifact (truncated tail: {len(q)} queries)"
        if isinstance(d, dict) and "queries" in d:
            return dict(d["queries"]), d.get("jobs", {}), "summary JSON"
    except ValueError:
        pass
    # stdout file: first line holding a queries map wins
    for line in text.splitlines():
        try:
            d = json.loads(line)
        except ValueError:
            continue
        if isinstance(d, dict) and "queries" in d:
            return dict(d["queries"]), d.get("jobs", {}), "bench stdout"
    raise SystemExit(f"{path}: no per-query data found")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("--abs-floor", type=float, default=0.2,
                    help="seconds below which a delta is noise")
    ap.add_argument("--rel", type=float, default=0.2,
                    help="relative delta below which a delta is noise")
    ap.add_argument("--top", type=int, default=8)
    a = ap.parse_args()

    qo, jo, po = load_queries(a.old)
    qn, jn, pn = load_queries(a.new)
    common = sorted(set(qo) & set(qn))
    if not common:
        raise SystemExit("no overlapping queries")
    to, tn = sum(qo[k] for k in common), sum(qn[k] for k in common)
    rels = [(qn[k] - qo[k]) / qo[k] for k in common if qo[k] > 0]
    med = statistics.median(rels)
    print(f"old: {po} ({len(qo)} queries)   new: {pn} ({len(qn)})")
    print(f"overlap {len(common)}: {to:.2f}s -> {tn:.2f}s "
          f"= {tn / to:.3f}x   median per-query {1 + med:.3f}x")
    fo, fn = load_floor(a.old), load_floor(a.new)
    if fo and fn:
        # wall ~ jobs x floor + data time (BASELINE.md r07 profile),
        # so a floor ratio R means job-count-bound queries may move
        # up to ~Rx with byte-identical plans.  Divide the floor
        # model out BEFORE reading any delta as a regression.
        print(f"job floor: {fo * 1000:.0f}ms -> {fn * 1000:.0f}ms "
              f"= {fn / fo:.2f}x — deltas on job-heavy queries up to "
              f"{fn / fo:.2f}x are floor, not plan")
    elif fn:
        print(f"job floor (new only): {fn * 1000:.0f}ms — old run "
              "predates floor calibration; job-heavy deltas "
              "unreadable without it")
    if abs(med) > a.rel:
        print(f"!! uniform shift (median {med:+.0%}) — environment "
              "band; re-run idle before reading per-query deltas")

    def classify(k):
        d = qn[k] - qo[k]
        r = d / qo[k] if qo[k] > 0 else float("inf")
        if abs(d) < a.abs_floor or abs(r) < a.rel:
            return "noise"
        return "REGRESSION" if d > 0 else "improved"

    flagged = [k for k in common if classify(k) != "noise"]
    flagged.sort(key=lambda k: qo[k] - qn[k])
    for k in flagged[:a.top]:
        d = qn[k] - qo[k]
        # same zero guard as classify(): an old time parsed as 0.00
        # would otherwise raise ZeroDivisionError here
        pct = f"{d / qo[k]:+.0%}" if qo[k] > 0 else "n/a"
        # added jobs cost job floors; equal jobs point at data time
        jobs = f", jobs {jo[k]} -> {jn[k]}" if k in jo and k in jn else ""
        print(f"  {classify(k):10s} {k}: {qo[k]:.2f} -> {qn[k]:.2f} "
              f"({d:+.2f}s, {pct}{jobs})")
    if not flagged:
        print("  no per-query deltas beyond the "
              f"{a.abs_floor}s/{a.rel:.0%} band")
    extra = sorted(set(qn) - set(qo))
    if extra:
        print(f"  new-only queries ({len(extra)}): "
              + ", ".join(f"{k} {qn[k]:.2f}s" for k in extra[:6])
              + (" ..." if len(extra) > 6 else ""))


if __name__ == "__main__":
    sys.exit(main())
