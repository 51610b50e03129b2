"""Regenerate COVERAGE.md from the query registry + driver artifacts.

Usage: python scripts/gen_coverage.py  (from the repo root)

Each registry row carries its driver-verification provenance: the
first round whose CORRECTNESS_r{N}.json holds a green value-hash row
for the name (or a rows-only record for no-oracle names), so "every
oracle-able query has a driver row" is checkable in one read.
"""

from __future__ import annotations

import json
import pathlib
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from tp_airflow_gtfs_snowflake_spark.plans.driver_queries import REGISTRY  # noqa: E402

HEADER = """# COVERAGE — SURVEY §2 operator inventory → engine surface

Machine-generated from the query registry (`plans/driver_queries*.py`)
and the driver artifacts (`CORRECTNESS_r*.json`); regenerate with
`python scripts/gen_coverage.py`.  Every row below is a `queries()`
entry the driver cross-checks against DuckDB at sf0.01:

- **oracle** — `value-hash` = full row-count + schema + value-hash
  compare; `rows-only` = non-SQL-expressible (custom stateful
  streaming / probabilistic recall), weaker rows-returned check.
- **driver** — `hash rNN` = first round with a green value-hash row in
  CORRECTNESS_rNN.json; `rows rNN` = first rows-only driver record
  (no-oracle names can never hash-match); `pending` = not yet inside
  a driver window.  Local-mirror status for pending names: the full
  registry is green under `scripts/validate_registry.py` at sf0.01
  and sf0.1 (see NOTES.md round records).

**Rows-only retirement policy** (VERDICT r09 task 8 — the rule the
repo has followed in practice since r03, now binding): a rows-only
registration (no `oracle_sql()` entry) is admissible ONLY with
(a) a named value-oracled twin query or byte-exact pytest reference,
and (b) a registry note explaining why no DuckDB oracle can exist
(e.g. probabilistic recall, engine-private hash family, iterative
argmax whose tie-breaks are plan-order-dependent).  Both are
enforced socially by review and mechanically surfaced:
`scripts/validate_registry.py` prints the declared twin next to
every ROWS-ONLY line (from `ROWS_ONLY_TWINS` in that file), and
`tests/test_entry_contract.py::test_rows_only_set_is_pinned` pins
the rows-only name set (currently 15) so any addition must touch
the pin and declare its twin.

## Query registry ({n} entries): {summary}

| query id | oracle | driver | covers |
|---|---|---|---|"""

COVERAGE_MD = ROOT / "COVERAGE.md"


def driver_status() -> dict[str, str]:
    """First-green provenance, latest-row-wins validity (ADVICE r07):
    the round shown is the FIRST green driver row, but a name whose
    MOST RECENT row is red is labelled REGRESSED, so the doc can
    never claim 'verified' for a regressed query."""
    first_green: dict[str, str] = {}
    latest_green: dict[str, bool] = {}
    latest_rnd: dict[str, str] = {}
    for path in sorted(ROOT.glob("CORRECTNESS_r*.json")):
        rnd = path.stem.split("_r")[1].lstrip("0") or "0"
        d = json.loads(path.read_text())
        for name, rec in d.items():
            if rec.get("hash_match"):
                kind = "hash"
            elif (rec.get("err") == "no_oracle"
                  and rec.get("spark_rows") is not None):
                kind = "rows"
            else:
                kind = None
            latest_green[name] = kind is not None
            latest_rnd[name] = rnd
            if kind is not None and name not in first_green:
                first_green[name] = f"{kind} r{rnd}"
    return {name: (prov if latest_green[name]
                   else f"REGRESSED r{latest_rnd[name]} (was {prov})")
            for name, prov in first_green.items()}


def main() -> None:
    existing = COVERAGE_MD.read_text().split("\n## Non-query surface", 1)
    tail = ("\n## Non-query surface" + existing[1]) if len(existing) == 2 else ""
    status = driver_status()
    n_hash = sum(1 for name in REGISTRY if status.get(name, "").startswith("hash"))
    n_rows = sum(1 for name in REGISTRY if status.get(name, "").startswith("rows"))
    n_pend = len(REGISTRY) - n_hash - n_rows
    summary = (f"{n_hash} driver value-hash green, {n_rows} driver "
               f"rows-only, {n_pend} pending a driver window")
    lines = [HEADER.format(n=len(REGISTRY), summary=summary)]
    for name, spec in REGISTRY.items():
        oracle = "value-hash" if spec.oracle else "rows-only"
        drv = status.get(name, "pending")
        lines.append(f"| `{name}` | {oracle} | {drv} | {spec.note} |")
    COVERAGE_MD.write_text("\n".join(lines) + "\n" + tail)
    print(f"wrote COVERAGE.md: {len(REGISTRY)} rows — {summary}")


if __name__ == "__main__":
    main()
