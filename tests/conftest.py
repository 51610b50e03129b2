from __future__ import annotations

import gc
import hashlib
from decimal import ROUND_HALF_UP, Decimal

import pytest

from tp_airflow_gtfs_snowflake_spark.session import get_spark

# One tier: `pytest tests/` runs every test in this directory, and no
# configuration skips any.  The registry is built once per run, by the
# sweep in test_driver_queries.py (plan gates, oracle, rows-only
# count).

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


# Shared engine-portable arithmetic helpers for the independent
# reference-test modules (single definitions so they cannot silently
# diverge — see r06 ADVICE).

def md5_48(s: str) -> int:
    """First 12 md5 hex chars as a 48-bit int — matches the engine's
    operators.kmv.portable_hash48 and its oracle SQL,
    PORTABLE_HASH48_SQL."""
    return int(hashlib.md5(s.encode()).hexdigest()[:12], 16)


def tdiv(a: int, b: int) -> int:
    """Truncate-toward-zero integer division (Spark div, DuckDB //)."""
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def round_half_up(x: float, digits: int) -> float:
    """Spark F.round semantics: BigDecimal.valueOf(double) (shortest
    repr, same as Python repr) quantized HALF_UP."""
    return float(Decimal(repr(x)).quantize(
        Decimal(1).scaleb(-digits), rounding=ROUND_HALF_UP))


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", extra_conf={
        "spark.sql.shuffle.partitions": "8",
    })
    yield s


@pytest.fixture(scope="module", autouse=True)
def _module_gc():
    """Collect Python per module so py4j references drop and the
    async ContextCleaner can free localCheckpoint blocks.  NO
    System.gc() here: a stop-the-world full collection of a large
    heap is exactly the long driver stall that trips local mode's
    unrecoverable heartbeat death spiral (see session.py)."""
    yield
    gc.collect()
