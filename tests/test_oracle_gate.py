"""Local replica of the driver's t2 correctness gate: every registry query's
Spark result must hash-match its DuckDB oracle (order-insensitive)."""

from __future__ import annotations

import pytest

import os

from tamer_spark.oracle import compare
from tamer_spark.queries import REGISTRY
from tamer_spark.sql import TABLES
from tests.conftest import SF_DIR as _DEFAULT_SF

# The suite replays the driver's gate at sf0.001 for speed; the sf0.1
# robustness sweep COVERAGE.md records is the same parametrization at a
# bigger SF — run it with
#   SPARK_GRAFT_GATE_SF=/root/testdata/sf0.1 pytest tests/test_oracle_gate.py
SF_DIR = os.environ.get("SPARK_GRAFT_GATE_SF", _DEFAULT_SF)


@pytest.fixture(scope="module")
def con():
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


@pytest.mark.parametrize("name", [n for n, q in REGISTRY.items() if q.oracle])
def test_query_matches_oracle(spark, con, name):
    query = REGISTRY[name]
    result = compare(name, query.spark(spark, SF_DIR), con.execute(query.oracle).df())
    assert result.match, f"{name}: {result.first_diff}"
    assert result.spark_rows > 0 or name.startswith(("join_anti", "set_except")), (
        f"{name}: empty result — not exercising anything"
    )


def test_all_queries_have_entries():
    from __spark_entry__ import oracle_sql, queries

    qs, os_ = queries(), oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 30


def test_registry_fits_driver_correctness_window():
    """The external driver verifies only the FIRST 50 entries of
    ``queries()``. Round 5 let the registry grow to 68, silently dropping 18
    gates (including every r5 extension operator) out of the driver's
    independent correctness signal. Keep every entry inside the window —
    merge same-topic gates into tagged unions (the chunk_documents pattern)
    before adding a 51st entry."""
    from __spark_entry__ import queries

    assert len(queries()) <= 50, (
        f"registry has {len(queries())} entries; the driver checks only the "
        "first 50 — merge gates into tagged unions instead of overflowing"
    )


def test_approx_distinct_within_hll_error_of_exact(spark):
    """approx_distinct_users emits (exact_distinct, n, hll_within_rsd) — the
    r7 reshape that made the HLL++ gate fully hash-checkable (the r6 shape
    returned the raw engine-specific estimate, forcing a rows-only driver
    check). The boolean IS the sketch assertion: it must be TRUE for every
    group, which pins the estimate within 5×rsd of exact inside the plan
    itself — if the sketch drifted, the driver hash-mismatches AND this
    fails."""
    from tamer_spark.queries import REGISTRY

    rows = REGISTRY["approx_distinct_users"].spark(spark, SF_DIR).collect()
    assert rows, "no groups"
    for r in rows:
        assert r["hll_within_rsd"] is True, (
            f"{r['event_type']}: HLL estimate outside 5*rsd of exact "
            f"{r['exact_distinct']}"
        )
        assert r["exact_distinct"] <= r["n"]
