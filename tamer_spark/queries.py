"""Query registry: every graded operator as a (Spark plan, DuckDB oracle SQL) pair.

This is the correctness surface for SURVEY.md §2: the relational pass-through
surface (§2B — joins, aggregations, window functions, set ops, sorts/limits,
scalar functions), the ingestion-shaped queries (tumbling windows, cursor
folds re-expressed over the `events` table), and the LLM-data operators
(dedup, similarity search, text analysis).

Cross-engine determinism conventions (the whole point of this module):

- **Money/metric sums**: never sum raw doubles (accumulation order varies) —
  per-row ``round(x*100)`` / ``round(x*10000)`` to exact integers, sum as
  int64 (all sums << 2^53 even at sf100). Bit-identical in any engine, any
  partition order.
- **Ratios/averages**: division of two exact ints → IEEE-deterministic
  double, identical everywhere.
- **Hashes**: md5-derived (functions/hashing.py); never engine hash().
- **Top-k**: total deterministic order (value desc, unique key asc).
- **Column names**: identical on both sides (driver sorts by name + hashes).
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tamer_spark.functions.hashing import MERSENNE_P, minhash_coefficients
from tamer_spark.functions.text import (
    LANG_MARKERS,
    STOPWORDS,
    TOKEN_PATTERN,
    _mojibake,
    doc_fingerprint_col,
    lang_id_col,
    sql_string,
    text_stats_cols,
    token_count_col,
)
from tamer_spark.operators.asof import asof_join
from tamer_spark.operators.dedup import (
    dedup_exact,
    dedup_exact_normalized,
    minhash_lsh_pairs,
    minhash_signatures,
)
from tamer_spark.operators.similarity import cosine_knn


@dataclass
class Query:
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI/DuckDB SQL; None → rows-only check
    doc: str = ""


# files under this size (broadcast-sized dims) never get the floor
_SCAN_FLOOR_MIN_BYTES = 32 << 10


def _scan_parallelism_floor(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Unsplittable-input parallelism floor (r14; optimization guide §2.5/§2.6).

    The fixture tables ship as ONE parquet file with ONE row group, so every
    scan plans exactly one task and all the map-heavy work stacked above it
    (normalize_text + md5 chains, staged HOF arrays, regex scans — the bulk
    of the bench's CPU) serializes onto 1 of N cores while the other N-1
    idle. That is the guide's unsplittable-input case ("one huge
    unsplittable file … repartition immediately after the read"): when the
    file would scan in fewer splits than the session's parallelism, insert
    ONE keyless round-robin repartition so map work spreads across all
    slots.

    OPT-IN PER CALL SITE (``_t(..., floor=True)``), not blanket: the
    repair only pays when the per-row map work above the scan is heavy
    relative to one round-robin exchange of the table. Interleaved
    on/off A/B at sf0.1 (2026-08-17): md5-dense pipelines win big
    (winnow 0.49×, heavy_hitters 0.51×, cms_sketch 0.57×), while
    cheap-map queries LOSE (q1_pricing_summary 2.16×, dedup_exact 2.17×
    — one md5 per doc does not amortize the exchange), so each call
    site that opts in carries its own measured ratio
    (OPTIMIZATION_r14.md).

    Scale-adaptive by construction, not a local[32] constant: the trigger
    compares ceil(bytes / maxPartitionBytes) against
    ``sc.defaultParallelism``, so a production table (100 TB ≈ 800k splits
    ≫ cores) never fires and the plan carries no extra exchange; the
    driver's lower-core bench run adapts the same way (defaultParallelism
    follows ``local[N]``). Files under ``_SCAN_FLOOR_MIN_BYTES`` (32 KB —
    broadcast-sized dims like region/nation/supplier) are left alone: the
    exchange would cost more than the parallelism buys. Values are
    partition-count independent by the repo's determinism conventions (no
    partition-order-sensitive expressions in any query path; every rank /
    limit carries a total-order tie-break — audited r14), so results and
    oracle hashes are unchanged; the driver re-verifies every gate. Plan
    pins are unaffected: ``plans.PlanShape.shuffles`` counts keyed
    exchanges only, and this repair is RoundRobinPartitioning (pinned in
    tests/test_scan_floor.py, including the at-scale no-op).
    """
    try:
        n_bytes = os.path.getsize(path)
    except OSError:
        # non-local path (hdfs/s3a): tables at that scale are splittable
        return df
    if n_bytes < _SCAN_FLOOR_MIN_BYTES:
        return df
    max_pb = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    target = spark.sparkContext.defaultParallelism
    if -(-n_bytes // max_pb) >= target:
        return df
    return df.repartition(target)


def _t(spark: SparkSession, sf_dir: str, name: str, floor: bool = False) -> DataFrame:
    # Defensive: the driver runs these queries with ITS OWN session. The
    # DuckDB oracle reads parquet timestamps as naive/UTC, so Spark must
    # interpret them in UTC too or toPandas shifts wall times.
    # ``floor=True`` opts this read into the unsplittable-input
    # parallelism floor — only call sites whose per-row map work measured
    # faster with it (see _scan_parallelism_floor).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _events_ts(spark.read.parquet(path))
    else:
        df = spark.read.parquet(path)
    return _scan_parallelism_floor(spark, df, path) if floor else df


def _events_ts(df: DataFrame) -> DataFrame:
    """The one ts normalizer of the events table, for its batch read (``_t``)
    and its file stream (``_events_stream``).

    events.parquet has shipped with two physical types for ts across
    testdata generations: TIMESTAMP(NANOS) (Spark rejects by default — read
    with ``nanosAsLong`` as long and floor-divide to micros, exact integer
    division) and plain TIMESTAMP_NTZ micros (cast to session-UTC TIMESTAMP
    so downstream window/date logic sees the same wall times either way).
    Adapts on the observed schema."""
    if dict(df.dtypes)["ts"] == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table as a file stream: ``stream_parquet`` over the file,
    declared with the schema its footer shows (a file stream needs one), ts
    normalized as in ``_t``. The file source wants a directory or a glob,
    not a plain file path."""
    from tamer_spark.streaming.readers import stream_parquet

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    return _events_ts(stream_parquet(spark, f"{sf_dir}/events*.parquet", schema))


# DuckDB views see events.ts as TIMESTAMP_NS; shadow the view with a
# micros-cast CTE so oracle SQL and Spark agree on the unit.
EVENTS_CTE = "events AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM main.events)"


def cents(col, scale: int = 100):
    """Exact integer money units: round(x*scale) as int64."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * scale).cast("long")


REGISTRY: dict[str, Query] = {}


def q(name: str, oracle: str | None, doc: str = ""):
    def deco(fn):
        REGISTRY[name] = Query(spark=fn, oracle=oracle, doc=doc)
        return fn

    return deco


# ---------------------------------------------------------------------------
# Aggregations (SURVEY §2B: hash agg, rollup/cube, distinct)
# ---------------------------------------------------------------------------

@q(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qty_c,
           CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_base_price_c,
           CAST(SUM(CAST(round(l_extendedprice*(1-l_discount)*10000) AS BIGINT)) AS BIGINT) AS sum_disc_price_cc,
           CAST(SUM(CAST(round(l_extendedprice*(1-l_discount)*(1+l_tax)*10000) AS BIGINT)) AS BIGINT) AS sum_charge_cc,
           COUNT(*) AS count_order
    FROM lineitem GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1-style pricing summary; map-side partial agg, one shuffle on 2 low-card keys.",
)
def q1_pricing_summary(spark, sf):
    li = _t(spark, sf, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc * (1 + F.col("l_tax"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(cents("l_quantity")).alias("sum_qty_c"),
        F.sum(cents("l_extendedprice")).alias("sum_base_price_c"),
        F.sum(cents(disc, 10000)).alias("sum_disc_price_cc"),
        F.sum(cents(charge, 10000)).alias("sum_charge_cc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@q(
    "agg_grouping_variants",
    f"""
    WITH {EVENTS_CTE}
    SELECT 'rollup_orders' AS variant, o_orderpriority AS k1, o_orderstatus AS k2,
           COUNT(*) AS n,
           CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS sum_c
    FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
    UNION ALL
    SELECT 'cube_lineitem', l_returnflag, l_linestatus, COUNT(*),
           CAST(SUM(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT)
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    UNION ALL
    SELECT 'gsets_events', CAST(user_id AS VARCHAR), event_type, COUNT(*),
           CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT)
    FROM events GROUP BY GROUPING SETS ((user_id), (event_type), ())
    """,
    doc="All three grouping variants (ROLLUP / CUBE / GROUPING SETS) as one tagged union — each branch one Expand + one shuffle; NULL grouping keys preserved.",
)
def agg_grouping_variants(spark, sf):
    o = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    e = _t(spark, sf, "events")
    r1 = (
        o.rollup("o_orderpriority", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(cents("o_totalprice")).alias("sum_c"))
        .select(
            F.lit("rollup_orders").alias("variant"),
            F.col("o_orderpriority").alias("k1"),
            F.col("o_orderstatus").alias("k2"),
            "n",
            "sum_c",
        )
    )
    r2 = (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(cents("l_quantity")).alias("sum_c"))
        .select(
            F.lit("cube_lineitem").alias("variant"),
            F.col("l_returnflag").alias("k1"),
            F.col("l_linestatus").alias("k2"),
            "n",
            "sum_c",
        )
    )
    r3 = (
        e.groupingSets([["user_id"], ["event_type"], []], "user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(cents("value")).alias("sum_c"))
        .select(
            F.lit("gsets_events").alias("variant"),
            F.col("user_id").cast("string").alias("k1"),
            F.col("event_type").alias("k2"),
            "n",
            "sum_c",
        )
    )
    return r1.unionByName(r2).unionByName(r3)


@q(
    "agg_orders_by_status",
    """
    SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_customers, COUNT(*) AS n_orders,
           quantile_cont(CAST(round(o_totalprice*100) AS BIGINT), 0.25) AS p25_c,
           quantile_cont(CAST(round(o_totalprice*100) AS BIGINT), 0.5)  AS p50_c,
           quantile_cont(CAST(round(o_totalprice*100) AS BIGINT), 0.75) AS p75_c
    FROM orders GROUP BY o_orderstatus
    """,
    doc="COUNT(DISTINCT) + exact linear-interpolated percentiles (Spark percentile == DuckDB quantile_cont, both R-7) in one per-status pass.",
)
def agg_orders_by_status(spark, sf):
    o = _t(spark, sf, "orders").withColumn("total_c", cents("o_totalprice"))
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
        F.percentile("total_c", 0.25).alias("p25_c"),
        F.percentile("total_c", 0.5).alias("p50_c"),
        F.percentile("total_c", 0.75).alias("p75_c"),
    )


# ---------------------------------------------------------------------------
# Joins (broadcast, multi-way, semi, anti, as-of, range)
# ---------------------------------------------------------------------------

@q(
    "q3_top_revenue",
    """
    SELECT l_orderkey, o_orderdate,
           CAST(SUM(CAST(round(l_extendedprice*(1-l_discount)*10000) AS BIGINT)) AS BIGINT) AS revenue_cc
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue_cc DESC, l_orderkey
    LIMIT 10
    """,
    doc="TPC-H Q3-style: filter pushed to customer scan; customer side broadcasts; top-k via TakeOrdered.",
)
def q3_top_revenue(spark, sf):
    c = _t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount")), 10000)).alias("revenue_cc"))
        .orderBy(F.col("revenue_cc").desc(), "l_orderkey")
        .limit(10)
    )


@q(
    "q5_region_revenue",
    """
    SELECT n_name,
           CAST(SUM(CAST(round(l_extendedprice*(1-l_discount)*10000) AS BIGINT)) AS BIGINT) AS revenue_cc
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
    GROUP BY n_name
    """,
    doc="TPC-H Q5-style star join: all dims broadcast; single shuffle for the agg.",
)
def q5_region_revenue(spark, sf):
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    s = _t(spark, sf, "supplier")
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount")), 10000)).alias("revenue_cc"))
    )


# Standalone builders kept for plan-pin tests / bench; graded through the
# merged join_semi_anti_customers gate (r6 re-pack: the driver checks the
# first 50 registry entries, so same-topic gates are tagged unions).
def join_semi_active_customers(spark, sf):
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


def join_anti_inactive_customers(spark, sf):
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@q(
    "join_semi_anti_customers",
    """
    SELECT 'semi' AS variant, c_nationkey AS k, CAST(NULL AS VARCHAR) AS name, COUNT(*) AS n
    FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_nationkey
    UNION ALL
    SELECT 'anti', c_custkey, c_name, CAST(NULL AS BIGINT) FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    doc="Semi + anti join as one tagged union (r6 window re-pack; both were standalone driver-green gates through r4/r5). semi: per-nation count of customers WITH orders (left_semi). anti: customers with NO orders (left_anti).",
)
def join_semi_anti_customers_q(spark, sf):
    semi = join_semi_active_customers(spark, sf).select(
        F.lit("semi").alias("variant"),
        F.col("c_nationkey").alias("k"),
        F.lit(None).cast("string").alias("name"),
        F.col("n_customers").alias("n"),
    )
    anti = join_anti_inactive_customers(spark, sf).select(
        F.lit("anti").alias("variant"),
        F.col("c_custkey").alias("k"),
        F.col("c_name").alias("name"),
        F.lit(None).cast("long").alias("n"),
    )
    return semi.unionByName(anti)


@q(
    "join_broadcast_enrich",
    """
    SELECT c_mktsegment, COUNT(*) AS n_orders,
           CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS sum_total_c
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def join_broadcast_enrich(spark, sf):
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_orders"), F.sum(cents("o_totalprice")).alias("sum_total_c"))
    )


@q(
    "join_range_price_band",
    """
    WITH bands AS (SELECT i AS band, i*10000.0 AS lo, (i+1)*10000.0 AS hi FROM range(0,10) t(i))
    SELECT band, COUNT(*) AS n_items,
           CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_price_c
    FROM lineitem JOIN bands ON l_extendedprice >= lo AND l_extendedprice < hi
    GROUP BY band
    """,
    doc="Range join against a broadcast band table (BroadcastNestedLoop on 10 rows — fine).",
)
def join_range_price_band(spark, sf):
    li = _t(spark, sf, "lineitem")
    bands = spark.range(0, 10).select(
        F.col("id").alias("band"),
        (F.col("id") * 10000.0).alias("lo"),
        ((F.col("id") + 1) * 10000.0).alias("hi"),
    )
    return (
        li.join(
            F.broadcast(bands),
            (li.l_extendedprice >= bands.lo) & (li.l_extendedprice < bands.hi),
        )
        .groupBy("band")
        .agg(F.count(F.lit(1)).alias("n_items"), F.sum(cents("l_extendedprice")).alias("sum_price_c"))
    )


# Deduped right side shared by every as-of oracle: latest orderkey per
# (custkey, orderdate) — ASOF right sides must be unique per (key, time).
_ASOF_O_CTE = """o AS (
      SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice FROM (
        SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey, o_orderdate ORDER BY o_orderkey DESC) AS rn
        FROM orders) WHERE rn = 1
    )"""

_ASOF_BACKWARD_ORACLE = f"""
    WITH {EVENTS_CTE}, {_ASOF_O_CTE}
    SELECT e.event_id, o.o_orderkey AS matched_orderkey,
           CAST(round(o.o_totalprice*100) AS BIGINT) AS matched_total_c
    FROM events e ASOF LEFT JOIN o ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    """

_ASOF_FORWARD_ORACLE = f"""
    WITH {EVENTS_CTE}, {_ASOF_O_CTE},
    u AS (
      SELECT user_id AS k, ts AS t, 1 AS side, event_id,
             NULL::BIGINT AS o_orderkey, NULL::DOUBLE AS o_totalprice
      FROM events
      UNION ALL
      SELECT o_custkey, CAST(o_orderdate AS TIMESTAMP), 0, NULL, o_orderkey, o_totalprice FROM o
    ),
    m AS (
      SELECT event_id, side,
             first_value(o_orderkey IGNORE NULLS) OVER w AS mk,
             first_value(o_totalprice IGNORE NULLS) OVER w AS mt
      FROM u
      WINDOW w AS (PARTITION BY k ORDER BY t, side DESC
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_id, mk AS matched_orderkey,
           CAST(round(mt*100) AS BIGINT) AS matched_total_c
    FROM m WHERE side = 1
    """

# nearest = smaller |delta| of the backward/forward matches, exact ties
# backward (pandas merge_asof semantics) — both directional windows ride
# the same union, mirroring operators/asof.py's single-exchange plan
_ASOF_NEAREST_ORACLE = f"""
    WITH {EVENTS_CTE}, {_ASOF_O_CTE},
    u AS (
      SELECT user_id AS k, ts AS t, 1 AS side, event_id,
             NULL::BIGINT AS o_orderkey, NULL::DOUBLE AS o_totalprice,
             NULL::TIMESTAMP AS rt
      FROM events
      UNION ALL
      SELECT o_custkey, CAST(o_orderdate AS TIMESTAMP), 0, NULL, o_orderkey, o_totalprice,
             CAST(o_orderdate AS TIMESTAMP)
      FROM o
    ),
    m AS (
      SELECT event_id, side, t,
             last_value(o_orderkey IGNORE NULLS) OVER wb AS bk,
             last_value(o_totalprice IGNORE NULLS) OVER wb AS bt,
             last_value(rt IGNORE NULLS) OVER wb AS brt,
             first_value(o_orderkey IGNORE NULLS) OVER wf AS fk,
             first_value(o_totalprice IGNORE NULLS) OVER wf AS ft,
             first_value(rt IGNORE NULLS) OVER wf AS frt
      FROM u
      WINDOW wb AS (PARTITION BY k ORDER BY t, side
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wf AS (PARTITION BY k ORDER BY t, side DESC
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_id,
           CASE WHEN brt IS NULL THEN fk WHEN frt IS NULL THEN bk
                WHEN (frt - t) < (t - brt) THEN fk ELSE bk END AS matched_orderkey,
           CAST(round(CASE WHEN brt IS NULL THEN ft WHEN frt IS NULL THEN bt
                WHEN (frt - t) < (t - brt) THEN ft ELSE bt END * 100) AS BIGINT) AS matched_total_c
    FROM m WHERE side = 1
    """


def _asof_events_orders(spark, sf, direction: str):
    e = _t(spark, sf, "events")
    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey", "o_orderdate").orderBy(F.col("o_orderkey").desc())
    o1 = (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderdate", "o_orderkey", "o_totalprice")
    )
    # asof_join needs the same key name on both sides; rename right key first
    joined = asof_join(
        e.select("event_id", F.col("user_id").alias("k"), "ts"),
        o1.select(
            F.col("o_custkey").alias("k"),
            F.col("o_orderdate").cast("timestamp").alias("o_orderdate"),
            "o_orderkey",
            "o_totalprice",
        ),
        on="k",
        left_time="ts",
        right_time="o_orderdate",
        right_cols=["o_orderkey", "o_totalprice"],
        direction=direction,
    )
    return joined.select(
        "event_id",
        F.col("o_orderkey").alias("matched_orderkey"),
        cents("o_totalprice").alias("matched_total_c"),
    )


# Standalone builders kept for plan-pin tests / bench series continuity.
def asof_join_events_orders(spark, sf):
    return _asof_events_orders(spark, sf, "backward")


@q(
    "asof_joins_events_orders",
    f"""
    SELECT 'backward' AS direction, * FROM ({_ASOF_BACKWARD_ORACLE})
    UNION ALL
    SELECT 'forward', * FROM ({_ASOF_FORWARD_ORACLE})
    UNION ALL
    SELECT 'nearest', * FROM ({_ASOF_NEAREST_ORACLE})
    """,
    doc=(
        "All three as-of join directions as one tagged union (r6 window "
        "re-pack; backward/forward were standalone driver-green gates, "
        "nearest is NEWLY driver-graded). Point-in-time join per user: "
        "backward = latest order at-or-before each event (DuckDB native "
        "ASOF), forward = earliest at-or-after (union + IGNORE NULLS "
        "first_value — DuckDB ASOF is backward-only), nearest = smaller "
        "time delta, ties backward (pandas merge_asof semantics). Spark "
        "side is the union-tag-sort pattern (operators/asof.py): one key "
        "shuffle per direction, never a range explosion; nearest runs "
        "both directional windows over the SAME keyed exchange."
    ),
)
def asof_joins_events_orders_q(spark, sf):
    out = None
    for direction in ("backward", "forward", "nearest"):
        part = _asof_events_orders(spark, sf, direction).select(
            F.lit(direction).alias("direction"), "*"
        )
        out = part if out is None else out.unionByName(part)
    return out


# ---------------------------------------------------------------------------
# Window functions, sorts/limits, set ops
# ---------------------------------------------------------------------------

_WINDOW_TOPK_ORACLE = """
    WITH quart AS (
      SELECT c_custkey,
             CAST(ntile(4) OVER (ORDER BY CAST(round(c_acctbal*100) AS BIGINT) DESC, c_custkey) AS BIGINT) AS value_quartile
      FROM customer),
    topk AS (
      SELECT o_custkey, o_orderkey, total_c, rank FROM (
        SELECT o_custkey, o_orderkey, CAST(round(o_totalprice*100) AS BIGINT) AS total_c,
               row_number() OVER (PARTITION BY o_custkey ORDER BY CAST(round(o_totalprice*100) AS BIGINT) DESC, o_orderkey) AS rank
        FROM orders) WHERE rank <= 3)
    SELECT o_custkey, o_orderkey, total_c, rank, value_quartile
    FROM topk JOIN quart ON o_custkey = c_custkey
    """


# Standalone builder kept for plan pins / bench (graded via window_functions).
def window_topk_quartile(spark, sf):
    o = _t(spark, sf, "orders").withColumn("total_c", cents("o_totalprice"))
    w = Window.partitionBy("o_custkey").orderBy(F.col("total_c").desc(), F.col("o_orderkey"))
    topk = (
        o.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("o_custkey", "o_orderkey", "total_c", "rank")
    )
    c = _t(spark, sf, "customer").withColumn("bal_c", cents("c_acctbal"))
    wq = Window.orderBy(F.col("bal_c").desc(), F.col("c_custkey"))
    quart = c.select("c_custkey", F.ntile(4).over(wq).cast("long").alias("value_quartile"))
    return topk.join(F.broadcast(quart), topk.o_custkey == quart.c_custkey).select(
        "o_custkey", "o_orderkey", "total_c", "rank", "value_quartile"
    )


_WINDOW_FRAMES_ORACLE = f"""
    WITH {EVENTS_CTE}
    SELECT event_id, user_id,
           CAST(SUM(CAST(round(value*100) AS BIGINT)) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_value_c,
           date_diff('microsecond', lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) AS gap_us,
           CAST(SUM(CAST(round(value*100) AS BIGINT)) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS moving_sum_c,
           CAST(first_value(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS first_event,
           CAST(last_value(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS BIGINT) AS last_event
    FROM events
    """


# Standalone builder kept for plan pins (graded via window_functions).
def window_frames_events(spark, sf):
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        F.sum(cents("value"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("running_value_c"),
        (F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))).alias("gap_us"),
        F.sum(cents("value")).over(w.rowsBetween(-2, 0)).alias("moving_sum_c"),
        F.first("event_id").over(w).alias("first_event"),
        F.last("event_id")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .alias("last_event"),
    )


@q(
    "window_functions",
    f"""
    SELECT 'topk' AS variant, o_custkey AS id1, o_orderkey AS id2, total_c AS v1,
           rank AS v2, value_quartile AS v3, CAST(NULL AS BIGINT) AS v4, CAST(NULL AS BIGINT) AS v5
    FROM ({_WINDOW_TOPK_ORACLE})
    UNION ALL
    SELECT 'frames', event_id, user_id, running_value_c, gap_us, moving_sum_c,
           first_event, last_event
    FROM ({_WINDOW_FRAMES_ORACLE})
    """,
    doc=(
        "Window-function surface as one tagged union (r6 window re-pack; "
        "both variants were standalone driver-green gates). topk: "
        "partitioned row_number top-3 per customer + a global ntile "
        "quartile computed on the dimension-sized table only (never ntile "
        "a fact table unpartitioned), broadcast-joined back. frames: every "
        "frame shape (running / lag / bounded moving / first / last) over "
        "ONE window spec — a single sort+shuffle serves all five."
    ),
)
def window_functions_q(spark, sf):
    topk = window_topk_quartile(spark, sf).select(
        F.lit("topk").alias("variant"),
        F.col("o_custkey").alias("id1"),
        F.col("o_orderkey").alias("id2"),
        F.col("total_c").alias("v1"),
        F.col("rank").cast("long").alias("v2"),
        F.col("value_quartile").alias("v3"),
        F.lit(None).cast("long").alias("v4"),
        F.lit(None).cast("long").alias("v5"),
    )
    frames = window_frames_events(spark, sf).select(
        F.lit("frames").alias("variant"),
        F.col("event_id").alias("id1"),
        F.col("user_id").alias("id2"),
        F.col("running_value_c").alias("v1"),
        F.col("gap_us").alias("v2"),
        F.col("moving_sum_c").alias("v3"),
        F.col("first_event").alias("v4"),
        F.col("last_event").alias("v5"),
    )
    return topk.unionByName(frames)


@q(
    "scalar_top_parts",
    """
    SELECT p_partkey,
           upper(p_name) AS name_upper,
           length(p_name) AS name_len,
           substr(p_type, 1, 5) AS type_prefix,
           concat(p_brand, ':', p_type) AS brand_type,
           replace(p_name, ' ', '_') AS name_snake,
           abs(p_size - 25) AS size_dist,
           p_size % 7 AS size_mod,
           CAST(round(p_retailprice*90) AS BIGINT) AS discounted_c,
           CAST(round(p_retailprice*100) AS BIGINT) AS price_c
    FROM part ORDER BY price_c DESC, p_partkey LIMIT 20
    """,
    doc="String/math scalar functions + global sort/limit top-k (TakeOrdered — never a full sort at scale); deterministic tie-break on p_partkey.",
)
def scalar_top_parts(spark, sf):
    p = _t(spark, sf, "part")
    return (
        p.select(
            "p_partkey",
            F.upper("p_name").alias("name_upper"),
            F.length("p_name").cast("long").alias("name_len"),
            F.substring("p_type", 1, 5).alias("type_prefix"),
            F.concat(F.col("p_brand"), F.lit(":"), F.col("p_type")).alias("brand_type"),
            F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_snake"),
            F.abs(F.col("p_size") - 25).alias("size_dist"),
            (F.col("p_size") % 7).alias("size_mod"),
            cents(F.col("p_retailprice") * 0.9).alias("discounted_c"),
            cents("p_retailprice").alias("price_c"),
        )
        .orderBy(F.col("price_c").desc(), "p_partkey")
        .limit(20)
    )


@q(
    "set_ops_custkeys",
    """
    SELECT 'union_nations' AS op, CAST(nationkey AS BIGINT) AS k FROM (
      SELECT c_nationkey AS nationkey FROM customer UNION SELECT s_nationkey FROM supplier)
    UNION ALL
    SELECT 'intersect', CAST(c_custkey AS BIGINT) FROM (
      SELECT c_custkey FROM customer INTERSECT SELECT o_custkey FROM orders)
    UNION ALL
    SELECT 'except', CAST(c_custkey AS BIGINT) FROM (
      SELECT c_custkey FROM customer EXCEPT SELECT o_custkey FROM orders)
    """,
    doc="UNION (distinct) / INTERSECT / EXCEPT in one tagged result; each is a shuffle on the key — same cost profile as a distinct aggregate.",
)
def set_ops_custkeys(spark, sf):
    c = _t(spark, sf, "customer")
    s = _t(spark, sf, "supplier")
    o = _t(spark, sf, "orders")
    u = (
        c.select(F.col("c_nationkey").alias("k"))
        .union(s.select(F.col("s_nationkey").alias("k")))
        .distinct()
        .select(F.lit("union_nations").alias("op"), F.col("k").cast("long").alias("k"))
    )
    i = (
        c.select("c_custkey")
        .intersect(o.select(F.col("o_custkey").alias("c_custkey")))
        .select(F.lit("intersect").alias("op"), F.col("c_custkey").cast("long").alias("k"))
    )
    x = (
        c.select("c_custkey")
        .exceptAll(o.select(F.col("o_custkey").alias("c_custkey")))
        .distinct()
        .select(F.lit("except").alias("op"), F.col("c_custkey").cast("long").alias("k"))
    )
    return u.unionByName(i).unionByName(x)


# ---------------------------------------------------------------------------
# Scalar functions (string/date/math/json)
# ---------------------------------------------------------------------------

@q(
    "scalar_date_interval_orders",
    """
    SELECT o_orderkey,
           CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
           CAST(EXTRACT(month FROM o_orderdate) AS INTEGER) AS o_month,
           CAST(EXTRACT(day FROM o_orderdate) AS INTEGER) AS o_day,
           CAST(EXTRACT(hour FROM o_orderdate) AS INTEGER) AS o_hour,
           date_trunc('month', o_orderdate) AS month_start,
           CAST(strftime(o_orderdate, '%Y-%m') AS VARCHAR) AS year_month,
           o_orderdate + INTERVAL 30 DAY AS ship_by,
           CAST(date_diff('day', o_orderdate, TIMESTAMP '2026-01-01 00:00:00') AS BIGINT) AS days_until_2026,
           CAST(dayofweek(o_orderdate) AS BIGINT) AS dow_sun0
    FROM orders
    """,
    doc="Date extraction, truncation, formatting, interval arithmetic and day-of-week (normalized to Sunday=0: Spark dayofweek is 1-based-Sunday, DuckDB 0-based) in one map-only pass.",
)
def scalar_date_interval_orders(spark, sf):
    o = _t(spark, sf, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("o_year"),
        F.month("o_orderdate").alias("o_month"),
        F.dayofmonth("o_orderdate").alias("o_day"),
        F.hour("o_orderdate").alias("o_hour"),
        F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
        F.date_format("o_orderdate", "yyyy-MM").alias("year_month"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("ship_by"),
        F.datediff(F.lit("2026-01-01").cast("date"), F.col("o_orderdate").cast("date"))
        .cast("long")
        .alias("days_until_2026"),
        (F.dayofweek("o_orderdate") - 1).cast("long").alias("dow_sun0"),
    )


@q(
    "json_reingest_events",
    f"""
    WITH {EVENTS_CTE},
    j AS (
      SELECT event_type, COUNT(*) AS n_events,
             CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
      FROM events GROUP BY event_type),
    doubled AS (SELECT * FROM events UNION ALL SELECT * FROM events),
    dd AS (SELECT event_type, COUNT(*) AS n_dedup
           FROM (SELECT DISTINCT * FROM doubled) GROUP BY event_type)
    SELECT event_type, n_events, sum_k, n_dedup FROM j JOIN dd USING (event_type)
    """,
    doc="JSON field extraction agg joined with re-ingestion dedup (reference periodic re-scan #23 re-ingests by design — dropDuplicates collapses the doubled input exactly).",
)
def json_reingest_events(spark, sf):
    e = _t(spark, sf, "events")
    j = (
        e.withColumn("k", F.get_json_object("props", "$.k").cast("long"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("k").alias("sum_k"))
    )
    dd = (
        e.unionAll(e)
        .dropDuplicates()
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_dedup"))
    )
    return j.join(dd, "event_type")


# ---------------------------------------------------------------------------
# Ingestion-shaped queries (reference semantics over the events table)
# ---------------------------------------------------------------------------

@q(
    "ingest_tumbling_events",
    f"""
    WITH {EVENTS_CTE}
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_value_c
    FROM events GROUP BY 1, 2
    """,
    doc="Tumbling event-time window aggregation — the batch analog of the reference's Window state (db/DbSetup.scala:99-118).",
)
def ingest_tumbling_events(spark, sf):
    e = _t(spark, sf, "events")
    return (
        e.groupBy(F.date_trunc("hour", F.col("ts")).alias("window_start"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum(cents("value")).alias("sum_value_c"))
    )


@q(
    "streaming_window_aggs",
    f"""
    WITH {EVENTS_CTE}, gaps AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN date_diff('microsecond', lag(ts) OVER w, ts) > 1800000000
                  OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM gaps),
    scms_rws AS (SELECT unnest([0, 1, 2, 3]) AS r),
    scms_cells AS (
      SELECT date_trunc('hour', ts) AS t_start, r,
             ('0x' || substr(md5('cms-42-' || CAST(r AS VARCHAR) || '-' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 64 AS b
      FROM events CROSS JOIN scms_rws WHERE user_id IS NOT NULL),
    scms_sk AS (SELECT t_start, r, b, COUNT(*) AS cnt FROM scms_cells GROUP BY 1, 2, 3),
    scms_probes(u) AS (VALUES (1), (2), (-1)),
    scms_pc AS (
      SELECT u, r,
             ('0x' || substr(md5('cms-42-' || CAST(r AS VARCHAR) || '-' || CAST(u AS VARCHAR)), 1, 15))::BIGINT % 64 AS b
      FROM scms_probes CROSS JOIN scms_rws),
    scms_est AS (
      SELECT wt.t_start, p.u, MIN(COALESCE(s.cnt, 0)) AS est
      FROM (SELECT DISTINCT t_start FROM scms_sk) wt
      CROSS JOIN scms_pc p
      LEFT JOIN scms_sk s ON s.t_start = wt.t_start AND s.r = p.r AND s.b = p.b
      GROUP BY 1, 2),
    scms_tru AS (
      SELECT date_trunc('hour', ts) AS t_start, user_id AS u, COUNT(*) AS tru
      FROM events WHERE user_id IN (1, 2, -1) GROUP BY 1, 2)
    SELECT 'tumbling_1h' AS variant, event_type AS k, date_trunc('hour', ts) AS t_start,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_value_c
    FROM events GROUP BY 2, 3
    UNION ALL
    SELECT 'session_30m', CAST(user_id AS VARCHAR), min(ts), COUNT(*),
           CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT)
    FROM sessions GROUP BY user_id, session_id
    UNION ALL
    SELECT 'hopping_1h_30m', event_type,
           time_bucket(INTERVAL '30 minutes', ts) - i * INTERVAL '30 minutes',
           COUNT(*),
           CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT)
    FROM events CROSS JOIN (SELECT unnest([0, 1]) AS i) hop
    GROUP BY 1, 2, 3
    UNION ALL
    SELECT 'vhist_1h', CAST(bkt AS VARCHAR), t_start, COUNT(*),
           CAST(SUM(vc) AS BIGINT)
    FROM (SELECT date_trunc('hour', ts) AS t_start,
                 CAST(round(value*100) AS BIGINT) AS vc,
                 least(greatest(CAST(round(value*100) AS BIGINT) // 1000, 0), 63) AS bkt
          FROM events WHERE value IS NOT NULL)
    GROUP BY bkt, t_start
    UNION ALL
    SELECT 'dvu_1h', event_type, date_trunc('hour', ts),
           COUNT(DISTINCT user_id), CAST(1 AS BIGINT)
    FROM events GROUP BY 2, 3
    UNION ALL
    SELECT 'scms_1h', CAST(r AS VARCHAR) || '|' || CAST(b AS VARCHAR), t_start,
           cnt, CAST(1 AS BIGINT)
    FROM scms_sk
    UNION ALL
    SELECT 'scms_est_1h', CAST(e.u AS VARCHAR), e.t_start, e.est,
           CAST(COALESCE(t.tru, 0) AS BIGINT)
    FROM scms_est e LEFT JOIN scms_tru t ON t.t_start = e.t_start AND t.u = e.u
    """,
    doc="All five streaming windowed aggregations through Structured Streaming end-to-end, as one tagged union, built and drained by tamer_spark.streaming (stream_parquet, windowed_agg, run_available_now_memory). tumbling_1h: file-source stream over the events parquet, event-time watermark, window('1 hour') agg — the streaming twin of ingest_tumbling_events. session_30m: native session_window (30-min gap), hash-matched against the batch gap-sessionization oracle (edge note: session_window's half-open merge treats an exactly-30-min gap as new while the batch rule (strict >) keeps it — the fixture contains no exact-gap pair at any SF, verified). hopping_1h_30m (r12): sliding window('1 hour', '30 minutes') — every event belongs to exactly window/slide = 2 overlapping windows; the oracle replays Spark's epoch-aligned window membership as an events × [0,1] hop cross join over 30-minute time_buckets (DuckDB's 2000-01-01 time_bucket origin is 30-minute-aligned with the epoch origin, so the bucket edges coincide), which pins both the alignment rule and the per-event fan-out. vhist_1h (r12 continuation): the STREAMING value histogram — per-(1h window, frozen $10-cent bucket, clamp-to-edge) counts + sums, the monitoring primitive (numeric_drift's grid) under event-time semantics; NULLs filtered before the clamp (the greatest(NULL,0)=0 trap). dvu_1h (r12 continuation): streaming distinct-users-per-window — COUNT(DISTINCT) needs unbounded state and is unsupported in streaming, HLL++ (approx_count_distinct) is the standard answer; graded via the approx_distinct_users re-shape (batch exact + BOOLEAN pinning the streaming estimate within max(5×rsd, 2) — the absolute floor covers HLL++ sparse-mode ±1 at tiny per-window cardinalities, measured max dev 1 over 3385 windows; the estimate itself is engine-specific), so the sketch runs end-to-end through watermark+window+AvailableNow while every graded column stays engine-reproducible. scms_1h + scms_est_1h (r12 continuation): STREAMING Count-Min Sketch under event-time windows (operators/cms.cms_windowed_cells) — frequency monitoring over a key of unbounded cardinality (user_id stands in for URLs/token-space), where per-key per-window counts would grow state without bound; the sketch bounds state at d·w = 256 counters per live window. Unlike dvu's HLL the cells are md5-deterministic (the repo hash convention), so BOTH the per-(window, r, b) cells AND the per-(window, probe) point estimates are hash-graded EXACTLY — no tolerance contract; the estimate rows carry (est, exact truth) with est ≥ true by the overcount bound (est computed post-drain from the drained cells — the sketch is the only streaming state; windows × 3 probes is a bounded broadcast cross join). NULL keys dropped (no key to count); probe -1 is never present (est = 0 = truth everywhere). Six legs drain via Trigger.AvailableNow into a memory sink (scms_est_1h is derived post-drain from the scms_1h cells, per above — it never streams itself), and every leg must hash-match the batch SQL oracle; the watermark is set far beyond the fixture's time range so completeness is exact (production tunes it to the real lateness bound; see streaming/readers.py).",
)
def streaming_window_aggs_q(spark, sf):
    from tamer_spark.streaming.readers import run_available_now_memory, windowed_agg

    ev = _events_stream(spark, sf)
    sums = [F.count(F.lit(1)).alias("n_events"), F.sum(cents("value")).alias("sum_value_c")]

    def drained(stream, window, keys, aggs):
        agg = windowed_agg(stream, "ts", window, "3650 days", keys, aggs)
        return run_available_now_memory(agg, "complete")

    def leg(variant, out, key):
        return out.select(
            F.lit(variant).alias("variant"),
            F.col(key).cast("string").alias("k"),
            F.col("window_start").alias("t_start"),
            "n_events",
            "sum_value_c",
        )

    hour = F.window("ts", "1 hour")
    t_out = leg("tumbling_1h", drained(ev, hour, ["event_type"], sums), "event_type")
    s_out = leg(
        "session_30m",
        drained(ev, F.session_window("ts", "30 minutes"), ["user_id"], sums),
        "user_id",
    )
    h_out = leg(
        "hopping_1h_30m",
        drained(ev, F.window("ts", "1 hour", "30 minutes"), ["event_type"], sums),
        "event_type",
    )
    # streaming value histogram (r12 continuation): the monitoring
    # primitive under event-time windows — per-(window, frozen bucket)
    # counts + sums. NULL values filtered BEFORE the clamp (the
    # greatest(NULL,0)=0 trap, numeric_drift rule).
    bkt = F.least(
        F.greatest(F.expr("CAST(round(value*100) AS BIGINT) div 1000"), F.lit(0).cast("long")),
        F.lit(63).cast("long"),
    ).alias("bkt")
    v_out = leg(
        "vhist_1h",
        drained(ev.filter(F.col("value").isNotNull()), hour, [bkt], sums),
        "bkt",
    )
    # streaming distinct users (r12 continuation): COUNT(DISTINCT) is
    # unsupported in streaming (unbounded state) — HLL++ is THE answer;
    # the estimate is engine-specific, so the graded surface is the
    # approx_distinct_users re-shape: batch exact + a BOOLEAN pinning the
    # streaming estimate within 5×rsd of it (both deterministic).
    rsd = 0.05
    dvu = drained(ev, hour, ["event_type"], [F.approx_count_distinct("user_id", rsd).alias("est")])
    # streaming windowed CMS (r12 continuation): frequency sketching over
    # an unbounded-cardinality key under event-time windows — the
    # bounded-state alternative to per-key counts, and (unlike HLL) fully
    # md5-deterministic, so BOTH the per-window cells and the per-window
    # point estimates are hash-graded exactly, no tolerance contract.
    from tamer_spark.operators.cms import cms_window_point_estimates, cms_windowed_cells

    scms = cms_windowed_cells(
        ev.withWatermark("ts", "3650 days"), token_col="user_id", d=4, w=64, seed=42
    )
    cells_t = run_available_now_memory(scms, "complete")
    exact_dvu = (
        _t(spark, sf, "events")
        .groupBy(
            F.date_trunc("hour", F.col("ts")).alias("t_start"),
            F.col("event_type").alias("k"),
        )
        .agg(F.count_distinct("user_id").alias("exact_distinct"))
    )
    stream_dvu = dvu.select(
        F.col("window_start").alias("_s_t"), F.col("event_type").alias("_s_k"), "est"
    )
    # eqNullSafe keys: a NULL event_type (or ts) group survives DuckDB's
    # GROUP BY and both Spark group-bys — a plain equi-join would drop it
    # from this variant alone (the winsorize inner-join trap; fixture-safe
    # today, contract-safe now)
    d_out = (
        stream_dvu.join(
            exact_dvu,
            stream_dvu["_s_t"].eqNullSafe(exact_dvu["t_start"])
            & stream_dvu["_s_k"].eqNullSafe(exact_dvu["k"]),
        )
        .select(
            F.lit("dvu_1h").alias("variant"),
            "k",
            "t_start",
            F.col("exact_distinct").alias("n_events"),
            # greatest(relative, 2): per-(hour, type) cardinalities are
            # tiny and HLL++'s sparse mode deviates by ±1 there (measured
            # max dev 1 over 3385 windows at sf0.01) — a pure relative
            # bound flags exact=3/est=2 as a failure it is not
            (
                F.abs(F.col("est") - F.col("exact_distinct"))
                <= F.greatest(
                    5 * rsd * F.col("exact_distinct"), F.lit(2.0)
                )
            )
            .cast("long")
            .alias("sum_value_c"),
        )
    )
    c_out = cells_t.select(
        F.lit("scms_1h").alias("variant"),
        F.concat(
            F.col("r").cast("string"), F.lit("|"), F.col("b").cast("string")
        ).alias("k"),
        F.col("w.start").alias("t_start"),
        F.col("cnt").alias("n_events"),
        F.lit(1).cast("long").alias("sum_value_c"),
    )
    # point estimates per (window, probe) from the DRAINED cells (batch-
    # side; the sketch is the only streaming state), paired with the exact
    # batch truth — est >= true per window by the CMS overcount bound, and
    # both columns are md5-deterministic so the row hash-grades exactly
    probes = spark.createDataFrame([(1,), (2,), (-1,)], "token long")
    est = cms_window_point_estimates(cells_t, probes, token_col="token", d=4, w=64, seed=42)
    tru = (
        _t(spark, sf, "events")
        .filter(F.col("user_id").isin(1, 2, -1))
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("user_id").alias("token"))
        .agg(F.count(F.lit(1)).alias("tru"))
    )
    p_out = (
        est.join(tru, ["w", "token"], "left")
        .select(
            F.lit("scms_est_1h").alias("variant"),
            F.col("token").cast("string").alias("k"),
            F.col("w.start").alias("t_start"),
            F.col("est").alias("n_events"),
            F.coalesce(F.col("tru"), F.lit(0)).cast("long").alias("sum_value_c"),
        )
    )
    return (
        t_out.unionByName(s_out)
        .unionByName(h_out)
        .unionByName(v_out)
        .unionByName(d_out)
        .unionByName(c_out)
        .unionByName(p_out)
    )


@q(
    "streaming_row_gates",
    f"""
    WITH {EVENTS_CTE}
    SELECT 'dedup' AS variant, event_id, user_id, event_type AS s1, CAST(NULL AS VARCHAR) AS s2
    FROM events
    UNION ALL
    SELECT 'static_enrich', e.event_id, e.user_id, c.c_name, n.n_name
    FROM events e
      JOIN customer c ON e.user_id % 1500 = c.c_custkey - 1
      JOIN nation n ON c.c_nationkey = n.n_nationkey
    """,
    doc="Both row-level Structured Streaming gates as one tagged union, built and drained by tamer_spark.streaming. dedup: the events stream unioned with itself (every row arrives twice) through stream_dedup_exact(event_id, ts) — watermark + dropDuplicatesWithinWatermark, so a key leaves the state store once the watermark passes it (every duplicate carries the same ts, so the rows equal plain dropDuplicates) — output must contain each event exactly once, hash-matched against plain SELECT; the watermark is set beyond the fixture's time range (production bounds it with the real lateness window). static_enrich: the events stream joined against static customer+nation dims (broadcast — the stream side never shuffles), hash-matched against the batch join; the synthetic user_id%1500 key maps every event onto the customer fixture. Both drain via Trigger.AvailableNow.",
)
def streaming_row_gates_q(spark, sf):
    from tamer_spark.streaming.readers import run_available_now_memory, stream_dedup_exact

    cols = ["event_id", "ts", "user_id", "event_type"]
    doubled = _events_stream(spark, sf).select(cols).union(_events_stream(spark, sf).select(cols))
    deduped = stream_dedup_exact(doubled, ["event_id"], ts_col="ts", watermark="3650 days")
    d_out = run_available_now_memory(deduped, "append").select(
        F.lit("dedup").alias("variant"),
        "event_id",
        "user_id",
        F.col("event_type").alias("s1"),
        F.lit(None).cast("string").alias("s2"),
    )

    ev = _events_stream(spark, sf).select("event_id", "user_id")
    cust = _t(spark, sf, "customer").select("c_custkey", "c_name", "c_nationkey")
    nat = _t(spark, sf, "nation").select("n_nationkey", "n_name")
    joined = (
        ev.join(F.broadcast(cust), ev["user_id"] % 1500 == cust["c_custkey"] - 1)
        .join(F.broadcast(nat), cust["c_nationkey"] == nat["n_nationkey"])
        .select("event_id", "user_id", "c_name", "n_name")
    )
    e_out = run_available_now_memory(joined, "append").select(
        F.lit("static_enrich").alias("variant"),
        "event_id",
        "user_id",
        F.col("c_name").alias("s1"),
        F.col("n_name").alias("s2"),
    )
    return d_out.unionByName(e_out)


@q(
    "ingest_cursor_user_stats",
    f"""
    WITH {EVENTS_CTE}
    SELECT user_id, max(ts) AS max_ts, COUNT(*) AS n_events,
           arg_min(event_type, event_id) AS first_event_type,
           CAST(min(event_id) AS BIGINT) AS first_event_id
    FROM events GROUP BY user_id
    """,
    doc="Cursor fold (max-timestamp per key — the reference's window-advance rule, DbSetup.scala:109-117) + min_by/arg_min deterministic 'first row per key' in one partial-aggregated pass.",
)
def ingest_cursor_user_stats(spark, sf):
    e = _t(spark, sf, "events")
    return e.groupBy("user_id").agg(
        F.max("ts").alias("max_ts"),
        F.count(F.lit(1)).alias("n_events"),
        F.min_by("event_type", "event_id").alias("first_event_type"),
        F.min("event_id").alias("first_event_id"),
    )


@q(
    "sessionize_events",
    f"""
    WITH {EVENTS_CTE}, gaps AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN date_diff('microsecond', lag(ts) OVER w, ts) > 1800000000
                  OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, event_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM gaps
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id, COUNT(*) AS n_events,
           min(ts) AS session_start, max(ts) AS session_end,
           CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_value_c
    FROM sessions GROUP BY user_id, session_id
    """,
    doc="Gap-based sessionization (30 min): the batch analog of session_window in Structured Streaming.",
)
def sessionize_events(spark, sf):
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    new_session = F.when(gap_us.isNull() | (gap_us > 1_800_000_000), 1).otherwise(0)
    return (
        e.withColumn("new_session", new_session)
        .withColumn("session_id", F.sum("new_session").over(wsum).cast("long"))
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.sum(cents("value")).alias("sum_value_c"),
        )
    )


# ---------------------------------------------------------------------------
# LLM-data operators: dedup / text analysis / similarity (north star)
# ---------------------------------------------------------------------------

# URL derivation for the url-dedup variant: documents carry no URL column,
# so one is derived from doc_id with PINNED variation (mirrored literally in
# the oracle) planting every trap the canonicalizer must survive: scheme
# case (http/HTTPS), host case + www. prefix, explicit default ports (:443
# on an http URL included — stripped regardless, see functions/text.py),
# trailing slash, tracking params (utm_*, gclid, fbclid) in varying
# positions, kept params (id, lang) in varying ORDER, and a #fragment. The
# canonical key collapses to (host = f(doc_id%40), path = f(doc_id%160),
# id = f(doc_id%80)) — i.e. doc_id % 160 — so every canonical group unions
# docs that differ in all six surface dimensions.
def _derived_url_col():
    # one-parse SQL construction (r14): one F.expr parse instead of ~640
    # py4j round-trips of Column chaining; tree identical
    idq = "concat('id=', CAST(doc_id % 80 AS STRING))"
    scheme = "CASE WHEN (doc_id % 2) = 0 THEN 'http://' ELSE 'HTTPS://' END"
    host = (
        "CASE WHEN (doc_id % 4) < 2 "
        "THEN concat('WWW.Site', CAST(doc_id % 40 AS STRING), '.Example.COM') "
        "ELSE concat('site', CAST(doc_id % 40 AS STRING), '.example.com') END"
    )
    port = (
        "CASE WHEN (doc_id % 8) = 3 THEN ':443' "
        "WHEN (doc_id % 8) = 5 THEN ':80' ELSE '' END"
    )
    path = (
        "concat('/Docs/', CAST(doc_id % 160 AS STRING), "
        "CASE WHEN (doc_id % 3) = 0 THEN '/' ELSE '' END)"
    )
    query = (
        "CASE WHEN (doc_id % 5) = 0 THEN "
        f"concat('?utm_source=feed&', {idq}, '&lang=en&utm_campaign=x') "
        f"WHEN (doc_id % 5) = 1 THEN concat('?lang=en&', {idq}, '&gclid=x1') "
        f"WHEN (doc_id % 5) = 2 THEN concat('?fbclid=z&', {idq}, '&lang=en') "
        f"WHEN (doc_id % 5) = 3 THEN concat('?', {idq}, '&lang=en') "
        f"ELSE concat('?lang=en&utm_medium=email&', {idq}) END"
    )
    frag = (
        "CASE WHEN (doc_id % 6) = 0 THEN concat('#sec-', CAST(doc_id AS STRING)) "
        "ELSE '' END"
    )
    return F.expr(
        f"concat({scheme}, {host}, {port}, {path}, {query}, {frag})"
    )


_URL_DERIVE_SQL = """
    SELECT doc_id,
      (CASE WHEN doc_id % 2 = 0 THEN 'http://' ELSE 'HTTPS://' END)
      || (CASE WHEN doc_id % 4 < 2
            THEN 'WWW.Site' || (doc_id % 40) || '.Example.COM'
            ELSE 'site' || (doc_id % 40) || '.example.com' END)
      || (CASE WHEN doc_id % 8 = 3 THEN ':443'
               WHEN doc_id % 8 = 5 THEN ':80' ELSE '' END)
      || '/Docs/' || (doc_id % 160)
      || (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END)
      || (CASE doc_id % 5
            WHEN 0 THEN '?utm_source=feed&id=' || (doc_id % 80) || '&lang=en&utm_campaign=x'
            WHEN 1 THEN '?lang=en&id=' || (doc_id % 80) || '&gclid=x1'
            WHEN 2 THEN '?fbclid=z&id=' || (doc_id % 80) || '&lang=en'
            WHEN 3 THEN '?id=' || (doc_id % 80) || '&lang=en'
            ELSE '?lang=en&utm_medium=email&id=' || (doc_id % 80) END)
      || (CASE WHEN doc_id % 6 = 0 THEN '#sec-' || doc_id ELSE '' END) AS url
    FROM documents
    """


def _url_canon_sql() -> str:
    """The oracle's canonicalization chain, generated from the SAME pinned
    constants functions/text.canonicalize_url_sql renders for Spark —
    the two engines cannot silently diverge."""
    import tamer_spark.functions.text as T

    return f"""
    WITH u AS ({_URL_DERIVE_SQL}),
    s1 AS (SELECT doc_id, regexp_replace(url, '{T.URL_SCHEME_RE}', '') AS s FROM u),
    s2 AS (SELECT doc_id, s, regexp_extract(s, '{T.URL_HOSTPORT_RE}') AS hp_raw FROM s1),
    s3 AS (SELECT doc_id,
           regexp_replace(regexp_replace(lower(hp_raw), '{T.URL_WWW_RE}', ''), '{T.URL_DEFAULT_PORT_RE}', '') AS host,
           regexp_replace(substr(s, length(hp_raw) + 1), '{T.URL_FRAGMENT_RE}', '') AS rest FROM s2),
    s4 AS (SELECT doc_id, host,
           regexp_replace(regexp_extract(rest, '{T.URL_PATH_RE}'), '{T.URL_TRAILING_SLASH_RE}', '') AS path,
           array_to_string(list_sort(list_filter(
               string_split(regexp_extract(rest, '{T.URL_QUERY_RE}', 1), '&'),
               p -> length(p) > 0 AND NOT regexp_matches(p, '{T.URL_TRACKING_PARAM_RE}'))), '&') AS q
           FROM s3)
    SELECT doc_id, host || path || (CASE WHEN q = '' THEN '' ELSE '?' || q END) AS c FROM s4
    """


# Domain-variant URL derivation: unlike _derived_url_col (whose hosts all
# share one registrable domain — right for URL dedup, degenerate for a
# DOMAIN rollup), this one plants every extraction trap with real domain
# diversity: subdomains that must COLLAPSE (www./blog./shop. of one
# publisher), a pinned two-level public suffix (three-label rule), an
# explicit non-default port (any-port strip), IPv4 hosts (returned whole),
# a single-label host, and a host-less relative reference (singleton rule).
def _derived_domain_url_col():
    # one-parse SQL construction (r14); tree identical to the former
    # chained-when Column build
    n20 = "CAST(doc_id % 20 AS STRING)"
    return F.expr(
        "CASE "
        f"WHEN (doc_id % 7) = 0 THEN concat('https://WWW.Site', {n20}, '.Example.COM/a') "
        f"WHEN (doc_id % 7) = 1 THEN concat('http://shop.site', {n20}, '.co.uk:8080/x') "
        f"WHEN (doc_id % 7) = 2 THEN concat('http://blog.site', {n20}, '.example.com/y') "
        "WHEN (doc_id % 7) = 3 THEN concat('HTTP://10.', CAST(doc_id % 5 AS STRING), '.0.1/path') "
        "WHEN (doc_id % 7) = 4 THEN 'http://localhost/z' "
        "WHEN (doc_id % 7) = 5 THEN '/relative/path?x=1' "
        f"ELSE concat('https://Site', {n20}, '.example.COM:443/z') END"
    )


_DOMAIN_URL_SQL = """
    SELECT doc_id,
      (CASE doc_id % 7
         WHEN 0 THEN 'https://WWW.Site' || (doc_id % 20) || '.Example.COM/a'
         WHEN 1 THEN 'http://shop.site' || (doc_id % 20) || '.co.uk:8080/x'
         WHEN 2 THEN 'http://blog.site' || (doc_id % 20) || '.example.com/y'
         WHEN 3 THEN 'HTTP://10.' || (doc_id % 5) || '.0.1/path'
         WHEN 4 THEN 'http://localhost/z'
         WHEN 5 THEN '/relative/path?x=1'
         ELSE 'https://Site' || (doc_id % 20) || '.example.COM:443/z' END) AS url
    FROM documents
    """


def _domain_dd_ctes() -> str:
    """Shared CTE chain (du → dh → dl → dd) replaying the registrable-
    domain extraction from the SAME constants
    functions/text.registrable_domain_col compiles to Catalyst (host
    regexes, any-port strip, IPv4 guard, pinned two-level suffix list) —
    ONE copy feeds every domain-keyed oracle (rollup + cap), so the
    engines cannot silently diverge and neither can the two oracles."""
    import tamer_spark.functions.text as T

    suffixes = ", ".join(f"'{sfx}'" for sfx in T.TWO_LEVEL_SUFFIXES)
    return f"""
    du AS ({_DOMAIN_URL_SQL}),
    dh AS (SELECT doc_id,
           regexp_replace(regexp_replace(lower(regexp_extract(regexp_replace(url, '{T.URL_SCHEME_RE}', ''), '{T.URL_HOSTPORT_RE}')), '{T.URL_WWW_RE}', ''), '{T.URL_ANY_PORT_RE}', '') AS host
      FROM du),
    dl AS (SELECT doc_id, host, string_split(host, '.') AS ls, len(string_split(host, '.')) AS n FROM dh),
    dd AS (SELECT doc_id,
           CASE WHEN regexp_matches(host, '{T.IPV4_HOST_RE}') THEN host
                WHEN n >= 3 AND (ls[n-1] || '.' || ls[n]) IN ({suffixes})
                  THEN ls[n-2] || '.' || ls[n-1] || '.' || ls[n]
                WHEN n >= 2 THEN ls[n-1] || '.' || ls[n]
                ELSE host END AS dom
      FROM dl)"""


def _domain_rollup_sql() -> str:
    return f"""
    WITH {_domain_dd_ctes()},
    dk AS (SELECT doc_id,
           CASE WHEN dom IS NULL OR dom = '' THEN 'nulldomain-' || doc_id
                ELSE md5(dom) END AS k
      FROM dd)
    SELECT k AS content_hash, CAST(min(doc_id) AS BIGINT) AS keep_id, COUNT(*) AS dup_count
    FROM dk GROUP BY k
    """


# Standalone builder kept for plan pins (graded via the merged dedup_exact
# gate's 'domain' variant).
def domain_rollup_docs_q(spark, sf):
    from tamer_spark.operators.dedup import domain_doc_counts

    d = _t(spark, sf, "documents").select(
        "doc_id", _derived_domain_url_col().alias("url")
    )
    return domain_doc_counts(d)


# Standalone builder kept for plan pins / bench (graded via the merged
# dedup_exact gate's 'url' variant).
def url_dedup_docs_q(spark, sf):
    from tamer_spark.operators.dedup import url_dedup_counts

    d = _t(spark, sf, "documents").select("doc_id", _derived_url_col().alias("url"))
    return url_dedup_counts(d)


def _derived_template_col():
    """Six-field template-y text derived from doc_id (the url-variant
    precedent: fixture text carries no volatile tokens, so the gate plants
    them) — every raw string is DISTINCT (doc_id embedded five ways) and
    masking must collapse the corpus into exactly 4 template families
    (the 'item <word>' suffix), making every mask live and binding."""
    fam = F.element_at(
        F.array(F.lit("alpha"), F.lit("beta"), F.lit("gamma"), F.lit("delta")),
        ((F.col("doc_id") % 4) + 1).cast("int"),
    )
    # doc_id % 10^6 in the visible-digit fields: a raw doc_id past 10^7
    # would be an ≥8-digit run and mask to <H> instead of 0, silently
    # changing the family count at larger fixtures (review r12); raw-string
    # uniqueness is carried by the md5 'code' field, which masks to <H> at
    # EVERY length
    return F.concat(
        F.lit("Order #"), (F.col("doc_id") % 1000000).cast("string"),
        F.lit(" for user"), (F.col("doc_id") % 7).cast("string"),
        F.lit("@shop-"), (F.col("doc_id") % 3).cast("string"),
        F.lit(".example: visit https://track.example/p/"), F.col("doc_id").cast("string"),
        F.lit(" code "), F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12),
        F.lit(" total "), ((F.col("doc_id") * 37) % 1000).cast("string"),
        F.lit("  item "), fam,
    )


def _template_mask_sql() -> str:
    """The oracle's masking chain, generated from the SAME pinned constants
    functions/text.template_fingerprint_col compiles to Catalyst."""
    import tamer_spark.functions.text as T

    derive = (
        "'Order #' || CAST(doc_id % 1000000 AS VARCHAR) || ' for user' || "
        "CAST(doc_id % 7 AS VARCHAR) || '@shop-' || CAST(doc_id % 3 AS VARCHAR) || "
        "'.example: visit https://track.example/p/' || CAST(doc_id AS VARCHAR) || "
        "' code ' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12) || "
        "' total ' || CAST((doc_id * 37) % 1000 AS VARCHAR) || '  item ' || "
        "CASE doc_id % 4 WHEN 0 THEN 'alpha' WHEN 1 THEN 'beta' "
        "WHEN 2 THEN 'gamma' ELSE 'delta' END"
    )
    return f"""
    WITH tdt AS (SELECT doc_id, {derive} AS raw FROM documents),
    tm AS (SELECT doc_id,
        trim(regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(lower(raw), '{T.TEMPLATE_EMAIL_RE}', '<E>', 'g'),
                '{T.TEMPLATE_URL_RE}', '<U>', 'g'),
              '{T.TEMPLATE_HEX_RE}', '<H>', 'g'),
            '{T.TEMPLATE_DIGIT_RE}', '0', 'g'),
          '\\s+', ' ', 'g')) AS t
      FROM tdt)
    SELECT md5(t) AS content_hash, CAST(min(doc_id) AS BIGINT) AS keep_id,
           COUNT(*) AS dup_count
    FROM tm GROUP BY t"""


@q(
    "dedup_exact",
    f"""
    SELECT 'raw' AS variant, md5(text) AS content_hash,
           CAST(min(doc_id) AS BIGINT) AS keep_id, COUNT(*) AS dup_count
    FROM documents GROUP BY md5(text)
    UNION ALL
    SELECT 'normalized', md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))),
           CAST(min(doc_id) AS BIGINT), COUNT(*)
    FROM documents GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
    UNION ALL
    SELECT 'sentence', md5(s), CAST(min(doc_id) AS BIGINT), COUNT(*)
    FROM (SELECT doc_id, unnest(string_split(text, '. ')) AS s FROM documents)
    WHERE length(s) >= 1 GROUP BY md5(s)
    UNION ALL
    SELECT 'url', md5(c), CAST(min(doc_id) AS BIGINT), COUNT(*)
    FROM ({_url_canon_sql()}) GROUP BY md5(c)
    UNION ALL
    SELECT 'domain', content_hash, keep_id, dup_count
    FROM ({_domain_rollup_sql()})
    UNION ALL
    SELECT 'template', content_hash, keep_id, dup_count
    FROM ({_template_mask_sql()})
    """,
    doc="Exact dedup/rollup at five granularities tagged in one result: raw document, whitespace/case-normalized document, corpus-wide SENTENCE occurrence counts (the CCNet/Gopher line-level dedup signal — boilerplate sentences repeat across unique documents), URL-level dedup (r11: the CCNet/RefinedWeb stage run FIRST, before any text read — canonicalize scheme/www/default-port/fragment/trailing-slash/tracking-params over a pinned six-dimension URL derivation of doc_id, then one digest shuffle; the text column never enters the url variant's scan), and REGISTRABLE-DOMAIN doc rollup (r12: the CCNet per-domain aggregation / RefinedWeb §3.1 domain-blocklist key — PSL-heuristic extraction [last two host labels, three over a pinned two-level-suffix list, IPv4 hosts whole, any port stripped] over a derivation planting subdomain collapse, a co.uk three-label case, an :8080 port, IPs, a single-label host, and host-less relative refs that become nulldomain singletons; oracle replays the chain from the same constants). Single md5-digest shuffle per variant, map-side combine. template (r12): TEMPLATE-collapse dedup — the tier between normalized-exact and MinHash: mask emails/urls/hex-runs/digit-runs (functions/text.template_fingerprint_col, patterns pinned to the Java/RE2 common subset, mask ORDER load-bearing and pinned), so mail-merge/receipt/listing spam that differs only in volatile tokens dedups at exact-dedup cost; gate derivation plants five doc_id-varying volatile fields in otherwise-shared text so every raw string is distinct and masking must collapse the corpus into exactly 4 families — every mask live and binding; oracle replays the chain from the same constants.",
)
def dedup_exact_q(spark, sf):
    from tamer_spark.operators.dedup import sentence_dedup_counts

    d = _t(spark, sf, "documents")
    raw = dedup_exact(d).select(
        F.lit("raw").alias("variant"), "content_hash", "keep_id", "dup_count"
    )
    norm = dedup_exact_normalized(d).select(
        F.lit("normalized").alias("variant"), "content_hash", "keep_id", "dup_count"
    )
    sent = sentence_dedup_counts(d).select(
        F.lit("sentence").alias("variant"), "content_hash", "keep_id", "dup_count"
    )
    url = url_dedup_docs_q(spark, sf).select(
        F.lit("url").alias("variant"), "content_hash", "keep_id", "dup_count"
    )
    dom = domain_rollup_docs_q(spark, sf).select(
        F.lit("domain").alias("variant"), "content_hash", "keep_id", "dup_count"
    )
    from tamer_spark.operators.dedup import template_dedup_counts

    tmpl = template_dedup_counts(
        d.select("doc_id", _derived_template_col().alias("ttext")), text_col="ttext"
    ).select(F.lit("template").alias("variant"), "content_hash", "keep_id", "dup_count")
    return (
        raw.unionByName(norm)
        .unionByName(sent)
        .unionByName(url)
        .unionByName(dom)
        .unionByName(tmpl)
    )




def _stats_oracle() -> str:
    stop_terms = " + ".join(
        f"len(regexp_extract_all(' ' || text || ' ', '[^A-Za-z]{w}[^A-Za-z]'))" for w in STOPWORDS
    )
    return f"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars_calc,
           CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS n_words,
           CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS n_digits,
           CAST(len(regexp_extract_all(text, '[!-/:-@\\[-`{{-~]')) AS BIGINT) AS n_punct,
           CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE) / greatest(length(text), 1) AS digit_ratio,
           CAST(len(regexp_extract_all(text, '[!-/:-@\\[-`{{-~]')) AS DOUBLE) / greatest(length(text), 1) AS punct_ratio,
           CAST(len(regexp_extract_all(text, ' ')) AS DOUBLE) / greatest(length(text), 1) AS space_ratio,
           CAST({stop_terms} AS DOUBLE)
             / greatest(CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(string_split_regex(trim(text), '\\s+')) END, 1) AS stopword_ratio,
           CAST(length(text) AS DOUBLE)
             / greatest(CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(string_split_regex(trim(text), '\\s+')) END, 1) AS avg_word_len
    FROM documents
    """


_EMAIL_PAT = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PHONE_PAT = "\\+1-555-[0-9]{4}"


def _text_profile_oracle() -> str:
    score_exprs = {
        lang: " + ".join(
            f"len(regexp_extract_all(' ' || text || ' ', '[^A-Za-z]{w}[^A-Za-z]'))" for w in ws
        )
        for lang, ws in sorted(LANG_MARKERS.items())
    }
    scores_sql = ", ".join(f"({e}) AS s_{lang}" for lang, e in score_exprs.items())
    greatest_sql = "greatest(" + ", ".join(f"s_{lang}" for lang in score_exprs) + ")"
    case_branches = " ".join(
        f"WHEN g > 0 AND s_{lang} = g THEN '{lang}'" for lang in sorted(score_exprs)
    )
    from tamer_spark.functions.text import SCRIPT_PATTERNS

    # script profiling: the SAME literal-char-class patterns drive the Spark
    # columns (text_profile's staged counts) and this SQL — single
    # derivation, and codepoint ranges are the Java-regex/RE2 common subset (\\p{{script}}
    # syntax is NOT). Every doc gets one planted non-Latin snippet
    # (doc_id % 4) so all four non-Latin classes are live on the fixture.
    scr_plant = (
        "CASE doc_id % 4 WHEN 0 THEN ' Привет мир' WHEN 1 THEN ' 你好 こんにちは' "
        "WHEN 2 THEN ' مرحبا بالعالم' ELSE ' 안녕하세요' END"
    )
    scr_counts = ", ".join(
        f"CAST(len(regexp_extract_all(st, '{pat}')) AS BIGINT) AS n_{name}"
        for name, pat in sorted(SCRIPT_PATTERNS.items())
    )
    scr_names = sorted(SCRIPT_PATTERNS)
    scr_g = "greatest(" + ", ".join(f"n_{n}" for n in scr_names) + ")"
    scr_case = " ".join(f"WHEN sg > 0 AND n_{n} = sg THEN '{n}'" for n in scr_names)
    scr_cols = ", ".join(f"scro.n_{n}" for n in scr_names)
    return f"""
    WITH stats AS ({_stats_oracle()}),
    scrsrc AS (SELECT doc_id, text || {scr_plant} AS st FROM documents),
    scr AS (SELECT doc_id, {scr_counts} FROM scrsrc),
    scrg AS (SELECT *, {scr_g} AS sg FROM scr),
    scro AS (SELECT *, CASE {scr_case} ELSE 'none' END AS script_pred FROM scrg),
    tok AS (SELECT doc_id, CAST(len(regexp_extract_all(text, '{TOKEN_PATTERN}')) AS BIGINT) AS n_tokens FROM documents),
    lang_scored AS (SELECT doc_id, {scores_sql} FROM documents),
    lang_g AS (SELECT *, {greatest_sql} AS g FROM lang_scored),
    lang AS (SELECT doc_id, CASE {case_branches} ELSE 'und' END AS lang_pred FROM lang_g),
    fp AS (SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split_regex(trim(text), '\\s+'),
                              w -> ('0x' || substr(md5(w), 1, 15))::BIGINT % 1000000007)),
             (acc, h) -> (acc * 31 + h) % 1000000007) AS fingerprint
           FROM documents),
    norm AS (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t FROM documents),
    ws AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
    stop AS (SELECT doc_id,
             md5(array_to_string(list_filter(string_split(t, ' '),
                 w -> NOT list_contains({STOPWORDS!r}, w)), ' ')) AS cleaned_hash,
             CAST(len(list_filter(string_split(t, ' '),
                 w -> NOT list_contains({STOPWORDS!r}, w))) AS BIGINT) AS n_kept
             FROM norm),
    pii_src AS (SELECT doc_id,
             text || CASE WHEN doc_id % 7 = 0
                  THEN ' contact me at user' || doc_id || '@example.com or +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                  ELSE '' END AS pt
             FROM documents),
    pii AS (SELECT doc_id,
            CAST(len(regexp_extract_all(pt, '{_EMAIL_PAT}')) AS BIGINT) AS n_emails,
            CAST(len(regexp_extract_all(pt, '{_PHONE_PAT}')) AS BIGINT) AS n_phones,
            md5(regexp_replace(regexp_replace(pt, '{_EMAIL_PAT}', '<EMAIL>', 'g'), '{_PHONE_PAT}', '<PHONE>', 'g')) AS scrubbed_hash
            FROM pii_src),
    expl AS (SELECT doc_id, unnest(
        CASE WHEN len(w) - 2 <= 0 THEN [array_to_string(w, ' ')]
             ELSE list_transform(range(len(w) - 2), i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])
        END) AS s
      FROM ws),
    reps AS (SELECT doc_id, COUNT(*) AS n_shingles, COUNT(DISTINCT s) AS n_distinct,
             1.0 - CAST(COUNT(DISTINCT s) AS DOUBLE) / COUNT(*) AS repetition
             FROM expl GROUP BY doc_id)
    SELECT stats.*, tok.n_tokens, lang.lang_pred, fp.fingerprint,
           stop.cleaned_hash, stop.n_kept,
           pii.n_emails, pii.n_phones, pii.scrubbed_hash,
           reps.n_shingles, reps.n_distinct, reps.repetition,
           {scr_cols}, scro.script_pred
    FROM stats
      JOIN tok USING (doc_id) JOIN lang USING (doc_id) JOIN fp USING (doc_id)
      JOIN stop USING (doc_id) JOIN pii USING (doc_id) JOIN reps USING (doc_id)
      JOIN scro USING (doc_id)
    """


@q(
    "text_profile",
    _text_profile_oracle(),
    doc="Full per-document text profile in one pass: quality-score stats, BPE-ish token count, marker-word language ID, rolling-hash fingerprint, stopword removal (fingerprinted), PII detect+redact (emails/phones planted on 1-in-7 docs), and 3-gram repetition ratio, plus (r12) Unicode-script profiling — per-script char counts (Latin/Cyrillic/CJK/Arabic/Hangul literal-range classes, the Java-regex/RE2 common subset; \\p{script} syntax is engine-divergent) and the dominant script with alphabetical-first ties, over a derivation planting one non-Latin snippet per doc (doc_id %% 4) so all classes are live on the ASCII fixture — the multilingual ROUTING signal (CJK segmentation? Arabic shaping?) upstream of lang_id's language call. Fully map-only — zero shuffles: repetition is per-document, so the shingle set is a row-local array (array_distinct), not an exploded agg (8x faster at sf0.1 and no exchange at 100 TB). The shingle array is materialized in its own select so CollapseProject cannot re-inline it per reference.",
)
def text_profile_q(spark, sf):
    # r14: every column rendered as ONE SQL string into staged selectExpr
    # calls (the gopher_signals one-parse discipline) — this gate's plan
    # CONSTRUCTION dominated its bench entry (~1.9 s build vs ~0.1 s exec
    # probed at sf0.1) because each helper chained dozens of per-op py4j
    # Column calls. The rendered expressions are the same trees the Column
    # helpers built (nested-when chains flattened to the equivalent ordered
    # CASE, the exact flat form the DuckDB oracle uses); stage structure
    # (three selects staging _ws, script counts, then _sh) is unchanged.
    from tamer_spark.functions.text import LANG_MARKERS, SCRIPT_PATTERNS, dominant_script_sql

    def sq(s: str) -> str:
        return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

    d = _t(spark, sf, "documents")
    # script-profile plant (mirrored in the oracle's scr_plant CASE):
    # every doc gains one non-Latin snippet so all four non-Latin script
    # classes are live on the ASCII fixture
    script_planted = (
        "concat(text, CASE WHEN doc_id % 4 = 0 THEN ' Привет мир'"
        " WHEN doc_id % 4 = 1 THEN ' 你好 こんにちは'"
        " WHEN doc_id % 4 = 2 THEN ' مرحبا بالعالم'"
        " ELSE ' 안녕하세요' END)"
    )
    planted = (
        "concat(text, CASE WHEN doc_id % 7 = 0 THEN"
        " concat(' contact me at user', CAST(doc_id AS STRING),"
        " '@example.com or +1-555-', lpad(CAST(doc_id % 10000 AS STRING), 4, '0'))"
        " ELSE '' END)"
    )
    email, phone = sq(_EMAIL_PAT), sq(_PHONE_PAT)
    scrubbed = (
        f"md5(regexp_replace(regexp_replace({planted}, {email}, '<EMAIL>'),"
        f" {phone}, '<PHONE>'))"
    )
    stop_in = ", ".join(sq(w) for w in STOPWORDS)
    kept = (
        "filter(split(trim(regexp_replace(lower(text), '\\\\s+', ' ')), ' '),"
        f" w -> NOT (w IN ({stop_in})))"
    )
    # Row-local 3-gram shingle array (same semantics as shingle_string_rows:
    # docs shorter than n words contribute their whole normalized text as one
    # shingle). Aliased in its own select — referenced 3× below, and the
    # element_at accesses bind to the materialized `_ws`, not a re-inlined
    # split (the O(words²) trap documented on shingle_string_rows).
    shingles = (
        "CASE WHEN size(_ws) < 3 THEN array(concat_ws(' ', _ws))"
        " ELSE transform(sequence(1, size(_ws) - 2),"
        " i -> concat_ws(' ', element_at(_ws, i), element_at(_ws, i + 1),"
        " element_at(_ws, i + 2))) END"
    )
    # per-word marker count (functions/text._count_marker rendered): matches
    # of '[^A-Za-z]{w}[^A-Za-z]' over the space-padded text
    def marker(w: str) -> str:
        return (
            "size(regexp_extract_all(concat(' ', text, ' '),"
            f" {sq(f'[^A-Za-z]{w}[^A-Za-z]')}, 0))"
        )

    # text_stats_cols rendered (exact-int counts + IEEE ratios of exact ints)
    n_chars = "length(text)"
    n_words = (
        "CASE WHEN length(trim(text)) = 0 THEN 0"
        " ELSE size(split(trim(text), '\\\\s+')) END"
    )
    n_digits = "size(regexp_extract_all(text, '[0-9]', 0))"
    punct_pat = sq("[!-/:-@\\[-`{-~]")
    n_punct = f"size(regexp_extract_all(text, {punct_pat}, 0))"
    n_spaces = "size(regexp_extract_all(text, ' ', 0))"
    n_stop = " + ".join(marker(w) for w in STOPWORDS)
    stats_cols = [
        f"CAST({n_chars} AS BIGINT) AS n_chars_calc",
        f"CAST({n_words} AS BIGINT) AS n_words",
        f"CAST({n_digits} AS BIGINT) AS n_digits",
        f"CAST({n_punct} AS BIGINT) AS n_punct",
        f"CAST({n_digits} AS DOUBLE) / greatest({n_chars}, 1) AS digit_ratio",
        f"CAST({n_punct} AS DOUBLE) / greatest({n_chars}, 1) AS punct_ratio",
        f"CAST({n_spaces} AS DOUBLE) / greatest({n_chars}, 1) AS space_ratio",
        f"CAST({n_stop} AS DOUBLE) / greatest({n_words}, 1) AS stopword_ratio",
        f"CAST({n_chars} AS DOUBLE) / greatest({n_words}, 1) AS avg_word_len",
    ]
    # lang_id_col rendered: argmax of marker sums, ties → language-code order
    # (the Column helper's reversed nested-when chain IS this ordered CASE)
    langs = sorted(LANG_MARKERS)
    scores = {
        lang: "(" + " + ".join(marker(w) for w in LANG_MARKERS[lang]) + ")"
        for lang in langs
    }
    lang_g = "greatest(" + ", ".join(scores[lang] for lang in langs) + ")"
    lang_pred = (
        "CASE "
        + " ".join(
            f"WHEN ({lang_g} > 0) AND ({scores[lang]} = {lang_g}) THEN '{lang}'"
            for lang in langs
        )
        + " ELSE 'und' END"
    )
    # doc_fingerprint_col rendered: polynomial rolling hash of word hashes
    fingerprint = (
        "aggregate(split(trim(text), '\\\\s+'), CAST(0 AS BIGINT),"
        " (acc, w) -> (acc * 31 +"
        " (CAST(conv(substring(md5(w), 1, 15), 16, 10) AS BIGINT) % 1000000007))"
        " % 1000000007)"
    )
    scr_names = sorted(SCRIPT_PATTERNS)
    # script counts staged ONCE next to the shingle array — script_pred's
    # greatest/tie chain references every count ~3×, and an unstaged form
    # re-evaluates the five regexp passes per reference (measured +47 %
    # on this gate; CollapseProject keeps non-cheap staged exprs intact)
    staged = d.selectExpr(
        "doc_id",
        "text",
        "split(trim(regexp_replace(lower(text), '\\\\s+', ' ')), ' ') AS _ws",
        *[
            f"CAST(regexp_count({script_planted}, {sq(SCRIPT_PATTERNS[n])}) AS BIGINT)"
            f" AS n_{n}"
            for n in scr_names
        ],
    ).selectExpr("doc_id", "text", f"{shingles} AS _sh", *[f"n_{n}" for n in scr_names])
    return staged.selectExpr(
        "doc_id",
        *stats_cols,
        f"CAST(size(regexp_extract_all(text, {sq(TOKEN_PATTERN)}, 0)) AS BIGINT)"
        " AS n_tokens",
        f"{lang_pred} AS lang_pred",
        f"{fingerprint} AS fingerprint",
        f"md5(array_join({kept}, ' ')) AS cleaned_hash",
        f"CAST(size({kept}) AS BIGINT) AS n_kept",
        f"CAST(size(regexp_extract_all({planted}, {email}, 0)) AS BIGINT) AS n_emails",
        f"CAST(size(regexp_extract_all({planted}, {phone}, 0)) AS BIGINT) AS n_phones",
        f"{scrubbed} AS scrubbed_hash",
        "CAST(size(_sh) AS BIGINT) AS n_shingles",
        "CAST(size(array_distinct(_sh)) AS BIGINT) AS n_distinct",
        "1.0D - CAST(size(array_distinct(_sh)) AS DOUBLE) / size(_sh) AS repetition",
        *[f"n_{n}" for n in scr_names],
        f"{dominant_script_sql()} AS script_pred",
    )


def _knn_oracle(k: int = 5) -> str:
    return f"""
    WITH q AS (SELECT vec_id AS query_id,
                      list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) AS qv
               FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id AS neighbor_id,
                      list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) AS cv
               FROM embeddings),
         s AS (SELECT query_id, neighbor_id,
                      list_dot_product(qv, cv) / sqrt(list_dot_product(qv, qv) * list_dot_product(cv, cv)) AS cos_raw
               FROM q, c WHERE query_id <> neighbor_id)
    SELECT query_id, neighbor_id, round(cos_raw, 6) AS cosine, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id) AS rank
      FROM s) WHERE rank <= {k}
    """


# Standalone builder kept for plan pins / bench (graded via the merged
# similarity_knn gate's probes=0 variant).
def similarity_knn_q(spark, sf):
    emb = _t(spark, sf, "embeddings")
    return cosine_knn(emb, emb.filter(F.col("vec_id") < 10), k=5)


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: query.spark for name, query in REGISTRY.items()}


def all_oracles() -> dict[str, str]:
    return {name: query.oracle for name, query in REGISTRY.items() if query.oracle is not None}


# ---------------------------------------------------------------------------
# Near-dup dedup + LSH similarity (SQL oracles generated from shared constants)
# ---------------------------------------------------------------------------

_P = MERSENNE_P
_K, _BANDS, _N, _MAX_BUCKET = 16, 4, 3, 1000
# Shared window length for the exact-substring family: the detection gate
# (substring_run_pairs), the removal gate variant (text_cleaning_docs
# 'exsub'), and the incremental-removal gate variant (dedup_incremental
# 'exsub') all use the same L so the graded surfaces describe one
# duplicated-run population.
_RUN_L = 12
_COEFFS = minhash_coefficients(_K, seed=42)


def _shingle_ctes(n: int = _N) -> str:
    shingle_expr = " || ' ' || ".join(f"w[i+{j+1}]" for j in range(n))
    return f"""
    norm AS (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t FROM documents),
    ws AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
    sh AS (SELECT doc_id,
        CASE WHEN len(w) - {n - 1} <= 0 THEN [array_to_string(w, ' ')]
             ELSE list_distinct(list_transform(range(len(w) - {n - 1}), i -> {shingle_expr}))
        END AS shingles FROM ws)
    """


def _minhash_sig_ctes() -> str:
    from tamer_spark.operators.dedup import SHINGLE_BASE as _B

    n = _N
    combine = " + ".join(f"h[i+{j + 1}] * {_B ** (n - 1 - j)}" for j in range(n))
    mins = ", ".join(
        f"list_min(list_transform(sh, x -> ({a}*x+{b}) % {_P}))" for a, b in _COEFFS
    )
    return f"""
    norm AS (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t FROM documents),
    ws AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
    hw AS (SELECT doc_id, list_transform(w, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT % {_P}) AS h FROM ws),
    shl AS (SELECT doc_id,
        list_distinct(CASE WHEN len(h) - {n - 1} <= 0
             THEN [list_reduce(list_prepend(CAST(0 AS BIGINT), h), (acc, x) -> (acc * {_B} + x) % {_P})]
             ELSE list_transform(range(len(h) - {n - 1}), i -> ({combine}) % {_P})
        END) AS sh FROM hw),
    sig AS (SELECT doc_id, [{mins}] AS mh FROM shl)
    """


# Standalone builder kept for plan pins / bench (graded via the merged
# dedup_minhash_lsh gate's 'sigs' variant).
def minhash_signatures_q(spark, sf):
    sigs = minhash_signatures(_t(spark, sf, "documents", floor=True), k=_K, n=_N, seed=42)
    # posexplode_OUTER, deliberately: plain posexplode makes
    # InferFiltersFromGenerate add `size(signature) > 0` above this Generate,
    # and PushDownPredicates then substitutes the ENTIRE staged signature
    # expression (16 array_min transforms → ~97 md5 subtrees) into that
    # filter — evaluated per input row in interpreted mode, a >50× slowdown
    # measured cold at sf0.01. The outer variant infers no filter, keeping
    # the staged projection intact (signature arrays are always length k;
    # pinned by tests/test_plans.py::test_minhash_gate_keeps_staged_hashes).
    return sigs.select(
        "doc_id",
        F.posexplode_outer("signature").alias("hash_index", "minhash"),
    ).select(F.col("doc_id"), F.col("hash_index").cast("long"), F.col("minhash"))


def _lsh_oracle() -> str:
    r = _K // _BANDS
    return f"""
    WITH {_minhash_sig_ctes()},
    banded AS (
      SELECT doc_id, b AS band_id,
             array_to_string(list_transform(mh[b*{r}+1:b*{r}+{r}], x -> CAST(x AS VARCHAR)), '-') AS band_sig
      FROM sig, range({_BANDS}) t(b)
    ),
    ok_buckets AS (
      SELECT band_id, band_sig FROM banded GROUP BY band_id, band_sig HAVING count(*) <= {_MAX_BUCKET}
    ),
    bb AS (SELECT banded.* FROM banded JOIN ok_buckets USING (band_id, band_sig))
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS matching_bands
    FROM bb a JOIN bb b ON a.band_id = b.band_id AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    """


def _clusters_oracle() -> str:
    """Transitive closure over the LSH pair graph via a recursive CTE —
    min-reachable-id per node is exactly what large/small-star converges to."""
    r = _K // _BANDS
    return f"""
    WITH RECURSIVE {_minhash_sig_ctes()},
    banded AS (
      SELECT doc_id, b AS band_id,
             array_to_string(list_transform(mh[b*{r}+1:b*{r}+{r}], x -> CAST(x AS VARCHAR)), '-') AS band_sig
      FROM sig, range({_BANDS}) t(b)
    ),
    ok_buckets AS (
      SELECT band_id, band_sig FROM banded GROUP BY band_id, band_sig HAVING count(*) <= {_MAX_BUCKET}
    ),
    bb AS (SELECT banded.* FROM banded JOIN ok_buckets USING (band_id, band_sig)),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bb a JOIN bb b ON a.band_id = b.band_id AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    ),
    edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
    reach(id, rid) AS (
      SELECT u, u FROM edges
      UNION
      SELECT e.v, reach.rid FROM reach JOIN edges e ON e.u = reach.id
    ),
    comp AS (SELECT id, min(rid) AS rep FROM reach GROUP BY id),
    mapped AS (
      SELECT d.doc_id, coalesce(c.rep, d.doc_id) AS cluster_rep
      FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
    )
    SELECT doc_id, cluster_rep,
           COUNT(*) OVER (PARTITION BY cluster_rep) AS cluster_size
    FROM mapped
    """


@q(
    "dedup_minhash_lsh",
    f"""
    SELECT 'sigs' AS variant, doc_id AS k1, i AS k2, mh[i+1] AS n
    FROM (WITH {_minhash_sig_ctes()} SELECT * FROM sig), range({_K}) t(i)
    UNION ALL
    SELECT 'pairs' AS variant, doc_a AS k1, doc_b AS k2, matching_bands AS n
    FROM ({_lsh_oracle()})
    UNION ALL
    SELECT 'clusters', doc_id, cluster_rep, cluster_size FROM ({_clusters_oracle()})
    UNION ALL
    SELECT 'bestrep', m.doc_id, w.best_id, w.best_q
    FROM ({_clusters_oracle()}) m
    JOIN (
      SELECT cluster_rep, doc_id AS best_id, CAST(n_chars AS BIGINT) AS best_q
      FROM (
        SELECT c.cluster_rep, c.doc_id, d.n_chars,
               row_number() OVER (PARTITION BY c.cluster_rep
                                  ORDER BY d.n_chars DESC, c.doc_id DESC) AS rn
        FROM ({_clusters_oracle()}) c JOIN documents d USING (doc_id))
      WHERE rn = 1
    ) w USING (cluster_rep)
    """,
    doc="The full banded MinHash LSH near-dup pipeline as one tagged union (r6 re-pack folds the formerly-standalone minhash_signatures gate in as the 'sigs' variant — all three stages were driver-green). sigs: the per-doc k-permutation signature itself, exploded to (doc, hash_index, value) — map-only, zero shuffles, read from the SAME persisted signature stage the pairs branch uses (one computation feeds all three variants). pairs: bucket join shuffles (band, sig) only — never the cross product; oversized buckets dropped (skew guard). clusters: the same pairs fed through distributed connected components (alternating large-star/small-star, operators/cc.py) → every doc labeled with its transitive cluster's min id + cluster size; singletons map to themselves. The cluster form is the 100 TB answer to pair-output blowup — a 10k-copy boilerplate cluster is 10k rows vs ~50M pairs; O(log n) rounds, each a groupBy-min shuffle on a shrinking edge set. bestrep (r12): quality-aware representative election (operators/cc.cluster_best_representatives — the keep-BEST policy production dedup runs: RefinedWeb keeps the longest/highest-quality member, min-id cluster_rep is only a stable label): winner per cluster = MAX (n_chars, doc_id) lexicographic struct — partial-aggregable map-side combine (a 10k-member boilerplate cluster shrinks to one row per partition before the exchange; never a row_number window, which would pile the hot cluster into one task), ties broken by highest id; every doc emits (its id, winner id, winner quality) so keep = (k1 == k2) and losers carry provenance; the oracle replays the election as a DESC/DESC rank-1 window over the recursive-CTE clusters.",
)
def dedup_minhash_lsh_q(spark, sf):
    from tamer_spark.operators.cc import attach_cluster_ids
    from tamer_spark.operators.dedup import _release_on_gc, minhash_lsh_pairs_with_cache

    d = _t(spark, sf, "documents", floor=True)
    # hold the signature cache until the UNION result is dropped — the sigs
    # variant, the pairs branch, and the cc seed all read it
    pairs, sigs = minhash_lsh_pairs_with_cache(
        d, k=_K, bands=_BANDS, n=_N, seed=42, max_bucket=_MAX_BUCKET
    )
    s_out = sigs.select(
        "doc_id", F.posexplode_outer("signature").alias("hash_index", "minhash")
    ).select(
        F.lit("sigs").alias("variant"),
        F.col("doc_id").alias("k1"),
        F.col("hash_index").cast("long").alias("k2"),
        F.col("minhash").alias("n"),
    )
    clusters = attach_cluster_ids(d.select("doc_id"), pairs)
    p_out = pairs.select(
        F.lit("pairs").alias("variant"),
        F.col("doc_a").alias("k1"),
        F.col("doc_b").alias("k2"),
        F.col("matching_bands").alias("n"),
    )
    c_out = clusters.select(
        F.lit("clusters").alias("variant"),
        F.col("doc_id").alias("k1"),
        F.col("cluster_rep").alias("k2"),
        F.col("cluster_size").cast("long").alias("n"),
    )
    from tamer_spark.operators.cc import cluster_best_representatives

    # the clusters frame feeds BOTH the 'clusters' row and the election —
    # persist (doc-count-sized) so the O(log n) CC rounds run once
    clusters = clusters.persist()
    best = cluster_best_representatives(
        clusters, d.select("doc_id", "n_chars"), quality_col="n_chars"
    ).select(
        F.lit("bestrep").alias("variant"),
        F.col("doc_id").alias("k1"),
        F.col("best_id").alias("k2"),
        F.col("best_quality").cast("long").alias("n"),
    )
    return _release_on_gc(
        s_out.unionByName(p_out).unionByName(c_out).unionByName(best), sigs, clusters
    )


def _exsub_epoch_removal_ctes(p: str, pred: str, idx: str) -> str:
    """DuckDB replay of operators/runs.exsub_dedup_incremental for one
    epoch: window hashes of the docs matching ``pred``, history hits
    (every occurrence of an ``idx``-indexed hash cut), batch-local keeper
    election among the rest, interval merge + rebuild — the exact
    _EXSUB_ORACLE machinery with the keeper split in two tiers. Emits
    ``{p}out (doc_id, text_dedup)``. CTE names are ``{p}``-prefixed so
    two epochs coexist in one WITH."""
    return f"""
    {p}ws AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
              FROM documents WHERE {pred}),
    {p}wh AS (SELECT doc_id,
              CASE WHEN len(w) - {_RUN_L - 1} <= 0 THEN []
                   ELSE list_transform(range(len(w) - {_RUN_L - 1}), i ->
                        ('0x' || substr(md5(array_to_string(w[i+1:i+{_RUN_L}], ' ')), 1, 15))::BIGINT)
              END AS hs
             FROM {p}ws),
    {p}e AS (SELECT doc_id, unnest(hs) AS h,
                    CAST(generate_subscripts(hs, 1) AS BIGINT) AS pos FROM {p}wh),
    {p}hist AS (SELECT doc_id, pos FROM {p}e WHERE h IN (SELECT h FROM {idx})),
    {p}loc AS (SELECT * FROM {p}e WHERE h NOT IN (SELECT h FROM {idx})),
    {p}keep AS (SELECT h, COUNT(*) AS n, min(ROW(doc_id, pos)) AS fk FROM {p}loc GROUP BY h),
    {p}ldup AS (SELECT e.doc_id, e.pos FROM {p}loc e JOIN {p}keep k USING (h)
                WHERE k.n >= 2 AND ROW(e.doc_id, e.pos) != k.fk),
    {p}dup AS (SELECT doc_id, pos FROM {p}hist UNION ALL SELECT doc_id, pos FROM {p}ldup),
    {p}mark AS (SELECT doc_id, pos,
                CASE WHEN pos > COALESCE(MAX(pos + {_RUN_L - 1}) OVER (
                     PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
                     THEN 1 ELSE 0 END AS newisl
                FROM {p}dup),
    {p}isl AS (SELECT doc_id, pos,
               SUM(newisl) OVER (PARTITION BY doc_id ORDER BY pos) AS isl FROM {p}mark),
    {p}iv AS (SELECT doc_id, MIN(pos) AS s, MAX(pos) + {_RUN_L - 1} AS e
              FROM {p}isl GROUP BY doc_id, isl),
    {p}tok AS (SELECT doc_id, unnest(w) AS word,
                      CAST(generate_subscripts(w, 1) AS BIGINT) AS idx FROM {p}ws),
    {p}kept AS (SELECT t.doc_id, t.idx, t.word FROM {p}tok t LEFT JOIN {p}iv v
                ON t.doc_id = v.doc_id AND t.idx BETWEEN v.s AND v.e
                WHERE v.doc_id IS NULL),
    {p}reb AS (SELECT doc_id, string_agg(word, ' ' ORDER BY idx) AS text_dedup
               FROM {p}kept GROUP BY doc_id),
    {p}out AS (SELECT w.doc_id,
                      CASE WHEN w.w IS NULL THEN NULL
                           ELSE COALESCE(r.text_dedup, '') END AS text_dedup
               FROM {p}ws w LEFT JOIN {p}reb r USING (doc_id))"""


# ExactSubstr-removal epoch indexes for the dedup_incremental gate: xi0 =
# epoch 0's distinct window hashes; xi1 = xi0 ∪ epoch 1's distinct batch
# hashes (ALL of them — the advance rule: after removal the batch keeps
# exactly one occurrence of every batch hash).
_EXSUB_INCR_ORACLE = f"""
    xh0 AS (SELECT doc_id,
            CASE WHEN len(w) - {_RUN_L - 1} <= 0 THEN []
                 ELSE list_transform(range(len(w) - {_RUN_L - 1}), i ->
                      ('0x' || substr(md5(array_to_string(w[i+1:i+{_RUN_L}], ' ')), 1, 15))::BIGINT)
            END AS hs
           FROM (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
                 FROM documents WHERE doc_id % 3 = 0) t),
    xi0 AS (SELECT DISTINCT unnest(hs) AS h FROM xh0),
    {_exsub_epoch_removal_ctes("x1", "doc_id % 3 = 1", "xi0").lstrip()},
    xi1 AS (SELECT h FROM xi0 UNION SELECT DISTINCT h FROM x1e),
    {_exsub_epoch_removal_ctes("x2", "doc_id % 3 = 2", "xi1").lstrip()}"""


_MH_INCR_ORACLE_TAIL = f"""
    mh_banded AS (
      SELECT doc_id, b AS band_id,
             array_to_string(list_transform(mh[b*{_K // _BANDS}+1:b*{_K // _BANDS}+{_K // _BANDS}], x -> CAST(x AS VARCHAR)), '-') AS band_sig
      FROM sig, range({_BANDS}) t(b)
    ),
    mh_idx AS (SELECT DISTINCT band_id, band_sig FROM mh_banded WHERE doc_id % 3 = 0),
    mh_coll AS (SELECT DISTINCT doc_id FROM mh_banded b
                WHERE doc_id % 3 = 1
                  AND EXISTS (SELECT 1 FROM mh_idx i
                              WHERE i.band_id = b.band_id AND i.band_sig = b.band_sig))
"""


@q(
    "dedup_incremental",
    f"""
    WITH {_minhash_sig_ctes()},
         e0 AS (SELECT DISTINCT md5(text) AS content_hash
                FROM documents WHERE doc_id % 3 = 0),
         e1 AS (SELECT doc_id, md5(text) AS content_hash
                FROM documents WHERE doc_id % 3 = 1),
         s1 AS (SELECT doc_id, content_hash FROM (
                  SELECT doc_id, content_hash,
                         row_number() OVER (PARTITION BY content_hash
                                            ORDER BY doc_id) AS rn
                  FROM e1) t
                WHERE rn = 1
                  AND NOT EXISTS (SELECT 1 FROM e0
                                  WHERE e0.content_hash = t.content_hash)),
         i1 AS (SELECT content_hash FROM e0
                UNION SELECT content_hash FROM s1),
         e2 AS (SELECT doc_id, md5(text) AS content_hash
                FROM documents WHERE doc_id % 3 = 2),
         s2 AS (SELECT doc_id, content_hash FROM (
                  SELECT doc_id, content_hash,
                         row_number() OVER (PARTITION BY content_hash
                                            ORDER BY doc_id) AS rn
                  FROM e2) t
                WHERE rn = 1
                  AND NOT EXISTS (SELECT 1 FROM i1
                                  WHERE i1.content_hash = t.content_hash)),
         {_MH_INCR_ORACLE_TAIL},
         {_EXSUB_INCR_ORACLE.lstrip()}
    SELECT 'exact' AS variant, CAST(1 AS BIGINT) AS epoch,
           CAST(doc_id AS BIGINT) AS doc_id, content_hash
    FROM s1
    UNION ALL
    SELECT 'exact', CAST(2 AS BIGINT), CAST(doc_id AS BIGINT), content_hash FROM s2
    UNION ALL
    SELECT 'bloom_verify', CAST(1 AS BIGINT), CAST(doc_id AS BIGINT), content_hash FROM s1
    UNION ALL
    SELECT 'bloom_verify', CAST(2 AS BIGINT), CAST(doc_id AS BIGINT), content_hash FROM s2
    UNION ALL
    SELECT 'minhash', CAST(1 AS BIGINT), CAST(d.doc_id AS BIGINT), md5(d.text)
    FROM documents d
    WHERE d.doc_id % 3 = 1
      AND NOT EXISTS (SELECT 1 FROM mh_coll c WHERE c.doc_id = d.doc_id)
    UNION ALL
    SELECT 'exsub', CAST(1 AS BIGINT), CAST(doc_id AS BIGINT), md5(text_dedup) FROM x1out
    UNION ALL
    SELECT 'exsub', CAST(2 AS BIGINT), CAST(doc_id AS BIGINT), md5(text_dedup) FROM x2out
    UNION ALL
    SELECT 'exsub_bloomv', CAST(1 AS BIGINT), CAST(doc_id AS BIGINT), md5(text_dedup) FROM x1out
    UNION ALL
    SELECT 'exsub_bloomv', CAST(2 AS BIGINT), CAST(doc_id AS BIGINT), md5(text_dedup) FROM x2out
    """,
    doc=(
        "Incremental dedup over three ingest epochs (documents split by "
        "doc_id % 3), one tagged union. exact: epoch 0 seeds the digest "
        "index, epoch 1's survivors (in-batch min-id representative, then "
        "anti-join vs the index) advance it, epoch 2 dedups against the "
        "advanced index — per-epoch SHUFFLE is O(batch), one window "
        "shuffle over the batch reused by the anti-join key; index side "
        "exchange-free when bucketed (operators/dedup_incremental.py). "
        "bloom_verify: both epochs replayed through the bloom-sidecar "
        "path (verify mode), bit-identical to exact by construction — the "
        "oracle replays the SAME survivor SQL under the second tag, so a "
        "bloom false-negative or broken sidecar merge is a hash mismatch. "
        "minhash: epoch 1's NEAR-dup survivors vs epoch 0's LSH band "
        "index (any-full-band collision drops, same k/bands/n/seed and "
        "banding expression as the dedup_minhash_lsh gate) — the DuckDB "
        "oracle recomputes the signatures and band collisions "
        "independently. exsub (r12 continuation): ExactSubstr REMOVAL in "
        "the epoch loop (operators/runs.exsub_dedup_incremental, same "
        "_RUN_L=12 as the batch 'exsub' and detection gates) — history "
        "reduced ONCE to its distinct window-hash set (exsub_window_index,"
        " ~1 hash/token before distinct), every batch occurrence of an "
        "indexed hash cut (arrival-order canonicality: frozen history "
        "cannot re-open, the dedup_exact_incremental contract), batch-"
        "local keepers elected among the rest exactly like the batch "
        "operator, index advanced with ALL distinct batch hashes; the "
        "graded content_hash is md5 of the REBUILT text so splice "
        "correctness is on the surface; the oracle replays both epochs' "
        "two-tier election + interval merge + rebuild with prefix-scoped "
        "CTEs. exsub_bloomv (r13): both exsub epochs replayed through the "
        "WINDOW-HASH bloom sidecar (operators/runs."
        "exsub_dedup_incremental_bloom, verify mode — bloom-positive "
        "windows get the exact join, FPs fall back to the local keeper "
        "pool), sidecar advanced per epoch by bloom_merge_df with the "
        "cached hash stage's distinct hashes, bit-identical to exsub by "
        "construction — the oracle replays the SAME removal SQL under the "
        "second tag, so a bloom false-negative or broken sidecar merge is "
        "a hash mismatch (the digest tier's bloom_verify pattern carried "
        "to the ExactSubstr tier; probabilistic mode is probed by "
        "scripts/incremental_scale_probe.py and pytest-pinned). "
        "Replayed-epoch semantics mirror the reference's "
        "fold-new-data-into-state loop (core/src/main/scala/tamer/"
        "Tamer.scala run loop) in the dedup domain."
    ),
)
def dedup_incremental_q(spark, sf):
    from tamer_spark.operators.bloom import bloom_merge_df
    from tamer_spark.operators.dedup_incremental import (
        append_keys,
        dedup_exact_incremental,
        dedup_exact_incremental_bloom,
        dedup_minhash_incremental,
        exact_bloom_index_df,
        exact_index,
        minhash_band_index,
    )

    d = _t(spark, sf, "documents").select("doc_id", "text")
    e0 = d.filter(F.col("doc_id") % 3 == 0)
    e1 = d.filter(F.col("doc_id") % 3 == 1)
    e2 = d.filter(F.col("doc_id") % 3 == 2)
    # localCheckpoint the frames every later stage re-reads (idx0: s1 + b1
    # + the w0 collect; s1: its gate branch + idx1 + the w1 collect) — the
    # sidecars are small (1024 words), so each bloom probe COLLECTS its
    # words at construction time, and without the checkpoints each epoch's
    # full plan would execute once during construction and again when the
    # gate is graded (repo convention: stage boundaries localCheckpoint,
    # see operators/cc.py)
    idx0 = exact_index(e0).localCheckpoint()
    s1 = dedup_exact_incremental(e1, idx0).localCheckpoint()
    idx1 = append_keys(idx0, s1.select("content_hash"))
    s2 = dedup_exact_incremental(e2, idx1)

    # bloom-sidecar replay (verify mode: bit-identical to exact) with the
    # sidecar maintained incrementally via bloom_merge_df, as a real loop
    # would. w1 advances from s1's keys — b1 ≡ s1 by the verify-mode
    # contract (asserted by this very gate), so building the merge input
    # from s1 avoids executing b1's plan twice
    m = 1 << 16
    w0 = exact_bloom_index_df(idx0, m_bits=m)
    b1 = dedup_exact_incremental_bloom(e1, w0, index=idx0)
    w1 = bloom_merge_df(w0, exact_bloom_index_df(s1.select("content_hash"), m_bits=m))
    b2 = dedup_exact_incremental_bloom(e2, w1, index=idx1)

    # near-dup tier: epoch 1 vs epoch 0's band index, operator defaults ==
    # the gate constants (k=_K, bands=_BANDS, n=_N, seed=42) so the oracle's
    # independent signature recomputation agrees bit-for-bit
    mh_idx = minhash_band_index(e0, k=_K, bands=_BANDS, n=_N, seed=42)
    m1 = dedup_minhash_incremental(e1, mh_idx, k=_K, bands=_BANDS, n=_N, seed=42).withColumn(
        "content_hash", F.md5("text")
    )

    # ExactSubstr-removal tier: epoch 0 seeds the window-hash index,
    # epoch 1's removal runs against it, the index advances with ALL of
    # epoch 1's distinct batch hashes (the operator's advance rule), and
    # epoch 2 removes against the advanced index. The emitted
    # content_hash is md5 of the REBUILT text — splice correctness is on
    # the graded surface, not just removal counts.
    from tamer_spark.operators.dedup import _release_on_gc
    from tamer_spark.operators.runs import (
        exsub_dedup_incremental,
        exsub_dedup_incremental_with_cache,
        exsub_window_index,
    )

    xi0 = exsub_window_index(e0, length=_RUN_L).localCheckpoint()
    # with_cache: the xi1 advance reads epoch 1's window hashes from the
    # SAME persisted stage the removal consumed (one md5-per-token pass,
    # not two — r12 ADVICE); the localCheckpoint below materializes xi1
    # while wh1 is still alive, then _release_on_gc ties the cache to x1.
    x1_raw, wh1 = exsub_dedup_incremental_with_cache(e1, xi0, length=_RUN_L)
    x1 = _release_on_gc(
        x1_raw.withColumn("content_hash", F.md5("text_dedup")), wh1
    )
    xi1 = xi0.unionByName(wh1.select("h")).distinct().localCheckpoint()
    x2 = exsub_dedup_incremental(e2, xi1, length=_RUN_L).withColumn(
        "content_hash", F.md5("text_dedup")
    )
    # exsub bloom sidecar replay (r13, verify mode: bit-identical to the
    # exsub legs — a false negative or broken window-hash sidecar merge is
    # a hash mismatch). Sidecar advanced by bloom_merge_df with epoch 1's
    # distinct hashes from the SAME cached stage the removal used (bh1),
    # exactly as a real loop would — never rebuilt over history.
    from tamer_spark.operators.runs import (
        exsub_bloom_index_df,
        exsub_dedup_incremental_bloom,
    )

    xm = 1 << 16
    xw0 = exsub_bloom_index_df(xi0, m_bits=xm).localCheckpoint()
    bx1 = exsub_dedup_incremental_bloom(
        e1, xw0, index=xi0, length=_RUN_L
    ).withColumn("content_hash", F.md5("text_dedup"))
    # localCheckpoint while the wh1 cache is warm: the sidecar advance then
    # reads the checkpointed hashes, never re-running the md5-per-token pass
    bh1 = wh1.select("h").distinct().localCheckpoint()
    xw1 = bloom_merge_df(xw0, exsub_bloom_index_df(bh1, m_bits=xm))
    bx2 = exsub_dedup_incremental_bloom(
        e2, xw1, index=xi1, length=_RUN_L
    ).withColumn("content_hash", F.md5("text_dedup"))

    def tag(df, variant, epoch):
        return df.select(
            F.lit(variant).alias("variant"),
            F.lit(epoch).cast("long").alias("epoch"),
            F.col("doc_id").cast("long").alias("doc_id"),
            "content_hash",
        )

    return (
        tag(s1, "exact", 1)
        .unionByName(tag(s2, "exact", 2))
        .unionByName(tag(b1, "bloom_verify", 1))
        .unionByName(tag(b2, "bloom_verify", 2))
        .unionByName(tag(m1, "minhash", 1))
        .unionByName(tag(x1, "exsub", 1))
        .unionByName(tag(x2, "exsub", 2))
        .unionByName(tag(bx1, "exsub_bloomv", 1))
        .unionByName(tag(bx2, "exsub_bloomv", 2))
    )


def _pair_stats_ctes() -> str:
    """Shared oracle replay of operators/dedup.shingle_pair_stats — ONE
    copy feeds both set-measure oracles (jaccard + containment), mirroring
    the Spark-side unification."""
    return f"""{_shingle_ctes()},
    expl AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      FROM expl a JOIN expl b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh)"""


def _jaccard_oracle(threshold_num: int, threshold_den: int) -> str:
    return f"""
    WITH {_pair_stats_ctes()}
    SELECT doc_a, doc_b, inter,
           sa.n_sh + sb.n_sh - inter AS union_sz,
           CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) AS jaccard
    FROM inter
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id
    WHERE inter * {threshold_den} >= {threshold_num} * (sa.n_sh + sb.n_sh - inter)
    """


def _containment_oracle(threshold_num: int, threshold_den: int) -> str:
    return f"""
    WITH {_pair_stats_ctes()}
    SELECT doc_a, doc_b, inter,
           least(sa.n_sh, sb.n_sh) AS min_size,
           CAST(inter AS DOUBLE) / least(sa.n_sh, sb.n_sh) AS containment
    FROM inter
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id
    WHERE inter * {threshold_den} >= {threshold_num} * least(sa.n_sh, sb.n_sh)
    """


def _simhash_oracle(bits: int = 32) -> str:
    terms = " + ".join(
        f"CASE WHEN list_sum(list_transform(h, x -> CASE WHEN (x & {1 << i}) > 0 THEN 1 ELSE -1 END)) > 0 "
        f"THEN CAST({1 << i} AS BIGINT) ELSE 0 END"
        for i in range(bits)
    )
    return f"""
    WITH norm AS (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t FROM documents),
    ws AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
    hw AS (SELECT doc_id, list_transform(w, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT) AS h FROM ws)
    SELECT doc_id, CAST({terms} AS BIGINT) AS simhash FROM hw
    """


# Standalone builder kept for plan pins (graded via dedup_ngram_simhash).
def dedup_simhash_q(spark, sf):
    from tamer_spark.operators.dedup import simhash_signatures

    return simhash_signatures(_t(spark, sf, "documents"), bits=32)


@q(
    "dedup_ngram_simhash",
    f"""
    SELECT 'jaccard' AS variant, doc_a AS k1, doc_b AS k2, inter AS v1,
           union_sz AS v2, jaccard AS score
    FROM ({_jaccard_oracle(1, 20)})
    UNION ALL
    SELECT 'simhash', doc_id, CAST(NULL AS BIGINT), simhash,
           CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
    FROM ({_simhash_oracle()})
    UNION ALL
    SELECT 'containment', doc_a, doc_b, inter, min_size, containment
    FROM ({_containment_oracle(1, 4)})
    """,
    doc=(
        "Near-dup signature families as one tagged union (r6 window "
        "re-pack; both originals were standalone driver-green gates). "
        "jaccard: exact "
        "3-gram Jaccard >= 0.05 pairs via shingle equi-join — the post-LSH "
        "verification stage (integer cross-multiplied threshold). simhash: "
        "32-bit bit-majority signatures over word hashes — map-only; "
        "near-dups then group by signature / Hamming-ball probes. "
        "containment (r12 continuation): the ONE-SIDED Jaccard (Broder "
        "1997 — |A∩B| div |A|), reported per unordered pair as the max "
        "direction inter/min(|A|,|B|) at >= 0.25: the asymmetric quote-"
        "inclusion / doc-embeds-doc family resemblance misses (a short "
        "doc quoted whole inside a long one has tiny Jaccard but "
        "containment ~1); same shingle equi-join shape, sizes broadcast, "
        "integer cross-multiplied threshold."
    ),
)
def dedup_ngram_simhash_q(spark, sf):
    from tamer_spark.operators.dedup import (
        _release_on_gc,
        containment_measure,
        jaccard_measure,
        shingle_pair_stats,
    )

    # ONE pair-stats computation feeds both set measures — the shingle
    # self-join is the gate's dominant cost, and the two variants differ
    # only in the final measure expression (the term_stats shared-sketch
    # rule applied here)
    stats, exploded = shingle_pair_stats(_t(spark, sf, "documents"), n=_N)
    cont = containment_measure(stats, 1 / 4).select(
        F.lit("containment").alias("variant"),
        F.col("doc_a").alias("k1"),
        F.col("doc_b").alias("k2"),
        F.col("inter").alias("v1"),
        F.col("min_size").alias("v2"),
        F.col("containment").alias("score"),
    )
    jac = jaccard_measure(stats, 1 / 20).select(
        F.lit("jaccard").alias("variant"),
        F.col("doc_a").alias("k1"),
        F.col("doc_b").alias("k2"),
        F.col("inter").alias("v1"),
        F.col("union_sz").alias("v2"),
        F.col("jaccard").alias("score"),
    )
    sim = dedup_simhash_q(spark, sf).select(
        F.lit("simhash").alias("variant"),
        F.col("doc_id").alias("k1"),
        F.lit(None).cast("long").alias("k2"),
        F.col("simhash").alias("v1"),
        F.lit(None).cast("long").alias("v2"),
        F.lit(None).cast("double").alias("score"),
    )
    return _release_on_gc(jac.unionByName(sim).unionByName(cont), exploded)


def _lsh_knn_oracle(planes: int = 8, dim: int = 64, seed: int = 42, k: int = 5) -> str:
    from tamer_spark.functions.hashing import sign_rows

    rows = sign_rows("lsh", seed, planes, dim)

    def bucket_expr(v: str) -> str:
        terms = []
        for p in range(planes):
            coeff = ", ".join(str(c) for c in rows[p])
            terms.append(
                f"CASE WHEN list_dot_product({v}, [{coeff}]) > 0 THEN {1 << p} ELSE 0 END"
            )
        return " + ".join(terms)

    return f"""
    WITH q AS (SELECT vec_id AS query_id,
                      list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) AS qv
               FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id AS neighbor_id,
                      list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) AS cv
               FROM embeddings),
         qb AS (SELECT query_id, qv, ({bucket_expr('qv')}) AS bucket FROM q),
         cb AS (SELECT neighbor_id, cv, ({bucket_expr('cv')}) AS bucket FROM c),
         s AS (SELECT query_id, neighbor_id,
                      list_dot_product(qv, cv) / sqrt(list_dot_product(qv, qv) * list_dot_product(cv, cv)) AS cos_raw
               FROM qb JOIN cb USING (bucket) WHERE query_id <> neighbor_id)
    SELECT query_id, neighbor_id, round(cos_raw, 6) AS cosine, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id) AS rank
      FROM s) WHERE rank <= {k}
    """


def _lsh_multiprobe_knn_oracle(
    planes: int = 8, dim: int = 64, seed: int = 42, k: int = 5, probes: int = 3
) -> str:
    from tamer_spark.functions.hashing import sign_rows

    _rows = sign_rows("lsh", seed, planes, dim)

    def proj(v: str, p: int) -> str:
        coeff = ", ".join(str(c) for c in _rows[p])
        return f"list_dot_product({v}, [{coeff}])"

    qbucket = " + ".join(
        f"CASE WHEN {proj('qv', p)} > 0 THEN {1 << p} ELSE 0 END" for p in range(planes)
    )
    cbucket = " + ".join(
        f"CASE WHEN {proj('cv', p)} > 0 THEN {1 << p} ELSE 0 END" for p in range(planes)
    )
    keys = ", ".join(
        f"CAST(abs({proj('qv', p)}) * {planes} + {p} AS BIGINT)" for p in range(planes)
    )
    return f"""
    WITH q AS (SELECT vec_id AS query_id,
                      list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) AS qv
               FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id AS neighbor_id,
                      list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) AS cv
               FROM embeddings),
         qb AS (SELECT query_id, qv, ({qbucket}) AS bucket0,
                       list_sort([{keys}]) AS flip_keys
                FROM q),
         qp AS (SELECT query_id, qv,
                       unnest(list_concat([bucket0],
                           list_transform(flip_keys[1:{probes - 1}],
                               kk -> xor(bucket0, CAST(1 << CAST(kk % {planes} AS INTEGER) AS BIGINT))))) AS bucket
                FROM qb),
         cb AS (SELECT neighbor_id, cv, ({cbucket}) AS bucket FROM c),
         cand AS (SELECT DISTINCT query_id, neighbor_id
                  FROM qp JOIN cb USING (bucket) WHERE query_id <> neighbor_id),
         s AS (SELECT query_id, neighbor_id,
                      list_dot_product(qv, cv) / sqrt(list_dot_product(qv, qv) * list_dot_product(cv, cv)) AS cos_raw
               FROM cand JOIN q USING (query_id) JOIN c USING (neighbor_id))
    SELECT query_id, neighbor_id, round(cos_raw, 6) AS cosine, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id) AS rank
      FROM s) WHERE rank <= {k}
    """


# Standalone builder kept for plan pins (graded via similarity_knn).
def similarity_knn_lsh_q(spark, sf):
    from tamer_spark.operators.similarity import cosine_knn_lsh, cosine_knn_lsh_multiprobe

    emb = _t(spark, sf, "embeddings")
    qs = emb.filter(F.col("vec_id") < 10)
    # max_bucket=None: the DuckDB oracle models UNCAPPED bucket joins, so the
    # gate must pin the uncapped semantics structurally rather than rely on
    # fixture buckets staying under the default cap (ADVICE r4)
    single = cosine_knn_lsh(emb, qs, k=5, planes=8, dim=64, max_bucket=None)
    multi = cosine_knn_lsh_multiprobe(emb, qs, k=5, planes=8, dim=64, probes=3, max_bucket=None)
    return single.select(F.lit(1).cast("long").alias("probes"), "*").unionByName(
        multi.select(F.lit(3).cast("long").alias("probes"), "*")
    )


@q(
    "similarity_knn",
    f"""
    SELECT CAST(0 AS BIGINT) AS probes, * FROM ({_knn_oracle()})
    UNION ALL
    SELECT CAST(1 AS BIGINT) AS probes, * FROM ({_lsh_knn_oracle()})
    UNION ALL
    SELECT 3, * FROM ({_lsh_multiprobe_knn_oracle()})
    """,
    doc=(
        "Cosine top-5 retrieval, exact AND approximate, as one tagged union "
        "(r6 window re-pack; all three variants were driver-green — exact "
        "as similarity_knn, LSH as similarity_knn_lsh). probes=0: exact "
        "brute-force — broadcast queries × streamed corpus, quantized-int "
        "dot products. probes=1: random-hyperplane LSH bucket equi-join "
        "replacing the cross product — the 100 TB scale path. probes=3: "
        "multi-probe (Lv et al. VLDB'07) — each query also probes the 2 "
        "buckets across its lowest-|margin| hyperplanes; recall ≥ "
        "single-probe by construction, still shuffling bucket ids only."
    ),
)
def similarity_knn_merged_q(spark, sf):
    exact = similarity_knn_q(spark, sf).select(
        F.lit(0).cast("long").alias("probes"), "*"
    )
    return exact.unionByName(similarity_knn_lsh_q(spark, sf))


def _ivf_cte_prefix(n_centroids: int = 8, iters: int = 3) -> str:
    """DuckDB replay of ivf_build's full deterministic k-means, as a WITH
    prefix ending in ``fassign (vec_id, cid)`` — shared by the assignment
    and semdedup oracles.

    Every quantity is an exact integer (quantized vectors, squared-L2
    distances, floor-divided centroid means), so the unrolled CTE rounds
    reproduce the Spark training loop bit-for-bit: seed init = the
    ``n_centroids`` vectors with the smallest md5-derived hash (same
    stable_hash64 mapping, see functions/hashing.py); each round assigns by
    (dist, cid)-argmin then rebuilds centroids as FLOOR(sum/count) per dim,
    clusters that lost all members keeping their previous coordinates
    (COALESCE) exactly like the driver-side dict update.
    """
    parts = [f"""
    WITH base AS (
      SELECT vec_id,
             list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) AS qv
      FROM embeddings),
    bd AS (
      SELECT vec_id, generate_subscripts(qv, 1) - 1 AS dim,
             CAST(unnest(qv) AS BIGINT) AS val
      FROM base),
    seeds AS (
      SELECT qv, row_number() OVER (
               ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT
             ) - 1 AS cid
      FROM base
      ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT
      LIMIT {n_centroids}),
    c0 AS (
      SELECT cid, generate_subscripts(qv, 1) - 1 AS dim,
             CAST(unnest(qv) AS BIGINT) AS val
      FROM seeds)"""]
    for i in range(iters):
        parts.append(f"""
    dist{i} AS (
      SELECT b.vec_id, c.cid, SUM((b.val - c.val) * (b.val - c.val)) AS dist
      FROM bd b JOIN c{i} c USING (dim) GROUP BY 1, 2),
    assign{i} AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM dist{i}) WHERE rn = 1),
    upd{i} AS (
      SELECT a.cid, b.dim, CAST(FLOOR(SUM(b.val) / COUNT(*)) AS BIGINT) AS val
      FROM assign{i} a JOIN bd b USING (vec_id) GROUP BY 1, 2),
    c{i + 1} AS (
      SELECT c.cid, c.dim, COALESCE(u.val, c.val) AS val
      FROM c{i} c LEFT JOIN upd{i} u USING (cid, dim))""")
    parts.append(f"""
    fdist AS (
      SELECT b.vec_id, c.cid, SUM((b.val - c.val) * (b.val - c.val)) AS dist
      FROM bd b JOIN c{iters} c USING (dim) GROUP BY 1, 2),
    fassign AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM fdist) WHERE rn = 1)""")
    return ",".join(parts)


_GATE_DIM_CACHE: dict[str, int] = {}


def _assert_gate_dim(emb, sf_dir: str | None = None, expected: int = 64) -> None:
    """TESTDATA CONTRACT: the IVF/PQ/LSH oracle SQL is generated at import
    time with dim pinned to the shipped embeddings shape (64). A testdata
    regeneration with a different dimension would otherwise surface as a
    confusing value-hash mismatch; fail loudly at the source instead
    (ADVICE r3: _pq_code_oracle hardcodes dim). Raises ValueError (NOT a
    bare assert — semantics must survive ``python -O``), and memoizes the
    probed dim per sf_dir so repeated gate builds over the same fixture
    don't each trigger an eager ``.first()`` job (ADVICE r4)."""
    if sf_dir is not None and sf_dir in _GATE_DIM_CACHE:
        d = _GATE_DIM_CACHE[sf_dir]
    else:
        d = emb.select(F.size("embedding").alias("d")).first().d
        if sf_dir is not None:
            _GATE_DIM_CACHE[sf_dir] = d
    if d != expected:
        raise ValueError(
            f"embeddings are {d}-dim but the DuckDB oracles were generated for "
            f"{expected}-dim vectors — regenerate the oracle dims in queries.py "
            f"(testdata contract change)"
        )


def _ivf_assign_oracle(n_centroids: int = 8, iters: int = 3) -> str:
    return (
        _ivf_cte_prefix(n_centroids, iters)
        + " SELECT vec_id, CAST(cid AS BIGINT) AS cluster FROM fassign"
    )


def _pq_cte_prefix(m: int = 4, k: int = 16, iters: int = 3, dim: int = 64) -> str:
    """DuckDB replay of pq_train + per-vector code assignment
    (operators/pq.py): per-subspace k-means with the shared smallest-md5
    seed set, floor-divided integer codeword means, empty-codeword
    carry-over. Ends with ``pfinal (vec_id, sub, cid)`` — each vector's
    codeword per subspace — and ``k{iters} (sub, cid, t, val)`` — the
    trained codebooks — shared by the code-packing and ADC-search oracles.
    Integer-exact throughout — same determinism contract as the IVF oracle
    above.

    ``dim`` is pinned to the TESTDATA CONTRACT (embeddings.parquet ships
    64-dim vectors; asserted loudly on the Spark side in ann/ivf gate
    queries, see _assert_gate_dim) — the oracle is a static string built at
    import time and cannot inspect the data."""
    dsub = dim // m
    parts = [f"""
    WITH base AS (
      SELECT vec_id,
             list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) AS qv
      FROM embeddings),
    bd AS (
      SELECT vec_id, (generate_subscripts(qv, 1) - 1) // {dsub} AS sub,
             (generate_subscripts(qv, 1) - 1) % {dsub} AS t,
             CAST(unnest(qv) AS BIGINT) AS val
      FROM base),
    seeds AS (
      SELECT qv, row_number() OVER (
               ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT
             ) - 1 AS cid
      FROM base
      ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT
      LIMIT {k}),
    k0 AS (
      SELECT cid, (generate_subscripts(qv, 1) - 1) // {dsub} AS sub,
             (generate_subscripts(qv, 1) - 1) % {dsub} AS t,
             CAST(unnest(qv) AS BIGINT) AS val
      FROM seeds)"""]
    for i in range(iters):
        parts.append(f"""
    pdist{i} AS (
      SELECT b.vec_id, b.sub, c.cid, SUM((b.val - c.val) * (b.val - c.val)) AS dist
      FROM bd b JOIN k{i} c ON b.sub = c.sub AND b.t = c.t GROUP BY 1, 2, 3),
    passign{i} AS (
      SELECT vec_id, sub, cid FROM (
        SELECT vec_id, sub, cid,
               row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, cid) AS rn
        FROM pdist{i}) WHERE rn = 1),
    pupd{i} AS (
      SELECT a.sub, a.cid, b.t, CAST(FLOOR(SUM(b.val) / COUNT(*)) AS BIGINT) AS val
      FROM passign{i} a JOIN bd b ON a.vec_id = b.vec_id AND a.sub = b.sub
      GROUP BY 1, 2, 3),
    k{i + 1} AS (
      SELECT c.sub, c.cid, c.t, COALESCE(u.val, c.val) AS val
      FROM k{i} c LEFT JOIN pupd{i} u ON c.sub = u.sub AND c.cid = u.cid AND c.t = u.t)""")
    parts.append(f"""
    pfdist AS (
      SELECT b.vec_id, b.sub, c.cid, SUM((b.val - c.val) * (b.val - c.val)) AS dist
      FROM bd b JOIN k{iters} c ON b.sub = c.sub AND b.t = c.t GROUP BY 1, 2, 3),
    pfinal AS (
      SELECT vec_id, sub, cid FROM (
        SELECT vec_id, sub, cid,
               row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, cid) AS rn
        FROM pfdist) WHERE rn = 1)""")
    return ",".join(parts)


def _pq_code_oracle(m: int = 4, k: int = 16, iters: int = 3, dim: int = 64) -> str:
    """Base-k packing of the trained per-subspace codes (pq_encode)."""
    return _pq_cte_prefix(m, k, iters, dim) + f"""
    SELECT vec_id,
           CAST(SUM(cid * (CASE sub {' '.join(f'WHEN {j} THEN {k ** (m - 1 - j)}' for j in range(m))} END)) AS BIGINT) AS cluster
    FROM pfinal GROUP BY vec_id"""


def _pq_adc_oracle(
    m: int = 4, k: int = 16, iters: int = 3, dim: int = 64, topk: int = 5
) -> str:
    """DuckDB replay of pq_search_adc (operators/pq.py:180-246): per query,
    the m×k table of EXACT integer squared-L2 distances from its subvectors
    to the trained codewords; each database vector's approximate distance is
    the sum of the m table entries its codes select. Every distance is an
    exact integer (quantized vectors, integer codebooks), so the (dist, id)
    rank order cannot drift between engines — this is the oracle for the
    search half of IVFADC, the operator a retrieval user actually calls."""
    dsub = dim // m
    return _pq_cte_prefix(m, k, iters, dim) + f""",
    qset AS (SELECT vec_id AS query_id, qv FROM base WHERE vec_id < 10),
    qd AS (
      SELECT query_id, (generate_subscripts(qv, 1) - 1) // {dsub} AS sub,
             (generate_subscripts(qv, 1) - 1) % {dsub} AS t,
             CAST(unnest(qv) AS BIGINT) AS val
      FROM qset),
    tab AS (
      SELECT q.query_id, c.sub, c.cid, SUM((q.val - c.val) * (q.val - c.val)) AS dist
      FROM qd q JOIN k{iters} c ON q.sub = c.sub AND q.t = c.t GROUP BY 1, 2, 3),
    ad AS (
      SELECT t.query_id, p.vec_id AS neighbor_id, SUM(t.dist) AS approx
      FROM pfinal p JOIN tab t ON p.sub = t.sub AND p.cid = t.cid
      WHERE t.query_id <> p.vec_id
      GROUP BY 1, 2)
    SELECT query_id, neighbor_id, CAST(approx AS DOUBLE) AS score, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY approx, neighbor_id) AS rank
      FROM ad) WHERE rank <= {topk}"""


def _sq_adc_oracle(dim: int = 64, topk: int = 5) -> str:
    """DuckDB replay of the SQ8 pipeline (operators/sq.py): per-dimension
    (min, max) over the quantized corpus, 256-bin codes via
    ``floor((v-mn)*255 / span)`` (double floor — exact and engine-identical
    for integer operands < 2^52, proof in the module docstring), then
    asymmetric search with the ×255-scale reconstruction so every distance
    is an exact int64: recon255 = mn*255 + code*span vs q*255. The clamp is
    replayed even though full-corpus bounds make it a no-op (frozen-bounds
    epochs are where it binds — pinned in pytest, not here). Rank ties
    break on neighbor id — the engine-independent (dist, id) total order."""
    return f"""
    WITH base AS (
      SELECT vec_id,
             list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) AS qv
      FROM embeddings),
    bd AS (
      SELECT vec_id, generate_subscripts(qv, 1) - 1 AS t,
             CAST(unnest(qv) AS BIGINT) AS val
      FROM base),
    bounds AS (SELECT t, MIN(val) AS mn, MAX(val) AS mx FROM bd GROUP BY t),
    codes AS (
      SELECT vec_id, b.t,
             CASE WHEN x.mx > x.mn
                  THEN GREATEST(0, LEAST(255,
                       CAST(FLOOR((b.val - x.mn) * 255 / (x.mx - x.mn)) AS BIGINT)))
                  ELSE 0 END AS code
      FROM bd b JOIN bounds x USING (t)),
    recon AS (
      SELECT vec_id, c.t, x.mn * 255 + c.code * (x.mx - x.mn) AS rnum
      FROM codes c JOIN bounds x USING (t)),
    sqd AS (SELECT vec_id AS query_id, t, val * 255 AS q255 FROM bd WHERE vec_id < 10),
    ad AS (
      SELECT q.query_id, r.vec_id AS neighbor_id,
             SUM((r.rnum - q.q255) * (r.rnum - q.q255)) AS dist
      FROM recon r JOIN sqd q USING (t)
      WHERE q.query_id <> r.vec_id
      GROUP BY 1, 2)
    SELECT query_id, neighbor_id, CAST(dist AS DOUBLE) AS score, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rank
      FROM ad) WHERE rank <= {topk}"""


def _rp_knn_oracle(out_dim: int = 16, dim: int = 64, seed: int = 42, k: int = 5) -> str:
    """DuckDB replay of random_projection + exact cosine kNN in the
    projected space (operators/rp.py): the ±1 sign matrix is DERIVED
    (sha256 parity, mirrored here exactly like the LSH hyperplane oracle),
    each projected coordinate is an exact integer sum, and the rounded-
    cosine / (cos DESC, id) rank convention is the proven-hash-stable one."""
    from tamer_spark.operators.rp import rp_signs

    signs = rp_signs(out_dim, dim, seed)
    pv = ", ".join(
        "list_dot_product(qv, [" + ", ".join(str(s) for s in row) + "])" for row in signs
    )
    return f"""
    WITH base AS (
      SELECT vec_id,
             list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) AS qv
      FROM embeddings),
    proj AS (SELECT vec_id, [{pv}] AS pv FROM base),
    rq AS (SELECT vec_id AS query_id, pv AS qpv FROM proj WHERE vec_id < 10),
    rs AS (SELECT query_id, p.vec_id AS neighbor_id,
                  list_dot_product(qpv, p.pv)
                    / sqrt(list_dot_product(qpv, qpv) * list_dot_product(p.pv, p.pv)) AS cos_raw
           FROM rq CROSS JOIN proj p WHERE query_id <> p.vec_id)
    SELECT query_id, neighbor_id, round(cos_raw, 6) AS score, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id) AS rank
      FROM rs) WHERE rank <= {k}"""


def _ivf_cand_sql(n_centroids: int = 8, iters: int = 3, nprobe: int = 2) -> str:
    """Probed-candidate pairs only (query_id, neighbor_id) — the coarse
    half of the composed IVFADC oracle. Self-contained WITH (usable as a
    derived-table subquery)."""
    return _ivf_cte_prefix(n_centroids, iters) + f""",
    qset AS (SELECT vec_id AS query_id, qv FROM base WHERE vec_id < 10),
    qd AS (
      SELECT query_id, generate_subscripts(qv, 1) - 1 AS dim,
             CAST(unnest(qv) AS BIGINT) AS val
      FROM qset),
    qcd AS (
      SELECT q.query_id, c.cid, SUM((q.val - c.val) * (q.val - c.val)) AS dist
      FROM qd q JOIN c{iters} c USING (dim) GROUP BY 1, 2),
    probe AS (
      SELECT query_id, cid FROM (
        SELECT query_id, cid,
               row_number() OVER (PARTITION BY query_id ORDER BY dist, cid) AS rn
        FROM qcd) WHERE rn <= {nprobe})
    SELECT p.query_id, f.vec_id AS neighbor_id
    FROM probe p JOIN fassign f USING (cid)
    WHERE p.query_id <> f.vec_id"""


def _pq_adc_dist_sql(m: int = 4, k: int = 16, iters: int = 3, dim: int = 64) -> str:
    """All (query, vector) ADC distances — the code half of the composed
    IVFADC oracle. Self-contained WITH (usable as a derived-table
    subquery); exact integer sums, same contract as _pq_adc_oracle."""
    dsub = dim // m
    return _pq_cte_prefix(m, k, iters, dim) + f""",
    qset AS (SELECT vec_id AS query_id, qv FROM base WHERE vec_id < 10),
    qd AS (
      SELECT query_id, (generate_subscripts(qv, 1) - 1) // {dsub} AS sub,
             (generate_subscripts(qv, 1) - 1) % {dsub} AS t,
             CAST(unnest(qv) AS BIGINT) AS val
      FROM qset),
    tab AS (
      SELECT q.query_id, c.sub, c.cid, SUM((q.val - c.val) * (q.val - c.val)) AS dist
      FROM qd q JOIN k{iters} c ON q.sub = c.sub AND q.t = c.t GROUP BY 1, 2, 3)
    SELECT t.query_id, p.vec_id AS neighbor_id, SUM(t.dist) AS adc
    FROM pfinal p JOIN tab t ON p.sub = t.sub AND p.cid = t.cid
    WHERE t.query_id <> p.vec_id
    GROUP BY 1, 2"""


def _ivfadc_oracle(
    n_centroids: int = 8,
    iters: int = 3,
    nprobe: int = 2,
    m: int = 4,
    k: int = 16,
    pq_iters: int = 3,
    dim: int = 64,
    shortlist: int = 20,
    topk: int = 5,
) -> str:
    """DuckDB replay of the COMPOSED ivfadc_search serving path
    (operators/pq.py): coarse-probe candidates ∩ ADC distances → shortlist
    by (adc, id) → exact quantized-cosine rerank of the shortlist only.
    Both halves replay their full training (the same CTEs the assign/code
    gates use, nested as derived tables so their names cannot collide);
    the shortlist rank is over exact integer ADC sums, so the rerank input
    set — and therefore the final rounded cosines — cannot drift."""
    return f"""
    WITH icand AS (SELECT * FROM ({_ivf_cand_sql(n_centroids, iters, nprobe)})),
    iadc AS (SELECT * FROM ({_pq_adc_dist_sql(m, k, pq_iters, dim)})),
    iqv AS (SELECT vec_id, list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) AS v
            FROM embeddings),
    ij AS (SELECT c.query_id, c.neighbor_id, a.adc
           FROM icand c JOIN iadc a USING (query_id, neighbor_id)),
    isl AS (SELECT query_id, neighbor_id FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) AS srank
              FROM ij) WHERE srank <= {shortlist}),
    irr AS (SELECT s.query_id, s.neighbor_id,
                   list_dot_product(q.v, b.v)
                     / sqrt(list_dot_product(q.v, q.v) * list_dot_product(b.v, b.v)) AS cos_raw
            FROM isl s JOIN iqv q ON s.query_id = q.vec_id
                       JOIN iqv b ON s.neighbor_id = b.vec_id)
    SELECT query_id, neighbor_id, round(cos_raw, 6) AS score, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id) AS rank
      FROM irr) WHERE rank <= {topk}"""


def _ivf_search_oracle(
    n_centroids: int = 8, iters: int = 3, nprobe: int = 2, k: int = 5
) -> str:
    """DuckDB replay of ivf_search (operators/similarity.py): probe each
    query's ``nprobe`` nearest trained centroids (squared-L2, (dist, cid)
    tie-break — the same total order as nearest_centroids_sql), then exact
    quantized-cosine rerank of the probed clusters' members. Rounding and
    rank tie-breaks mirror the LSH kNN oracles above (proven hash-stable)."""
    return _ivf_cte_prefix(n_centroids, iters) + f""",
    qset AS (SELECT vec_id AS query_id, qv FROM base WHERE vec_id < 10),
    qd AS (
      SELECT query_id, generate_subscripts(qv, 1) - 1 AS dim,
             CAST(unnest(qv) AS BIGINT) AS val
      FROM qset),
    qcd AS (
      SELECT q.query_id, c.cid, SUM((q.val - c.val) * (q.val - c.val)) AS dist
      FROM qd q JOIN c{iters} c USING (dim) GROUP BY 1, 2),
    probe AS (
      SELECT query_id, cid FROM (
        SELECT query_id, cid,
               row_number() OVER (PARTITION BY query_id ORDER BY dist, cid) AS rn
        FROM qcd) WHERE rn <= {nprobe}),
    cand AS (
      SELECT p.query_id, f.vec_id AS neighbor_id
      FROM probe p JOIN fassign f USING (cid)
      WHERE p.query_id <> f.vec_id),
    sc AS (
      SELECT c.query_id, c.neighbor_id,
             list_dot_product(q.qv, b.qv)
               / sqrt(list_dot_product(q.qv, q.qv) * list_dot_product(b.qv, b.qv)) AS cos_raw
      FROM cand c JOIN qset q USING (query_id) JOIN base b ON c.neighbor_id = b.vec_id)
    SELECT query_id, neighbor_id, round(cos_raw, 6) AS score, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id) AS rank
      FROM sc) WHERE rank <= {k}"""


def _semdedup_oracle(n_centroids: int = 8, iters: int = 3, threshold: float = 0.3) -> str:
    """SemDeDup survivors: the k-means replay above plus the within-cluster
    keep-min-id cosine prune. Cosine is built from the same integer dot
    products as the Spark plan (IEEE-identical doubles), so the threshold
    compare cannot drift."""
    return _ivf_cte_prefix(n_centroids, iters) + f""",
    m AS (
      SELECT f.vec_id, f.cid, b.qv FROM fassign f JOIN base b USING (vec_id)),
    sd_drops AS (
      SELECT DISTINCT b2.vec_id
      FROM m a2 JOIN m b2 ON a2.cid = b2.cid AND a2.vec_id < b2.vec_id
      WHERE list_dot_product(a2.qv, b2.qv)
            / sqrt(list_dot_product(a2.qv, a2.qv) * list_dot_product(b2.qv, b2.qv))
            >= {threshold})
    SELECT vec_id, CAST(cid AS BIGINT) AS cluster FROM m
    WHERE vec_id NOT IN (SELECT vec_id FROM sd_drops)"""


@q(
    "ivf_cluster_assign",
    f"""
    SELECT 'assign' AS variant, * FROM ({_ivf_assign_oracle(n_centroids=8, iters=3)})
    UNION ALL
    SELECT 'semdedup_keep', * FROM ({_semdedup_oracle(n_centroids=8, iters=3, threshold=0.3)})
    UNION ALL
    SELECT 'pq_code', * FROM ({_pq_code_oracle(m=4, k=16, iters=3, dim=64)})
    """,
    doc="IVF coarse-quantizer assignment + SemDeDup pruning (Abbas et al. 2023) + PQ encoding (Jégou et al. TPAMI 2011) as one tagged union. assign: deterministic k-means (smallest-md5 seed init, 3 Lloyd iterations, each a distributed assign+sum job; only the k×dim centroid table passes through the driver); centroid updates are FLOOR-divided integer means, so every distance and coordinate is an exact integer — the oracle replays the full training loop as unrolled DuckDB CTE rounds with zero float drift. semdedup_keep: within-cluster keep-min-id cosine prune over the frozen quantizer (map-only re-assignment + cluster-equi-joined pairs — the pairwise term is cluster-bounded, never corpus²; threshold 0.3 calibrated to the synthetic embeddings). pq_code: product-quantization codes (m=4 subspaces × 16 codewords, trained per-subspace with the same integer-exact Lloyd discipline, one distributed job per iteration covering all subspaces), packed base-k into one int64 — 2 B/vector, the IVFADC storage layout's second half. Brute-force search parity at full probes is additionally pinned in tests/test_ivf.py; ADC recall in tests/test_pq.py.",
)
def ivf_cluster_assign_q(spark, sf):
    from tamer_spark.operators.pq import pq_encode, pq_train
    from tamer_spark.operators.similarity import ivf_build, semdedup

    emb = _t(spark, sf, "embeddings")
    _assert_gate_dim(emb, sf)
    assigned, centroids = ivf_build(emb, n_centroids=8, iters=3)
    # max_cluster=None: the oracle replays uncapped within-cluster pairs —
    # pin that structurally instead of depending on fixture cluster sizes
    # staying under the default salt-split cap (ADVICE r4)
    keep = semdedup(
        emb, n_centroids=8, iters=3, threshold=0.3, model=centroids, max_cluster=None
    )
    codebooks = pq_train(emb, m=4, k=16, iters=3)
    codes = pq_encode(emb, codebooks).select("vec_id", F.col("code").alias("cluster"))
    return (
        assigned.select(
            F.lit("assign").alias("variant"),
            "vec_id",
            F.col("cluster").cast("long").alias("cluster"),
        )
        .unionByName(keep.select(F.lit("semdedup_keep").alias("variant"), "*"))
        .unionByName(codes.select(F.lit("pq_code").alias("variant"), "*"))
    )


# Standalone builder kept for plan pins / bench (graded via the merged
# ann_search gate's 'hardneg' variant).
def hard_negatives_q(spark, sf):
    from tamer_spark.operators.similarity import hard_negatives

    emb = _t(spark, sf, "embeddings")
    # max_bucket=None: the oracle replays uncapped bucket semantics (the
    # semdedup/ADVICE-r4 precedent); the cap path is pinned in pytest
    return hard_negatives(emb, k=3, max_bucket=None)


# The gate's mining legs since r12: one call feeds BOTH the 'hardneg' and
# 'hardpos' variants, so the one-join/one-window production plan is the
# thing the oracle hashes. Same uncapped-bucket convention as above.
def contrastive_pairs_q(spark, sf):
    from tamer_spark.operators.similarity import contrastive_pairs

    emb = _t(spark, sf, "embeddings")
    return contrastive_pairs(emb, k=3, max_bucket=None)


def _lsh_bucket_sql(v: str, planes: int = 8, dim: int = 64, seed: int = 42) -> str:
    """The oracle-side LSH bucket id — the same sha256-derived ±1
    hyperplanes operators/similarity.lsh_bucket_sql renders into the
    Spark plan; shared by every gate that buckets embeddings."""
    from tamer_spark.functions.hashing import sign_rows

    terms = []
    for p, row in enumerate(sign_rows("lsh", seed, planes, dim)):
        coeff = ", ".join(str(c) for c in row)
        terms.append(f"CASE WHEN list_dot_product({v}, [{coeff}]) > 0 THEN {1 << p} ELSE 0 END")
    return " + ".join(terms)


def _mining_oracle(
    same_label: bool, planes: int = 8, dim: int = 64, seed: int = 42, k: int = 3
) -> str:
    """Contrastive-pair mining replay: hard negatives (different label,
    cosine DESC) or hard positives (same label, cosine ASC) over the same
    LSH-bucket candidate join the Spark operators share."""
    lbl_op = "=" if same_label else "<>"
    order = "ASC" if same_label else "DESC"
    return f"""
    WITH e AS (SELECT vec_id, label,
                      list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) AS v
               FROM embeddings),
         b AS (SELECT vec_id, label, v, ({_lsh_bucket_sql("v", planes, dim, seed)}) AS bucket
               FROM e
               WHERE list_dot_product(v, v) > 0),
         p AS (SELECT a.vec_id AS query_id, bb.vec_id AS neighbor_id,
                      list_dot_product(a.v, bb.v)
                        / sqrt(list_dot_product(a.v, a.v) * list_dot_product(bb.v, bb.v)) AS cos
               FROM b a JOIN b bb
                 ON a.bucket = bb.bucket AND a.vec_id <> bb.vec_id AND a.label {lbl_op} bb.label),
         r AS (SELECT query_id, neighbor_id, cos,
                      row_number() OVER (PARTITION BY query_id ORDER BY cos {order}, neighbor_id) AS rnk
               FROM p)
    SELECT query_id, neighbor_id, round(cos, 6) AS score, CAST(rnk AS BIGINT) AS rank
    FROM r WHERE rnk <= {k}
    """


def _hardneg_oracle(planes: int = 8, dim: int = 64, seed: int = 42, k: int = 3) -> str:
    return _mining_oracle(False, planes, dim, seed, k)


@q(
    "ann_search",
    f"""
    SELECT 'ivf' AS variant, * FROM ({_ivf_search_oracle(n_centroids=8, iters=3, nprobe=2, k=5)})
    UNION ALL
    SELECT 'adc', * FROM ({_pq_adc_oracle(m=4, k=16, iters=3, dim=64, topk=5)})
    UNION ALL
    SELECT 'ivfadc', * FROM ({_ivfadc_oracle(n_centroids=8, iters=3, nprobe=2, m=4, k=16, pq_iters=3, dim=64, shortlist=20, topk=5)})
    UNION ALL
    SELECT 'hardneg', * FROM ({_hardneg_oracle(planes=8, dim=64, seed=42, k=3)})
    UNION ALL
    SELECT 'hardpos', * FROM ({_mining_oracle(True, planes=8, dim=64, seed=42, k=3)})
    UNION ALL
    SELECT 'sq8', * FROM ({_sq_adc_oracle(dim=64, topk=5)})
    UNION ALL
    SELECT 'rp16', * FROM ({_rp_knn_oracle(out_dim=16, dim=64, seed=42, k=5)})
    """,
    doc="The SEARCH half of IVFADC as one tagged union — the retrieval operators a user actually calls, each hash-gated against a DuckDB replay of its full train+search pipeline. ivf: probe each query's nprobe=2 nearest coarse centroids (trained by the same integer-exact k-means the assign gate replays), exact quantized-cosine rerank within the probed clusters — the candidate join is a cluster-id equi-join, so with the inverted file bucketed by cluster at 100 TB a probe touches only matching buckets, never the corpus. adc: asymmetric distance computation over PQ codes (Jégou et al. TPAMI 2011) — per query an m×k table of exact integer subvector↔codeword distances is built once on the broadcast query side, and every candidate costs m array lookups, no per-candidate vector math; distances are exact integer sums, so (dist, id) ranking is engine-independent. ivfadc: the COMPOSED serving path (probe → ADC shortlist of 20 → exact rerank of the shortlist only) — the oracle nests both training replays as derived tables and re-derives the shortlist from exact integer ADC sums, so even the three-stage composition is hash-checked end to end. Scores are cosine (ivf, ivfadc) / approx squared-L2 (adc); rank ties break on neighbor id in both engines. hardneg (r11): hard-negative mining for contrastive training (DPR/ANCE) — per anchor the top-3 most-similar DIFFERENT-label vectors, candidates from shared LSH buckets (a bucket-missed negative is a less-hard negative — the LSH contract IS the mining contract), label-mismatch filter riding the join condition, per-anchor window with the cosine_knn tie-break; oracle replays buckets, pairs, and ranks exactly (gate uncapped; the max_bucket skew guard is pinned in pytest). hardpos (r11): the other half of contrastive pair construction — per anchor the top-3 LEAST-similar SAME-label candidates (cosine ASC — an identical-twin positive teaches a metric loss nothing), honestly scoped to the anchor's LSH neighborhood (global far-pairs don't share buckets, which is the LSH point); since r12 BOTH mining variants are produced by operators/similarity.contrastive_pairs — the production triple miner that genuinely pays ONE candidate join for both sides (one (anchor, side) window, sign-flipped sort key) — so the one-join plan is itself oracle-hash-pinned against the per-side DuckDB replays; hard_negatives remains for plan pins/bench, with its equivalence to contrastive_pairs' 'neg' side pinned in pytest. sq8 (r12): scalar quantization — the third quantization leg (FAISS ScalarQuantizer tier) — per-dimension 256-bin codes from corpus (min,max) ranges (1 byte/dim; pack_sq_codes gives the literal int64-packed form, round-trip pinned in pytest), asymmetric search with a ×255-scale integer reconstruction so every distance is an exact int64 and the (dist, id) rank order cannot drift; train is one partial-aggregable posexplode groupBy(dim) emitting dim rows of driver state (the IVF-centroid contract), encode is map-only (frozen bounds → epoch appends encode without history, clamp binds only then), and search reconstructs map-side before the broadcast-query join — the corpus never shuffles. rp16 (r12): Johnson–Lindenstrauss dimensionality reduction (Achlioptas ±1 signs, derived from sha256 parity — no RNG state, the LSH-hyperplane convention) from 64 to 16 dims, then EXACT cosine kNN in the projected space — the standard pre-step that cuts per-pair arithmetic 4× before any brute-force/LSH/clustering stage; projection is map-only under frozen signs (epoch appends project without history), each projected coordinate an exact integer sum, and the oracle replays matrix, projection, and rounded-cosine ranks from the same derivation.",
)
def ann_search_q(spark, sf):
    from tamer_spark.operators.pq import ivfadc_search, pq_encode, pq_search_adc, pq_train
    from tamer_spark.operators.similarity import ivf_build, ivf_search
    from tamer_spark.operators.sq import sq_encode, sq_search, sq_train

    emb = _t(spark, sf, "embeddings")
    _assert_gate_dim(emb, sf)
    qs = emb.filter(F.col("vec_id") < 10)
    assigned, centroids = ivf_build(emb, n_centroids=8, iters=3)
    ivf = ivf_search(assigned, centroids, qs, k=5, nprobe=2)
    codebooks = pq_train(emb, m=4, k=16, iters=3)
    coded = pq_encode(emb, codebooks)
    adc = pq_search_adc(coded, codebooks, qs, topk=5)
    sq_bounds = sq_train(emb)
    sq = sq_search(sq_encode(emb, sq_bounds), sq_bounds, qs, topk=5)
    from tamer_spark.operators.rp import random_projection, rp_signs
    from tamer_spark.operators.similarity import cosine_knn

    signs = rp_signs(out_dim=16, dim=64, seed=42)
    proj = random_projection(emb, signs)
    rp = cosine_knn(
        proj,
        proj.filter(F.col("vec_id") < 10),
        vec_col="pvec",
        k=5,
        pre_quantized=True,
    )
    index = assigned.join(coded.select("vec_id", "codes"), "vec_id")
    comp = ivfadc_search(
        index, centroids, codebooks, qs, k=5, nprobe=2, shortlist=20
    )
    return ivf.select(
        F.lit("ivf").alias("variant"),
        "query_id",
        "neighbor_id",
        F.col("cosine").alias("score"),
        "rank",
    ).unionByName(
        adc.select(
            F.lit("adc").alias("variant"),
            "query_id",
            "neighbor_id",
            F.col("approx_dist").alias("score"),
            "rank",
        )
    ).unionByName(
        comp.select(
            F.lit("ivfadc").alias("variant"),
            "query_id",
            "neighbor_id",
            F.col("cosine").alias("score"),
            "rank",
        )
    ).unionByName(
        # r12: BOTH mining variants come off ONE contrastive_pairs call —
        # the production triple miner's one-candidate-join plan is now
        # itself the oracle-hash-pinned object (not just pytest-equivalent
        # to the standalone miners, which remain for plan pins / bench)
        contrastive_pairs_q(spark, sf).select(
            F.when(F.col("side") == "neg", F.lit("hardneg"))
            .otherwise(F.lit("hardpos"))
            .alias("variant"),
            "query_id",
            "neighbor_id",
            F.col("cosine").alias("score"),
            "rank",
        )
    ).unionByName(
        sq.select(
            F.lit("sq8").alias("variant"),
            "query_id",
            "neighbor_id",
            F.col("approx_dist").cast("double").alias("score"),
            "rank",
        )
    ).unionByName(
        rp.select(
            F.lit("rp16").alias("variant"),
            "query_id",
            "neighbor_id",
            F.col("cosine").alias("score"),
            "rank",
        )
    )


@q(
    "multimodal_binary_stats",
    "SELECT doc_id, octet_length(encode(text)) AS n_bytes, sha256(text) AS sha256_hex FROM documents",
    doc="Arrow-batched mapInPandas over binary payloads (byte length + sha256) — the multimodal decode plumbing with a hash in place of a codec.",
)
def multimodal_binary_stats_q(spark, sf):
    from tamer_spark.operators.multimodal import binary_stats

    d = _t(spark, sf, "documents").select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    return binary_stats(d, "payload", "doc_id")


def _phash_dedup_oracle(
    bands: int = 4, width: int = 15, max_distance: int = 3, max_bucket: int = 1000
) -> str:
    mask = (1 << width) - 1
    bands_sql = " UNION ALL ".join(
        f"SELECT doc_id, phash, {b} AS band_id, (phash >> {b * width}) & {mask} AS band_val FROM h"
        for b in range(bands)
    )
    # the capped CTE replays the operator's deterministic hot-bucket
    # retention (rank by (stable_hash64(id), id) within each band bucket,
    # keep the first max_bucket) so the oracle matches whether or not the
    # cap binds at this SF
    return f"""
    WITH h AS (SELECT doc_id,
                      xor(('0x' || substr(md5(lang || ':' || source), 1, 15))::BIGINT,
                          doc_id % 32) AS phash
               FROM documents),
         banded0 AS ({bands_sql}),
         banded AS (SELECT doc_id, phash, band_id, band_val FROM (
            SELECT *, row_number() OVER (PARTITION BY band_id, band_val
                 ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT, doc_id) AS slot
            FROM banded0) WHERE slot <= {max_bucket})
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
    FROM banded a JOIN banded b USING (band_id, band_val)
    WHERE a.doc_id < b.doc_id AND bit_count(xor(a.phash, b.phash)) <= {max_distance}
    """


@q(
    "dedup_phash_images",
    _phash_dedup_oracle(),
    doc=(
        "Perceptual-hash image near-dedup: banded hamming LSH over 60-bit "
        "hashes (4 bands × 15 bits, pigeonhole recall for distance < bands), "
        "exact bit_count verify JVM-side, hot buckets capped to 1000 rows by "
        "deterministic hash-rank retention (the minhash/knn-LSH skew "
        "contract; oracle replays the cap). The gate derives a deterministic "
        "phash from (lang, source) families XOR a doc_id bit perturbation so "
        "the hamming threshold is live and binding; the Arrow decode stage "
        "(phash_images) is pytest-covered and its mapInPandas plumbing is "
        "gated by multimodal_binary_stats."
    ),
)
def dedup_phash_images_q(spark, sf):
    from tamer_spark.functions.hashing import stable_hash64
    from tamer_spark.operators.multimodal import dedup_images_by_phash

    docs = _t(spark, sf, "documents")
    hashes = docs.select(
        "doc_id",
        stable_hash64(F.concat_ws(":", "lang", "source"))
        .bitwiseXOR(F.col("doc_id") % 32)
        .alias("phash"),
    )
    return dedup_images_by_phash(hashes, id_col="doc_id", max_distance=3, bands=4, bits=60)


# ---------------------------------------------------------------------------
# Additional relational coverage: pivot, percentiles, ntile, arg_min,
# grouping sets, ordered string agg, re-ingestion dedup
# ---------------------------------------------------------------------------

# Standalone builders kept for reference (graded via agg_pivot_ordered_concat).
def pivot_status_by_priority(spark, sf):
    o = _t(spark, sf, "orders")
    out = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "o_orderpriority",
        *[F.coalesce(F.col(s), F.lit(0)).cast("long").alias(f"status_{s}") for s in ("F", "O", "P")],
    )


def agg_ordered_string_concat(spark, sf):
    n = _t(spark, sf, "nation")
    return n.groupBy("n_regionkey").agg(
        F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations")
    )


@q(
    "agg_pivot_ordered_concat",
    """
    SELECT 'pivot' AS variant, o_orderpriority AS k, CAST(NULL AS VARCHAR) AS s,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS v1,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS v2,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS v3
    FROM orders GROUP BY o_orderpriority
    UNION ALL
    SELECT 'concat', CAST(n_regionkey AS VARCHAR),
           string_agg(n_name, ',' ORDER BY n_name),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
    FROM nation GROUP BY n_regionkey
    """,
    doc=(
        "Two aggregation shapes as one tagged union (r6 window re-pack; "
        "both were standalone driver-green gates). pivot: one shuffle, "
        "fixed output columns (explicit value list — never pivot on "
        "unbounded cardinality at scale). concat: order-insensitive "
        "collect — sort inside the agg (array_sort ∘ collect_list), "
        "deterministic without a global sort."
    ),
)
def agg_pivot_ordered_concat_q(spark, sf):
    piv = pivot_status_by_priority(spark, sf).select(
        F.lit("pivot").alias("variant"),
        F.col("o_orderpriority").alias("k"),
        F.lit(None).cast("string").alias("s"),
        F.col("status_F").alias("v1"),
        F.col("status_O").alias("v2"),
        F.col("status_P").alias("v3"),
    )
    cat = agg_ordered_string_concat(spark, sf).select(
        F.lit("concat").alias("variant"),
        F.col("n_regionkey").cast("string").alias("k"),
        F.col("nations").alias("s"),
        F.lit(None).cast("long").alias("v1"),
        F.lit(None).cast("long").alias("v2"),
        F.lit(None).cast("long").alias("v3"),
    )
    return piv.unionByName(cat)


# ---------------------------------------------------------------------------
# Curation pipeline compositions
# ---------------------------------------------------------------------------

# Fixture structurers: the fixture ships single-line, punctuation-free
# texts, so each text gate derives the structure its rules need with a
# table of pinned literal replaces, applied in table order on both engines
# (optionally wrapped in a constant head/tail). One table feeds both sides:
# _structured_col builds the Spark column, _structured_sql the DuckDB
# oracle expression.
def _structured_col(table, head: str = "", tail: str = ""):
    """The ``text`` column through ``table`` — ONE F.expr parse for the
    whole nested replace chain (cheaper to build than a Column-API chain of
    per-replace literals)."""
    out = "text"
    for search, repl in table:
        out = f"replace({out}, {sql_string(search)}, {sql_string(repl)})"
    if head or tail:
        out = f"concat({sql_string(head)}, {out}, {sql_string(tail)})"
    return F.expr(out)


def _sql_lit(s: str) -> str:
    """DuckDB string literal for ``s``: printable text stays inline (UTF-8),
    quotes doubled, C0/C1/DEL rendered as chr(n) legs so the generated SQL
    carries no raw control bytes."""
    parts: list[str] = []
    buf = ""
    for ch in s:
        o = ord(ch)
        if o < 0x20 or o == 0x7F or 0x80 <= o <= 0x9F:
            if buf:
                parts.append("'" + buf.replace("'", "''") + "'")
                buf = ""
            parts.append(f"chr({o})")
        else:
            buf += ch
    if buf:
        parts.append("'" + buf.replace("'", "''") + "'")
    return " || ".join(parts) if parts else "''"


def _structured_sql(table, head: str = "", tail: str = "") -> str:
    out = "text"
    for search, repl in table:
        out = f"replace({out}, {_sql_lit(search)}, {_sql_lit(repl)})"
    if head or tail:
        out = f"{_sql_lit(head)} || {out} || {_sql_lit(tail)}"
    return out


# Deterministic "line structurer" for the gopher gate: the fixture documents
# ship single-line texts, which would leave every line/paragraph signal a
# constant 0.0 — a hash gate that gates nothing. The gate therefore derives a
# line-structured text column with four pinned literal replaces (applied in
# THIS order on both engines): paragraph breaks at ' table', line breaks at
# ' value', an ASCII-ellipsis line ending before each 'scan', and a bulleted
# line before each 'key' — making every §A1.1 line rule AND the ASCII-'...'
# symbol term carry live, document-dependent values through the hash.
_GOPHER_STRUCTURE = (
    (" table", "\n\ntable"),
    (" value", "\nvalue"),
    (" scan", "...\nscan"),
    (" key", "\n- key"),
)


_GOPHER_TOPS = ((2, 0.20), (3, 0.18), (4, 0.16))
_GOPHER_DUPS = ((5, 0.15), (6, 0.14), (7, 0.13), (8, 0.12), (9, 0.11), (10, 0.10))


def _gopher_oracle_ctes() -> str:
    """DuckDB replay of operators/gopher.py gopher_signals — the FULL §A1.1
    set: identical word staging (filtered split over the same
    normalization), identical exact-integer counts, identical IEEE ratio
    divisions, the same (count DESC, gram ASC) top-n-gram champions for
    n=2..4, the same distinct-(doc, word-index) duplicated-n-gram coverage
    for n=5..10, and the same trimmed/non-empty line & paragraph splits of
    the RAW (line-structured, case-preserved) text. Self-contained over the
    ``documents`` view via the pinned line-structurer."""
    from tamer_spark.operators.gopher import STOP_GOPHER

    stop = ", ".join(f"'{w}'" for w in STOPWORDS)
    gstop = ", ".join(f"'{w}'" for w in STOP_GOPHER)
    parts = [f"""
    gnorm AS (SELECT doc_id, {_structured_sql(_GOPHER_STRUCTURE)} AS raw,
                     trim(regexp_replace(lower({_structured_sql(_GOPHER_STRUCTURE)}), '\\s+', ' ', 'g')) AS t
              FROM documents),
    gws AS (SELECT doc_id, raw, t, list_filter(string_split(t, ' '), x -> len(x) > 0) AS gw FROM gnorm),
    glin AS (SELECT doc_id,
        list_filter(list_transform(string_split(raw, chr(10)), x -> trim(x)), x -> len(x) > 0) AS lines,
        list_filter(list_transform(string_split(raw, chr(10) || chr(10)), x -> trim(x)), x -> len(x) > 0) AS paras
      FROM gnorm),
    glsig AS (SELECT doc_id,
        CAST(len(lines) AS BIGINT) AS n_lines,
        CAST(len(paras) AS BIGINT) AS n_paras,
        CAST(len(lines) - len(list_distinct(lines)) AS BIGINT) AS dup_lines,
        CAST(len(paras) - len(list_distinct(paras)) AS BIGINT) AS dup_paras,
        CAST(COALESCE(list_sum(list_transform(lines, x -> len(x))), 0) AS BIGINT) AS line_chars,
        CAST(COALESCE(list_sum(list_transform(paras, x -> len(x))), 0) AS BIGINT) AS para_chars,
        CAST(COALESCE(list_sum(list_transform(lines, x -> len(x))), 0)
           - COALESCE(list_sum(list_transform(list_distinct(lines), x -> len(x))), 0) AS BIGINT) AS dup_line_chars,
        CAST(COALESCE(list_sum(list_transform(paras, x -> len(x))), 0)
           - COALESCE(list_sum(list_transform(list_distinct(paras), x -> len(x))), 0) AS BIGINT) AS dup_para_chars,
        CAST(len(list_filter(lines, x -> ends_with(x, '...') OR ends_with(x, '…'))) AS BIGINT) AS ell_lines,
        CAST(len(list_filter(lines, x -> starts_with(x, '•') OR starts_with(x, '-') OR starts_with(x, '*'))) AS BIGINT) AS bul_lines
      FROM glin),
    gsig AS (SELECT doc_id, gw,
        CAST(len(gw) AS BIGINT) AS n_words,
        CAST(COALESCE(list_sum(list_transform(gw, x -> len(x))), 0) AS BIGINT) AS total_chars,
        CAST((len(t) - len(replace(t, '#', ''))) + (len(t) - len(replace(t, '…', '')))
           + (len(t) - len(replace(t, '...', ''))) // 3 AS BIGINT) AS symbols,
        CAST(len(list_filter(gw, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS alpha_words,
        CAST(len(list_distinct(list_intersect(gw, [{stop}]))) AS BIGINT) AS n_stop,
        CAST(len(list_distinct(list_intersect(gw, [{gstop}]))) AS BIGINT) AS n_gstop
      FROM gws),
    gwl AS (SELECT doc_id, unnest(list_transform(range(len(gw)),
                i -> {{'widx': i, 'wlen': len(gw[i+1])}}), recursive := true)
            FROM gws)"""]
    all_ns = sorted({n for n, _ in _GOPHER_TOPS} | {n for n, _ in _GOPHER_DUPS})
    for n in all_ns:
        parts.append(f"""
    gocc{n} AS (SELECT doc_id, unnest(list_transform(range(greatest(len(gw) - {n} + 1, 0)),
                    i -> {{'pos': i, 'g': array_to_string(gw[i+1:i+{n}], ' ')}}), recursive := true)
                FROM gws),
    gcnt{n} AS (SELECT doc_id, g, COUNT(*) AS c FROM gocc{n} GROUP BY 1, 2)""")
    for n, _thr in _GOPHER_TOPS:
        parts.append(f"""
    gtop{n} AS (SELECT doc_id, CAST(c * (len(g) - {n - 1}) AS BIGINT) AS topchars FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g) AS rn
        FROM gcnt{n}) WHERE rn = 1)""")
    for n, _thr in _GOPHER_DUPS:
        parts.append(f"""
    gcov{n} AS (SELECT DISTINCT doc_id, widx FROM (
        SELECT o.doc_id, unnest(range(o.pos, o.pos + {n})) AS widx
        FROM gocc{n} o JOIN (SELECT doc_id, g FROM gcnt{n} WHERE c >= 2) d USING (doc_id, g))),
    gcc{n} AS (SELECT c.doc_id, CAST(SUM(w.wlen) AS BIGINT) AS cov
               FROM gcov{n} c JOIN gwl w USING (doc_id, widx) GROUP BY 1)""")
    top_fracs = ", ".join(
        f"CASE WHEN s.total_chars > 0 THEN CAST(COALESCE(t{n}.topchars, 0) AS DOUBLE) / s.total_chars ELSE 0.0 END AS top{n}_frac"
        for n, _ in _GOPHER_TOPS
    )
    dup_fracs = ", ".join(
        f"CASE WHEN s.total_chars > 0 THEN CAST(COALESCE(d{n}.cov, 0) AS DOUBLE) / s.total_chars ELSE 0.0 END AS dup{n}_frac"
        for n, _ in _GOPHER_DUPS
    )
    joins = " ".join(
        f"LEFT JOIN gtop{n} t{n} USING (doc_id)" for n, _ in _GOPHER_TOPS
    ) + " " + " ".join(f"LEFT JOIN gcc{n} d{n} USING (doc_id)" for n, _ in _GOPHER_DUPS)
    parts.append(f"""
    gout AS (SELECT s.doc_id, s.n_words, s.n_stop, s.n_gstop,
        l.n_lines, l.n_paras, l.dup_lines, l.dup_paras, l.dup_line_chars, l.dup_para_chars,
        l.ell_lines, l.bul_lines,
        CASE WHEN s.n_words > 0 THEN CAST(s.total_chars AS DOUBLE) / s.n_words ELSE 0.0 END AS mwl,
        CASE WHEN s.n_words > 0 THEN CAST(s.symbols AS DOUBLE) / s.n_words ELSE 0.0 END AS sym_ratio,
        CASE WHEN s.n_words > 0 THEN CAST(s.alpha_words AS DOUBLE) / s.n_words ELSE 0.0 END AS alpha_frac,
        CASE WHEN l.n_lines > 0 THEN CAST(l.dup_lines AS DOUBLE) / l.n_lines ELSE 0.0 END AS dup_line_frac,
        CASE WHEN l.line_chars > 0 THEN CAST(l.dup_line_chars AS DOUBLE) / l.line_chars ELSE 0.0 END AS dup_line_char_frac,
        CASE WHEN l.n_paras > 0 THEN CAST(l.dup_paras AS DOUBLE) / l.n_paras ELSE 0.0 END AS dup_para_frac,
        CASE WHEN l.para_chars > 0 THEN CAST(l.dup_para_chars AS DOUBLE) / l.para_chars ELSE 0.0 END AS dup_para_char_frac,
        CASE WHEN l.n_lines > 0 THEN CAST(l.ell_lines AS DOUBLE) / l.n_lines ELSE 0.0 END AS ell_ratio,
        CASE WHEN l.n_lines > 0 THEN CAST(l.bul_lines AS DOUBLE) / l.n_lines ELSE 0.0 END AS bul_ratio,
        {top_fracs},
        {dup_fracs}
      FROM gsig s JOIN glsig l USING (doc_id) {joins})""")
    return ",".join(parts)


def _gopher_keep_sql() -> str:
    """The full §A1.1 keep conjunction over gout's columns — mirrors the
    strict-< convention of gopher_signals rule for rule."""
    terms = [
        "n_words BETWEEN 50 AND 100000",
        "mwl >= 3.0", "mwl <= 10.0",
        "sym_ratio < 0.1", "alpha_frac > 0.8", "n_gstop >= 2",
        *[f"top{n}_frac < {thr}" for n, thr in _GOPHER_TOPS],
        *[f"dup{n}_frac < {thr}" for n, thr in _GOPHER_DUPS],
        "dup_line_frac < 0.30", "dup_line_char_frac < 0.20",
        "dup_para_frac < 0.30", "dup_para_char_frac < 0.20",
        "ell_ratio < 0.30", "bul_ratio < 0.90",
    ]
    return " AND ".join(terms)


@q(
    "quality_filter_docs",
    f"""
    WITH stats AS ({_stats_oracle()}),
    norm AS (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t FROM documents),
    {_gopher_oracle_ctes().lstrip()},
    ws AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
    bgl AS (SELECT doc_id, list_transform(range(len(w) - 1), i -> w[i+1] || ' ' || w[i+2]) AS bgs
            FROM ws WHERE len(w) >= 2),
    bg AS (SELECT doc_id, unnest(bgs) AS bg FROM bgl),
    un AS (SELECT unnest(w) AS word FROM ws),
    uc AS (SELECT word, COUNT(*) AS c1 FROM un GROUP BY word),
    v AS (SELECT COUNT(*) AS V FROM uc),
    lm AS (SELECT bg, COUNT(*) AS c2 FROM bg GROUP BY bg),
    sc AS (SELECT doc_id, (1000000 * (lm.c2 + 1)) // (uc.c1 + v.V) AS p
           FROM bg JOIN lm USING (bg)
                   JOIN uc ON string_split(bg.bg, ' ')[1] = uc.word
                   CROSS JOIN v)
    SELECT 'filter' AS variant, doc_id AS k, n_words AS v1, avg_word_len AS v2, stopword_ratio AS v3
    FROM stats
    WHERE n_words >= 30 AND avg_word_len >= 3.0 AND punct_ratio < 0.1
    UNION ALL
    SELECT 'lm_score', doc_id, COUNT(*), CAST(SUM(p) AS DOUBLE),
           CAST(SUM(p) AS DOUBLE) / COUNT(*)
    FROM sc GROUP BY doc_id
    UNION ALL
    SELECT 'ppl_bucket', doc_id, CAST(bucket AS BIGINT), sp, avg_p FROM (
      SELECT s.doc_id, d.lang, CAST(s.sp AS DOUBLE) AS sp,
             CAST(s.sp AS DOUBLE) / s.nb AS avg_p,
             ntile(3) OVER (PARTITION BY d.lang
                            ORDER BY CAST(s.sp AS DOUBLE) / s.nb DESC, s.doc_id) AS bucket
      FROM (SELECT doc_id, COUNT(*) AS nb, SUM(p) AS sp FROM sc GROUP BY doc_id) s
      JOIN documents d USING (doc_id))
    UNION ALL
    SELECT 'gopher', doc_id,
           CAST((CASE WHEN {_gopher_keep_sql()}
                      THEN 1 ELSE 0 END) * 10000000 + n_gstop * 100000 + n_words AS BIGINT),
           top2_frac, mwl
    FROM gout
    UNION ALL
    SELECT 'gopher_top34', doc_id, n_words, top3_frac, top4_frac FROM gout
    UNION ALL
    SELECT 'gopher_dup56', doc_id, n_gstop, dup5_frac, dup6_frac FROM gout
    UNION ALL
    SELECT 'gopher_dup78', doc_id, n_words, dup7_frac, dup8_frac FROM gout
    UNION ALL
    SELECT 'gopher_dup910', doc_id, n_words, dup9_frac, dup10_frac FROM gout
    UNION ALL
    SELECT 'gopher_lines', doc_id, n_lines * 100000 + n_paras, dup_line_frac, dup_line_char_frac FROM gout
    UNION ALL
    SELECT 'gopher_paras', doc_id, ell_lines * 100000 + bul_lines, dup_para_frac, dup_para_char_frac FROM gout
    UNION ALL
    SELECT 'gopher_linerat', doc_id, dup_lines * 100000 + dup_paras, ell_ratio, bul_ratio FROM gout
    UNION ALL
    SELECT 'winsor', doc_id,
           CAST(CASE WHEN n_chars IS NULL THEN NULL
                     ELSE least(greatest(n_chars, w_lo), w_hi) END AS BIGINT),
           CAST(w_lo AS DOUBLE), CAST(w_hi AS DOUBLE)
    FROM documents JOIN (
      SELECT source,
             MIN(CASE WHEN rn = (1 * n + 19) // 20 THEN n_chars END) AS w_lo,
             MIN(CASE WHEN rn = (19 * n + 19) // 20 THEN n_chars END) AS w_hi
      FROM (SELECT source, n_chars,
                   row_number() OVER (PARTITION BY source ORDER BY n_chars) AS rn,
                   COUNT(*) OVER (PARTITION BY source) AS n
            FROM documents WHERE n_chars IS NOT NULL)
      GROUP BY source) USING (source)
    """,
    doc="Pretraining quality gates as one tagged union. filter: threshold filter composing text_stats — the standard curation shape (filter on cheap map-side features before expensive stages). lm_score: distributed bigram-LM scoring (CCNet-style, operators/lm.py) — train counts on the corpus, score each doc by its average add-one-smoothed conditional probability in exact parts-per-million integers (order-independent sums; a log-space score would hinge on last-ulp ln agreement between libm implementations). ppl_bucket: CCNet's head/middle/tail split — per-LANGUAGE ntile(3) over the LM score (Wenzek et al. LREC 2020 buckets by per-language perplexity terciles; partitionBy(lang) also keeps the sort distributed — never a global window over a fact table). The avg is an IEEE division of exact integers, bit-identical cross-engine, and (avg DESC, doc_id) is a total order, so tercile boundaries cannot drift. gopher/gopher_*: the FULL Gopher §A1.1 rule set (Rae et al. 2021, operators/gopher.py) over a line-structured derivation of the text (four pinned literal replaces that give the fixture's single-line docs live line/paragraph values — see _GOPHER_STRUCTURE): word-count/mean-word-length bounds, symbol ratio counting '#'/'…'/ASCII '...', alphabetic ratio, the paper's 8-word stopword rule, most-frequent-{2,3,4}-gram char fractions (champion by (count DESC, gram ASC), a total order), duplicated-{5..10}-gram coverage fractions (distinct word-position mask), duplicate line/paragraph element+char fractions, and ellipsis/bullet line ratios — EIGHT hash-gated variants ('gopher' packs the full-keep verdict with the 8-set stopword count and n_words; _top34/_dup56/_dup78/_dup910 carry the n-gram fractions; _lines/_paras/_linerat carry the line family). The composition and line families are map-only; the n-gram family shuffles once on (doc_id, n, gram) with partial aggregation plus a bounded coverage re-shuffle. winsor (r12): per-source winsorization of n_chars at exact discrete p5/p95 (operators/percentiles.winsorize) — bounds pivot to one row per source and BROADCAST back, the clamp is map-side; NULL values pass through unclamped on both engines (Spark's greatest/least skip NULLs — guarded by an explicit CASE, same trap class as the seeded_shuffle concat_ws rule).",
)
def quality_filter_docs(spark, sf):
    from tamer_spark.operators.dedup import _release_on_gc
    from tamer_spark.operators.lm import bigram_lm_score_with_cache

    d = _t(spark, sf, "documents")
    stats = d.select("doc_id", *text_stats_cols(F.col("text")))
    filt = (
        stats.filter(
            (F.col("n_words") >= 30) & (F.col("avg_word_len") >= 3.0) & (F.col("punct_ratio") < 0.1)
        )
        .select(
            F.lit("filter").alias("variant"),
            F.col("doc_id").alias("k"),
            F.col("n_words").cast("long").alias("v1"),
            F.col("avg_word_len").alias("v2"),
            F.col("stopword_ratio").alias("v3"),
        )
    )
    # _with_cache: the scores feed TWO branches (lm_score + ppl_bucket), so
    # the persisted bigram stream must survive until the returned UNION is
    # dropped — attaching the finalizer to `scores` itself would fire it at
    # function return and both branches would recompute extraction (ADVICE r3).
    # scores is additionally persisted (doc-sized — tiny) so the scoring
    # join runs once across the branches, not once per branch.
    scores, cached = bigram_lm_score_with_cache(d)
    scores = scores.persist()
    lm = scores.select(
        F.lit("lm_score").alias("variant"),
        F.col("doc_id").alias("k"),
        F.col("n_bigrams").alias("v1"),
        F.col("sum_p_scaled").cast("double").alias("v2"),
        F.col("avg_p_scaled").alias("v3"),
    )
    wb = Window.partitionBy("lang").orderBy(F.col("avg_p_scaled").desc(), F.col("doc_id"))
    ppl = (
        scores.join(d.select("doc_id", "lang"), "doc_id")
        .withColumn("bucket", F.ntile(3).over(wb).cast("long"))
        .select(
            F.lit("ppl_bucket").alias("variant"),
            F.col("doc_id").alias("k"),
            F.col("bucket").alias("v1"),
            F.col("sum_p_scaled").cast("double").alias("v2"),
            F.col("avg_p_scaled").alias("v3"),
        )
    )
    from tamer_spark.operators.gopher import gopher_signals

    # full §A1.1 signals over the line-structured text (see _GOPHER_STRUCTURE
    # — the structurer is what gives the line/paragraph rules live values on
    # the single-line fixture corpus). The signal frame feeds EIGHT gate
    # variants, so persist it (doc-count-sized) and release with the union.
    gs = gopher_signals(
        d.withColumn("text", _structured_col(_GOPHER_STRUCTURE))
    ).persist()

    def _gvar(tag, v1, v2, v3):
        return gs.select(
            F.lit(tag).alias("variant"),
            F.col("doc_id").alias("k"),
            v1.cast("long").alias("v1"),
            v2.alias("v2"),
            v3.alias("v3"),
        )

    gv = _gvar(
        "gopher",
        F.col("keep") * 10_000_000 + F.col("n_gopher_stopwords") * 100_000 + F.col("n_words"),
        F.col("top_bigram_char_frac"),
        F.col("mean_word_len"),
    )
    for tag, v1, v2, v3 in [
        ("gopher_top34", F.col("n_words"), F.col("top_3gram_char_frac"), F.col("top_4gram_char_frac")),
        ("gopher_dup56", F.col("n_gopher_stopwords"), F.col("dup_5gram_char_frac"), F.col("dup_6gram_char_frac")),
        ("gopher_dup78", F.col("n_words"), F.col("dup_7gram_char_frac"), F.col("dup_8gram_char_frac")),
        ("gopher_dup910", F.col("n_words"), F.col("dup_9gram_char_frac"), F.col("dup_10gram_char_frac")),
        ("gopher_lines", F.col("n_lines") * 100_000 + F.col("n_paragraphs"), F.col("dup_line_frac"), F.col("dup_line_char_frac")),
        ("gopher_paras", F.col("n_ellipsis_lines") * 100_000 + F.col("n_bullet_lines"), F.col("dup_para_frac"), F.col("dup_para_char_frac")),
        ("gopher_linerat", F.col("n_dup_lines") * 100_000 + F.col("n_dup_paragraphs"), F.col("ellipsis_line_ratio"), F.col("bullet_line_ratio")),
    ]:
        gv = gv.unionByName(_gvar(tag, v1, v2, v3))
    from tamer_spark.operators.percentiles import winsorize

    wz = winsorize(
        d.select("doc_id", "source", "n_chars"),
        "n_chars",
        keys=("source",),
        p_lo=(1, 20),
        p_hi=(19, 20),
    ).select(
        F.lit("winsor").alias("variant"),
        F.col("doc_id").alias("k"),
        F.col("value_winsor").cast("long").alias("v1"),
        F.col("w_lo").cast("double").alias("v2"),
        F.col("w_hi").cast("double").alias("v3"),
    )
    out = _release_on_gc(
        filt.unionByName(lm).unionByName(ppl).unionByName(gv).unionByName(wz),
        scores,
        gs,
    )
    return out if cached is None else _release_on_gc(out, cached)


# Line/punctuation structurer for the C4 gate (same rationale as
# _GOPHER_STRUCTURE: the fixture ships single-line, punctuation-free texts,
# so the gate derives sentence terminators, line breaks, and rule triggers
# with pinned literal replaces applied in THIS order on both engines).
_C4_STRUCTURE = (
    (" merge", ". merge"),
    (" order", "! order"),
    (" batch", "? batch"),
    (" window", ".\nwindow"),  # line break PRECEDED by a terminal, so the
    # closed line survives the terminal-punctuation rule; each doc's final
    # line ends bare and is dropped — the rule fires on real data
    (" line", " javascript line"),
    (" slow", " { slow"),
    (" big", " lorem ipsum big"),
    # every ' hash' inserts the IDENTICAL standalone line — docs with two or
    # more occurrences carry real within-document duplicate lines, giving
    # the linededup variant live values (and the boilerplate repeats across
    # documents, feeding the span-dedup variant too)
    (" hash", ".\nthis exact banner repeats verbatim.\nhash"),
)


def _c4_oracle_ctes() -> str:
    """DuckDB replay of operators/c4.py — the line filter (terminal
    punctuation / min words / javascript lines, lorem-ipsum / brace / 5-
    sentence document rules) and the cross-document 3-sentence-span dedup
    (keep-global-first by packed (doc_id, start) MIN), both over the pinned
    structured text and composed exactly as the Spark side composes them
    (spans run on the line filter's CLEANED output)."""
    return f"""
    cdocs AS (SELECT doc_id, {_structured_sql(_C4_STRUCTURE)} AS text FROM documents),
    clin AS (SELECT doc_id, text,
        list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)), x -> len(x) > 0) AS lines
      FROM cdocs),
    ckept AS (SELECT doc_id, text, lines,
        list_filter(lines, x ->
            (ends_with(x, '.') OR ends_with(x, '!') OR ends_with(x, '?') OR ends_with(x, '"'))
            AND len(list_filter(string_split(x, ' '), w -> len(w) > 0)) >= 3
            AND NOT contains(lower(x), 'javascript')) AS kept
      FROM clin),
    cclean AS (SELECT doc_id,
        COALESCE(array_to_string(kept, chr(10)), '') AS text_clean,
        CAST(len(lines) AS BIGINT) AS n_lines,
        CAST(len(kept) AS BIGINT) AS n_kept,
        NOT (contains(lower(text), 'lorem ipsum') OR contains(lower(text), '{{')) AS doc_ok
      FROM ckept),
    cfin AS (SELECT doc_id, text_clean, n_lines, n_kept, doc_ok,
        CAST((len(text_clean) - len(replace(text_clean, '.', '')))
           + (len(text_clean) - len(replace(text_clean, '!', '')))
           + (len(text_clean) - len(replace(text_clean, '?', ''))) AS BIGINT) AS n_sentences
      FROM cclean),
    csarr AS (SELECT doc_id,
        list_filter(list_transform(string_split_regex(replace(text_clean, chr(31), ''), '[.!?]'), x -> trim(x)), x -> len(x) > 0) AS ss
      FROM cfin),
    cocc AS (SELECT doc_id, unnest(list_transform(range(greatest(len(ss) - 2, 0)),
                 i -> {{'start': i, 'sp': array_to_string(ss[i+1:i+3], chr(31))}}), recursive := true)
             FROM csarr),
    ckey AS (SELECT doc_id, start, sp, ROW(doc_id, start) AS k FROM cocc),
    cfirst AS (SELECT sp, min(k) AS fk FROM ckey GROUP BY sp),
    cdropped AS (SELECT DISTINCT doc_id, widx FROM (
        SELECT o.doc_id, unnest(range(o.start, o.start + 3)) AS widx
        FROM ckey o JOIN cfirst USING (sp) WHERE o.k != fk)),
    csent AS (SELECT doc_id, unnest(list_transform(range(len(ss)),
                  i -> {{'idx': i, 's': ss[i+1]}}), recursive := true)
              FROM csarr),
    csurv AS (SELECT s.doc_id, s.idx, s.s FROM csent s
              LEFT JOIN cdropped d ON s.doc_id = d.doc_id AND s.idx = d.widx
              WHERE d.doc_id IS NULL),
    crebuilt AS (SELECT doc_id, string_agg(s, '. ' ORDER BY idx) AS text_dedup,
                        COUNT(*) AS n_kept FROM csurv GROUP BY doc_id),
    cspan AS (SELECT c.doc_id,
        COALESCE(r.text_dedup, '') AS text_dedup,
        CAST(len(c.ss) AS BIGINT) AS n_sentences,
        CAST(len(c.ss) - COALESCE(r.n_kept, 0) AS BIGINT) AS n_dropped
      FROM csarr c LEFT JOIN crebuilt r USING (doc_id)),
    cldd AS (SELECT doc_id,
        COALESCE(array_to_string(list_filter(lines, (x, i) -> list_position(lines, x) = i), chr(10)), '') AS text_ld,
        CAST(len(lines) AS BIGINT) AS n_lines,
        CAST(len(lines) - len(list_filter(lines, (x, i) -> list_position(lines, x) = i)) AS BIGINT) AS n_ld_dropped
      FROM clin)"""


_C4_CLEAN_ORACLE = f"""
    WITH {_c4_oracle_ctes().lstrip()}
    SELECT 'lines' AS variant, doc_id AS k, text_clean AS txt,
           n_lines * 100000 + n_kept AS a,
           n_sentences * 10 + (CASE WHEN n_sentences >= 5 AND doc_ok THEN 1 ELSE 0 END) AS b
    FROM cfin
    UNION ALL
    SELECT 'spans', doc_id, text_dedup, n_sentences, n_dropped FROM cspan
    UNION ALL
    SELECT 'linededup', doc_id, text_ld, n_lines, n_ld_dropped FROM cldd
    """


# Standalone builder kept for bench series continuity (graded via
# text_cleaning_docs).
def c4_clean_docs_q(spark, sf):
    from tamer_spark.operators.c4 import c4_line_filter, c4_span_dedup

    d = _t(spark, sf, "documents").withColumn(
        "text", _structured_col(_C4_STRUCTURE)
    )
    # the cleaned frame feeds its own gate row AND the span-dedup stage —
    # persist (doc-count-sized) and release with the union
    from tamer_spark.operators.dedup import _release_on_gc

    cleaned = c4_line_filter(d).persist()
    lines = cleaned.selectExpr(
        "'lines' AS variant",
        "doc_id AS k",
        "text_clean AS txt",
        "CAST(n_lines * 100000 + n_lines_kept AS BIGINT) AS a",
        "CAST(n_sentences * 10 + keep AS BIGINT) AS b",
    )
    spans = c4_span_dedup(
        cleaned.selectExpr("doc_id", "text_clean AS text")
    ).selectExpr(
        "'spans' AS variant",
        "doc_id AS k",
        "text_dedup AS txt",
        "n_sentences AS a",
        "n_dropped AS b",
    )
    from tamer_spark.operators.dedup import dedup_lines_in_doc

    linededup = dedup_lines_in_doc(d).selectExpr(
        "'linededup' AS variant",
        "doc_id AS k",
        "text_clean AS txt",
        "n_lines AS a",
        "n_dropped AS b",
    )
    return _release_on_gc(lines.unionByName(spans).unionByName(linededup), cleaned)


# PII structurer for the scrub gate: the fixture carries no emails/IPs, so
# derive them deterministically (pinned order) — ' spark' plants an email,
# ' data' plants a redactable IPv4 literal, and ' batch' plants a 5-octet
# decoy whose leftmost 4 octets redact while the '.5' tail must survive —
# pinning that both engines agree on leftmost-match and \b boundary
# semantics, not just on clean-token matches (verified identical:
# 'x 1.2.3.4.5 y' -> 'x <IP>.5 y' in Java regex AND RE2).
_PII_STRUCTURE = (
    (" spark", " spark dev.team+crawl@data-example.org"),
    (" data", " data 192.168.001.012"),
    (" batch", " batch 1.2.3.4.5"),
)


_SCRUB_PII_ORACLE = f"""
    WITH pdocs AS (SELECT doc_id, {_structured_sql(_PII_STRUCTURE)} AS text FROM documents)
    SELECT doc_id,
           regexp_replace(regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '<EMAIL>', 'g'),
               '\\b(?:[0-9]{{1,3}}\\.){{3}}[0-9]{{1,3}}\\b', '<IP>', 'g') AS text_scrubbed,
           CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text, '\\b(?:[0-9]{{1,3}}\\.){{3}}[0-9]{{1,3}}\\b')) AS BIGINT) AS n_ips
    FROM pdocs
    """


# Standalone builder kept for bench series continuity (graded via
# text_cleaning_docs).
def scrub_pii_docs_q(spark, sf):
    from tamer_spark.functions.text import pii_count_cols, scrub_pii_col

    d = _t(spark, sf, "documents").withColumn(
        "text", _structured_col(_PII_STRUCTURE)
    )
    return d.select(
        "doc_id",
        scrub_pii_col(F.col("text")).alias("text_scrubbed"),
        *pii_count_cols(F.col("text")),
    )


# Markup-wrapped derivation of the fixture text (the _C4_STRUCTURE
# pattern: pinned literal replaces mirrored in the oracle) — each replace
# plants one stripping behavior so the markup variant exercises every rule
# on real fixture text: inline tag, entity decode, script block swallowing
# a fake `</p>` closer, block-boundary newline, multi-line comment, angle
# entities that must survive as CONTENT, and a void tag.
_MARKUP_STRUCTURE = (
    (" merge", " <b>merge</b>"),
    (" order", " &amp; order"),
    (" batch", " <script>var batch='</p>';</script>batch"),
    (" window", "</p><p>window"),
    (" line", " <!-- line\nhidden --> line"),
    (" slow", " &lt;slow&gt;"),
    (" big", " <img src='big.png'/> big"),
)

_MARKUP_WRAP = {
    "head": "<html><head><title>doc</title><style>p {color:red}</style></head><body><h1>",
    "tail": "</h1><footer>&copy; corp</footer></body></html>",
}


def _markup_strip_sql(col: str) -> str:
    """DuckDB replay of functions/text.strip_markup_col — the SAME constant
    table drives both engines, so the chains cannot silently diverge."""
    from tamer_spark.functions import text as T

    out = col
    for pat, rep in (
        (T.MARKUP_COMMENT_RE, "''"),
        (T.MARKUP_SCRIPT_RE, "''"),
        (T.MARKUP_STYLE_RE, "''"),
        (T.MARKUP_BLOCK_RE, "chr(10)"),
        (T.MARKUP_TAG_RE, "' '"),
    ):
        out = f"regexp_replace({out}, '{pat}', {rep}, 'g')"
    for ent, ch in T.MARKUP_ENTITIES:
        out = f"replace({out}, '{ent}', '{ch.replace(chr(39), chr(39) * 2)}')"
    out = f"regexp_replace({out}, '{T.MARKUP_WS_NL_RE}', chr(10), 'g')"
    out = f"regexp_replace({out}, '{T.MARKUP_WS_H_RE}', ' ', 'g')"
    return f"regexp_replace({out}, '^\\s+|\\s+$', '', 'g')"


_MARKUP_ORACLE = f"""
    WITH mdocs AS (SELECT doc_id, {_structured_sql(_MARKUP_STRUCTURE, **_MARKUP_WRAP)} AS m FROM documents),
    mstrip AS (SELECT doc_id, m, {_markup_strip_sql("m")} AS s FROM mdocs)
    SELECT doc_id, s AS text_stripped,
           CAST(len(m) - len(s) AS BIGINT) AS n_removed,
           CAST(len(string_split(s, chr(10))) AS BIGINT) AS n_lines
    FROM mstrip
    """


# Standalone builder kept for plan pins / bench (graded via the merged
# text_cleaning_docs gate's 'markup' variant).
def strip_markup_docs_q(spark, sf):
    from tamer_spark.functions.text import strip_markup_col

    d = _t(spark, sf, "documents")
    staged = d.select(
        "doc_id", _structured_col(_MARKUP_STRUCTURE, **_MARKUP_WRAP).alias("_m")
    )
    # CollapseProject re-inlines `_s` into each consumer (deterministic
    # scalar — no generator trick applies), so the chain evaluates once per
    # output column; still map-only at scan rate, the shape this stage has
    # in every web pipeline
    stripped = strip_markup_col(F.col("_m"))
    return staged.select(
        "doc_id",
        stripped.alias("text_stripped"),
        (F.length("_m") - F.length(stripped)).cast("long").alias("n_removed"),
        F.size(F.split(stripped, "\n")).cast("long").alias("n_lines"),
    )


# Encoding-damage derivation for the encoding-repair variant: pinned literal
# replaces planting the real-world failure modes fix_encoding_col must
# survive — mojibake built FROM the fix table (so plant and fix can't
# drift), including the two order traps ('à' whose mojibake ends in NBSP,
# '”' whose mojibake carries the C1 byte U+009D), a paired-quote plant, a
# zero-width space, an NBSP-for-space swap, a BEL control, a CRLF, plus a
# BOM prefix and an ESC suffix on every document.
_ENC_STRUCTURE = (
    (" value", " v" + _mojibake("ä") + "lue"),
    (" table", " t" + _mojibake("’") + "able"),
    (" fast", " fast" + _mojibake("…")),
    (" merge", " " + _mojibake("“") + "merge" + _mojibake("”")),
    (" agg", " " + _mojibake("à") + "gg"),
    (" key", " ​key"),
    (" sort", " sort"),
    (" row", " row\x07"),
    (" scan", " scan\r\n"),
)

_ENC_WRAP = {"head": chr(0xFEFF), "tail": chr(0x1B)}


def _fix_encoding_sql(col: str) -> str:
    """The oracle's repair chain, generated from the SAME constants
    functions/text.fix_encoding_col compiles to Catalyst."""
    import tamer_spark.functions.text as T

    out = col
    for broken, fixed in T.MOJIBAKE_FIXES:
        out = f"replace({out}, {_sql_lit(broken)}, {_sql_lit(fixed)})"
    out = f"replace({out}, {_sql_lit(T.ENC_NBSP)}, ' ')"
    out = f"regexp_replace({out}, {_sql_lit(T.ENC_ZERO_WIDTH_RE)}, '', 'g')"
    out = f"replace({out}, chr(13) || chr(10), chr(10))"
    out = f"replace({out}, chr(13), chr(10))"
    return f"regexp_replace({out}, '{_T_ENC_CTRL_RE}', '', 'g')"


from tamer_spark.functions.text import ENC_CTRL_RE as _T_ENC_CTRL_RE  # noqa: E402
from tamer_spark.functions.text import ENC_NONASCII_RE as _T_ENC_NONASCII_RE  # noqa: E402

_ENC_ORACLE = f"""
    WITH edocs AS (SELECT doc_id, {_structured_sql(_ENC_STRUCTURE, **_ENC_WRAP)} AS e FROM documents),
    efix AS (SELECT doc_id, e, {_fix_encoding_sql("e")} AS fx FROM edocs)
    SELECT doc_id, fx AS text_fixed,
           CAST(len(e) - len(fx) AS BIGINT) AS n_removed,
           CAST(len(regexp_extract_all(fx, '{_T_ENC_NONASCII_RE}')) AS BIGINT) AS n_nonascii
    FROM efix
    """


# Standalone builder kept for plan pins / bench (graded via the merged
# text_cleaning_docs gate's 'encoding' variant).
def fix_encoding_docs_q(spark, sf):
    from tamer_spark.functions.text import fix_encoding_col

    d = _t(spark, sf, "documents")
    staged = d.select("doc_id", _structured_col(_ENC_STRUCTURE, **_ENC_WRAP).alias("_e"))
    fixed = fix_encoding_col(F.col("_e"))
    return staged.select(
        "doc_id",
        fixed.alias("text_fixed"),
        (F.length("_e") - F.length(fixed)).cast("long").alias("n_removed"),
        F.regexp_count(fixed, F.lit(_T_ENC_NONASCII_RE)).cast("long").alias("n_nonascii"),
    )


_LINEX_MIN_DF = 3

# Cross-document boilerplate-line removal over the SAME c4-structured
# derivation: its ' hash'-planted banner line repeats verbatim across many
# documents (live high-df boilerplate), while content lines stay unique.
# The oracle needs no ordinality trick: list_filter preserves order, and
# the boilerplate set (small by construction) rides along as ONE list value.
_LINEX_ORACLE = f"""
    WITH ldocs AS (SELECT doc_id, {_structured_sql(_C4_STRUCTURE)} AS text FROM documents),
    llin AS (SELECT doc_id,
        list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)), x -> len(x) > 0) AS lines
      FROM ldocs),
    lfreq AS (SELECT line FROM (SELECT DISTINCT doc_id, unnest(lines) AS line FROM llin)
              GROUP BY line HAVING COUNT(*) >= {_LINEX_MIN_DF}),
    lbp AS (SELECT COALESCE(list(line), []) AS bp FROM lfreq)
    SELECT doc_id,
           -- empty-vs-NULL convention pinned to Spark: array_join([]) = ''
           -- but DuckDB array_to_string([]) = NULL, so COALESCE the
           -- NON-NULL-lines branch to '' while a NULL text stays NULL
           CASE WHEN lines IS NULL THEN NULL
                ELSE COALESCE(array_to_string(list_filter(lines, x -> NOT list_contains(bp, x)), chr(10)), '')
           END AS text_clean,
           CAST(len(lines) AS BIGINT) AS n_lines,
           CAST(len(lines) - len(list_filter(lines, x -> NOT list_contains(bp, x))) AS BIGINT) AS n_dropped
    FROM llin CROSS JOIN lbp
    """


# Standalone builder kept for plan pins / bench (graded via the merged
# text_cleaning_docs gate's 'linexdoc' variant).
def line_dedup_docs_q(spark, sf):
    from tamer_spark.operators.dedup import dedup_lines_across_docs

    d = _t(spark, sf, "documents").select(
        "doc_id", _structured_col(_C4_STRUCTURE).alias("text")
    )
    return dedup_lines_across_docs(d, min_doc_freq=_LINEX_MIN_DF)


# (_RUN_L, the exact-substring family's shared window length, is defined
# next to the gate constants near the top of the module.)


# ExactSubstr removal oracle (text_cleaning_docs 'exsub' variant): full
# DuckDB replay of operators/runs.exact_substring_dedup at the gate's
# _RUN_L=12 over the RAW fixture text (the corpus substring_run_pairs
# proved carries verbatim 12-token runs). Window hashes mirror the
# substring_run_pairs oracle (md5-prefix stable_hash64); keeper election
# is min(ROW(doc_id, pos)) per hash; non-keeper windows merge into
# maximal intervals via the same gaps-and-islands running-max-end rule;
# kept tokens re-join with ' ' (string_agg ORDER BY idx == the Spark
# splice), fully-removed docs survive as '' via the LEFT join + COALESCE.
_EXSUB_ORACLE = f"""
    WITH xnorm AS (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
                   FROM documents),
         xws AS (SELECT doc_id, string_split(t, ' ') AS w FROM xnorm),
         xwh AS (SELECT doc_id,
                 CASE WHEN len(w) - {_RUN_L - 1} <= 0 THEN []
                      ELSE list_transform(range(len(w) - {_RUN_L - 1}), i ->
                           ('0x' || substr(md5(array_to_string(w[i+1:i+{_RUN_L}], ' ')), 1, 15))::BIGINT)
                 END AS hs
                FROM xws),
         xe AS (SELECT doc_id, unnest(hs) AS h,
                       CAST(generate_subscripts(hs, 1) AS BIGINT) AS pos FROM xwh),
         xkeep AS (SELECT h, COUNT(*) AS n, min(ROW(doc_id, pos)) AS fk FROM xe GROUP BY h),
         xdup AS (SELECT e.doc_id, e.pos FROM xe e JOIN xkeep k USING (h)
                  WHERE k.n >= 2 AND ROW(e.doc_id, e.pos) != k.fk),
         xmark AS (SELECT doc_id, pos,
                   CASE WHEN pos > COALESCE(MAX(pos + {_RUN_L - 1}) OVER (
                        PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
                        THEN 1 ELSE 0 END AS newisl
                   FROM xdup),
         xisl AS (SELECT doc_id, pos,
                  SUM(newisl) OVER (PARTITION BY doc_id ORDER BY pos) AS isl FROM xmark),
         xiv AS (SELECT doc_id, MIN(pos) AS s, MAX(pos) + {_RUN_L - 1} AS e
                 FROM xisl GROUP BY doc_id, isl),
         xtok AS (SELECT doc_id, unnest(w) AS word,
                         CAST(generate_subscripts(w, 1) AS BIGINT) AS idx FROM xws),
         xkept AS (SELECT t.doc_id, t.idx, t.word FROM xtok t LEFT JOIN xiv v
                   ON t.doc_id = v.doc_id AND t.idx BETWEEN v.s AND v.e
                   WHERE v.doc_id IS NULL),
         xreb AS (SELECT doc_id, string_agg(word, ' ' ORDER BY idx) AS text_dedup,
                         COUNT(*) AS n_kept FROM xkept GROUP BY doc_id)
    SELECT w.doc_id,
           CASE WHEN w.w IS NULL THEN NULL
                ELSE COALESCE(r.text_dedup, '') END AS text_dedup,
           CAST(len(w.w) AS BIGINT) AS n_tokens,
           CAST(CASE WHEN w.w IS NULL THEN 0
                     ELSE len(w.w) - COALESCE(r.n_kept, 0) END AS BIGINT) AS n_removed
    FROM xws w LEFT JOIN xreb r USING (doc_id)
    """


# Standalone builder kept for plan pins / bench series (graded via the
# text_cleaning_docs gate's 'exsub' variant).
def exsub_dedup_docs_q(spark, sf):
    from tamer_spark.operators.runs import exact_substring_dedup

    return exact_substring_dedup(_t(spark, sf, "documents"), length=_RUN_L)


@q(
    "text_cleaning_docs",
    f"""
    SELECT * FROM ({_C4_CLEAN_ORACLE})
    UNION ALL
    SELECT 'pii', doc_id, text_scrubbed, n_emails, n_ips FROM ({_SCRUB_PII_ORACLE})
    UNION ALL
    SELECT 'markup', doc_id, text_stripped, n_removed, n_lines FROM ({_MARKUP_ORACLE})
    UNION ALL
    SELECT 'encoding', doc_id, text_fixed, n_removed, n_nonascii FROM ({_ENC_ORACLE})
    UNION ALL
    SELECT 'linexdoc', doc_id, text_clean, n_lines, n_dropped FROM ({_LINEX_ORACLE})
    UNION ALL
    SELECT 'exsub', doc_id, text_dedup, n_tokens, n_removed FROM ({_EXSUB_ORACLE})
    """,
    doc="Corpus text-cleaning surface as one tagged union (r6 window re-pack of the driver-green c4_clean_docs + scrub_pii_docs gates; variants unchanged). lines/spans/linededup: C4-style cleaning (Raffel et al. 2020 §2.2, operators/c4.py) over a punctuation/line-structured derivation of the fixture text (pinned literal replaces — see _C4_STRUCTURE — mirrored in the oracle): line-level keep rules + document verdict (map-only array HOFs, the REBUILT text string itself is hashed), C4's cross-document 3-sentence-span dedup over the CLEANED text (kept occurrence = globally smallest (doc_id, start) struct via partial-aggregable lexicographic MIN — never a row_number window), and RefinedWeb-style within-document duplicate-line removal (keep-first pinned as position-of-first-match == own-index, map-only). pii: FineWeb-style scrubbing (Penedo et al. 2024; functions/text.py scrub_pii_col) over text with planted emails, IPv4 literals, and a 5-octet decoy whose '.5' tail must survive — the SCRUBBED string is hashed, patterns pinned to the Java-regex/RE2 common subset, emails before IPs; entirely map-only, redaction at parquet-scan rate. markup (r11): WET-style tag-soup markup stripping (functions/text.py strip_markup_col — the stage every web pipeline runs FIRST) over a markup-wrapped derivation of the fixture text (_MARKUP_STRUCTURE, pinned literal replaces planting an inline tag, entity decode incl. the &amp;-last double-escape rule, a script block swallowing a fake </p>, a block-boundary newline, a multi-line comment, angle entities surviving as content, and a void tag); the STRIPPED string is hashed plus removed-char and output-line audits; the oracle replays the identical constant-driven regexp chain; map-only, zero shuffles. encoding (r11): ftfy-style encoding repair (Speer 2019; functions/text.py fix_encoding_col — run before any filter, since quality scores over mojibake are themselves mojibake) over a damage derivation planting table-generated mojibake (incl. the two order traps: 'à' whose broken form ends in NBSP, '”' whose broken form carries C1 U+009D), a zero-width space, an NBSP-for-space swap, a BEL, a CRLF, a BOM prefix and an ESC suffix; the FIXED string is hashed plus removed-char and surviving-non-ASCII audits; the oracle replays the identical table-driven chain; map-only, zero shuffles. linexdoc (r12): ACROSS-document boilerplate-line removal (Dolma §4.1 paragraph dedup / RefinedWeb §3.2 — operators/dedup.dedup_lines_across_docs): every occurrence of a line whose doc frequency ≥ 3 is dropped from every doc (remove-ALL — template chrome is content in NONE of its hosts; the complement of c4_span_dedup's keep-first), run over the same c4-structured derivation whose planted banner line IS live high-df boilerplate; doc_freq = COUNT(DISTINCT doc), rebuilt text hashed with line/drop audits; plan: the post-threshold boilerplate set broadcasts back onto the UN-shuffled probe stream (BroadcastHashJoin LeftOuter — the line stream never exchanges on h; three shuffles total: count-distinct dedup, freq agg, one doc_id rebuild regroup) — all-boilerplate docs survive as '' via the LEFT tag join (anti would erase them); steady-state epochs broadcast a frozen boilerplate_lines set instead and skip the freq pass. exsub (r12): ExactSubstr REMOVAL (Lee et al. 2022 §4.1 — the policy half that the substring_run_pairs gate's detection half feeds; operators/runs.exact_substring_dedup, same _RUN_L=12 window so both graded surfaces describe one duplicated-run population): every occurrence of a 12-token window appearing ≥2× in the corpus is cut EXCEPT the canonical min-(doc_id,pos) occurrence (the c4_span_dedup keep-first convention — partial-aggregable lexicographic MIN, never a row_number window); overlapping cut windows merge into maximal intervals (gaps-and-islands running-max-end), the text is rebuilt by an O(n_tokens) aggregate-of-slices splice, fully-duplicated docs survive as '' (the linexdoc convention), and the REBUILT string is hashed with token/removed audits; plan: keeper election is groupBy(h)+join (partial aggs absorb hot boilerplate hashes; deliberately NOT a window-over-h, and NO posting cap — removal never squares a posting list, and a cap would silently leave duplicates), interval assembly is keyed on duplicate rows only, single-pass splice semantics documented (spliced-boundary L-grams not re-chased — the suffix-array tool's own behavior).",
)
def text_cleaning_docs_q(spark, sf):
    pii = scrub_pii_docs_q(spark, sf).select(
        F.lit("pii").alias("variant"),
        F.col("doc_id").alias("k"),
        F.col("text_scrubbed").alias("txt"),
        F.col("n_emails").alias("a"),
        F.col("n_ips").alias("b"),
    )
    markup = strip_markup_docs_q(spark, sf).select(
        F.lit("markup").alias("variant"),
        F.col("doc_id").alias("k"),
        F.col("text_stripped").alias("txt"),
        F.col("n_removed").alias("a"),
        F.col("n_lines").alias("b"),
    )
    encoding = fix_encoding_docs_q(spark, sf).select(
        F.lit("encoding").alias("variant"),
        F.col("doc_id").alias("k"),
        F.col("text_fixed").alias("txt"),
        F.col("n_removed").alias("a"),
        F.col("n_nonascii").alias("b"),
    )
    linexdoc = line_dedup_docs_q(spark, sf).select(
        F.lit("linexdoc").alias("variant"),
        F.col("doc_id").alias("k"),
        F.col("text_clean").alias("txt"),
        F.col("n_lines").alias("a"),
        F.col("n_dropped").alias("b"),
    )
    exsub = exsub_dedup_docs_q(spark, sf).select(
        F.lit("exsub").alias("variant"),
        F.col("doc_id").alias("k"),
        F.col("text_dedup").alias("txt"),
        F.col("n_tokens").alias("a"),
        F.col("n_removed").alias("b"),
    )
    return (
        c4_clean_docs_q(spark, sf)
        .unionByName(pii)
        .unionByName(markup)
        .unionByName(encoding)
        .unionByName(linexdoc)
        .unionByName(exsub)
    )


def _embedding_neardup_oracle(planes: int = 8, dim: int = 64, seed: int = 42) -> str:
    def bucket_expr(v: str) -> str:
        return _lsh_bucket_sql(v, planes, dim, seed)

    return f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) AS v
               FROM embeddings),
         b AS (SELECT vec_id, v, ({bucket_expr('v')}) AS bucket FROM e)
    SELECT a.vec_id AS vec_a, bb.vec_id AS vec_b,
           round(list_dot_product(a.v, bb.v) / sqrt(list_dot_product(a.v, a.v) * list_dot_product(bb.v, bb.v)), 6) AS cosine
    FROM b a JOIN b bb ON a.bucket = bb.bucket AND a.vec_id < bb.vec_id
    WHERE list_dot_product(a.v, bb.v) / sqrt(list_dot_product(a.v, a.v) * list_dot_product(bb.v, bb.v)) >= 0.3
    """


@q(
    "dedup_embedding_cosine",
    f"""
    SELECT 'neardup' AS variant, vec_a AS k1, vec_b AS k2, cosine AS v
    FROM ({_embedding_neardup_oracle()})
    UNION ALL
    SELECT 'norm', vec_id, CAST(len(embedding) AS BIGINT),
           round(sqrt(list_dot_product(list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)),
                                       list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)))), 6)
    FROM embeddings
    """,
    doc="Embedding-cosine near-dup pairs (threshold 0.3 — calibrated to the synthetic random embeddings; production would use ~0.9) within LSH buckets — semantic dedup at corpus scale without the O(n²) cross join — unioned (tagged) with the per-vector L2-norm/dim profile pass (quantized F.aggregate/zip_with dot product, map-only).",
)
def dedup_embedding_cosine(spark, sf):
    from tamer_spark.operators.similarity import dot_sql, quantize_sql

    emb = _t(spark, sf, "embeddings")
    qv = quantize_sql("embedding")
    norms = emb.selectExpr(
        "'norm' AS variant",
        "vec_id AS k1",
        "CAST(size(embedding) AS BIGINT) AS k2",
        f"round(sqrt({dot_sql(qv, qv)}), 6) AS v",
    )
    pairs = _embedding_neardup_pairs(spark, sf).select(
        F.lit("neardup").alias("variant"),
        F.col("vec_a").alias("k1"),
        F.col("vec_b").alias("k2"),
        F.col("cosine").alias("v"),
    )
    return pairs.unionByName(norms)


def _embedding_neardup_pairs(spark, sf):
    from tamer_spark.operators.similarity import dot_sql, lsh_bucket_sql, quantize_sql

    emb = _t(spark, sf, "embeddings", floor=True)
    # squared norm once per vector (not per candidate pair); pair work is a
    # single dot. sqrt(a.n2 * b.n2) keeps the arithmetic (and the rounded
    # cosine) bit-identical to the per-pair formulation.
    b = emb.selectExpr(
        "vec_id", f"{quantize_sql('embedding')} AS v"
    ).selectExpr(
        "vec_id",
        "v",
        f"{lsh_bucket_sql('v', 8, 64)} AS bucket",
        f"{dot_sql('v', 'v')} AS n2",
    )
    a, bb = b.alias("a"), b.alias("b")
    return (
        a.join(bb, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .selectExpr("*", f"({dot_sql('a.v', 'b.v')}) / SQRT(a.n2 * b.n2) AS cosine_raw")
        .filter("cosine_raw >= 0.3D")
        .selectExpr(
            "a.vec_id AS vec_a",
            "b.vec_id AS vec_b",
            "round(cosine_raw, 6) AS cosine",
        )
    )


# ---------------------------------------------------------------------------
# Text-pipeline curation ops: vocabulary/bigrams, TF-IDF
# ---------------------------------------------------------------------------

_NGRAM_TOP_ORACLE = """
    WITH norm AS (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t FROM documents),
         wsx AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
         uni AS (SELECT unnest(w) AS word FROM wsx),
         uni_top AS (
           SELECT CAST(1 AS BIGINT) AS gram_len, word AS gram, COUNT(*) AS cnt
           FROM uni WHERE length(word) > 0
           GROUP BY word ORDER BY cnt DESC, word LIMIT 20),
         bg AS (SELECT unnest(list_transform(list_zip(w, w[2:]),
                    p -> CASE WHEN p[2] IS NULL THEN NULL
                         ELSE p[1] || ' ' || p[2] END)) AS bigram FROM wsx),
         bg_top AS (
           SELECT CAST(2 AS BIGINT) AS gram_len, bigram AS gram, COUNT(*) AS cnt
           FROM bg WHERE bigram IS NOT NULL
           GROUP BY bigram ORDER BY cnt DESC, bigram LIMIT 20)
    SELECT * FROM uni_top UNION ALL SELECT * FROM bg_top
    """


# Standalone builder kept for plan pins (graded via term_stats_docs).
def ngram_top_terms(spark, sf):
    from tamer_spark.operators.dedup import normalize_text

    d = _t(spark, sf, "documents")
    uni_top = (
        # _outer: plain explode infers a size>0 filter whose pushdown
        # re-evaluates split(normalize_text(...)) 2 extra times per row
        # (see operators/lm._doc_bigrams); the length guard below already
        # drops the null row an outer explode could emit
        d.select(F.explode_outer(F.split(normalize_text(F.col("text")), " ")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "word")
        .limit(20)
        .select(F.lit(1).cast("long").alias("gram_len"), F.col("word").alias("gram"), "cnt")
    )
    wp = d.select(
        "doc_id",
        F.posexplode_outer(F.split(normalize_text(F.col("text")), " ")).alias("pos", "word"),
    ).filter(F.col("word").isNotNull())
    w = Window.partitionBy("doc_id").orderBy("pos")
    bg = wp.select(
        F.concat_ws(" ", F.col("word"), F.lead("word").over(w)).alias("bigram"),
        F.lead("word").over(w).alias("nxt"),
    )
    bg_top = (
        bg.filter(F.col("nxt").isNotNull())
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "bigram")
        .limit(20)
        .select(F.lit(2).cast("long").alias("gram_len"), F.col("bigram").alias("gram"), "cnt")
    )
    return uni_top.unionByName(bg_top)


_TFIDF_ORACLE = """
    WITH norm AS (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t FROM documents),
         w AS (SELECT doc_id, unnest(string_split(t, ' ')) AS word FROM norm),
         tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM w GROUP BY doc_id, word),
         df AS (SELECT word, COUNT(DISTINCT doc_id) AS df FROM w GROUP BY word),
         n AS (SELECT COUNT(*) AS n_docs FROM documents),
         scored AS (
           SELECT tf.doc_id, tf.word,
                  round(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)), 6) AS tfidf
           FROM tf JOIN df USING (word) CROSS JOIN n)
    SELECT doc_id, word, tfidf, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, word) AS rank FROM scored)
    WHERE rank <= 3
    """


# Standalone builder kept for plan pins (graded via term_stats_docs).
def tfidf_top_terms(spark, sf):
    from tamer_spark.operators.dedup import normalize_text

    d = _t(spark, sf, "documents")
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    w = d.select(
        "doc_id", F.explode_outer(F.split(normalize_text(F.col("text")), " ")).alias("word")
    ).filter(F.col("word").isNotNull())
    tf = w.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    # df as a window count over tf (r15, the bm25 rewrite): tf has exactly
    # one row per (doc, word), so count(1) per word == countDistinct(doc_id)
    # over the token stream — and the former dfreq broadcast was built from
    # a column-pruned copy of the tokenize subtree that ReuseExchange could
    # not dedup (second corpus tokenize). tfidf itself is per-row (no sum),
    # so no float-order sensitivity.
    scored = (
        tf.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("word")))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "word",
            F.round(
                F.col("tf") * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)), 6
            ).alias("tfidf"),
        )
    )
    win = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "word")
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "word", "tfidf", F.col("rank").cast("long").alias("rank"))
    )


_PMI_MIN_COUNT, _PMI_K = 5, 20

_PMI_ORACLE = f"""
    WITH norm AS (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t FROM documents),
    wsx AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
    tok AS (SELECT unnest(w) AS word FROM wsx),
    toks AS (SELECT word FROM tok WHERE length(word) > 0),
    pn AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n FROM toks),
    puni AS (SELECT word, COUNT(*) AS c FROM toks GROUP BY word),
    pbg AS (SELECT unnest(list_zip(w, w[2:])) AS p FROM wsx),
    ppair AS (SELECT p[1] AS w1, p[2] AS w2, COUNT(*) AS cxy
              FROM pbg WHERE p[2] IS NOT NULL AND length(p[1]) > 0
              GROUP BY 1, 2 HAVING COUNT(*) >= {_PMI_MIN_COUNT}),
    scored AS (SELECT w1 || ' ' || w2 AS bigram, cxy,
                      CAST(CAST(cxy AS HUGEINT) * pn.n * 1000000
                           // (CAST(u1.c AS HUGEINT) * u2.c) AS BIGINT) AS pmi_ppm
               FROM ppair JOIN puni u1 ON ppair.w1 = u1.word
                          JOIN puni u2 ON ppair.w2 = u2.word
                          CROSS JOIN pn)
    SELECT bigram, CAST(cxy AS BIGINT) AS cxy, pmi_ppm, rank FROM (
      SELECT *, row_number() OVER (ORDER BY pmi_ppm DESC, bigram) AS rank
      FROM scored) WHERE rank <= {_PMI_K}"""


_SGRAM_WINDOW, _SGRAM_K = 2, 20


_SGRAM_ORACLE = f"""
    WITH snorm AS (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t FROM documents),
    sws AS (SELECT doc_id, string_split(t, ' ') AS w FROM snorm),
    swp AS (SELECT doc_id, unnest(w) AS word, generate_subscripts(w, 1) AS pos
            FROM sws),
    swf AS (SELECT doc_id, word, pos FROM swp WHERE word IS NOT NULL AND length(word) > 0),
    sfwd AS (
      SELECT w1, w2 FROM (
        SELECT word AS w1, lead(word, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2 FROM swf)
      WHERE w2 IS NOT NULL
      UNION ALL
      SELECT w1, w2 FROM (
        SELECT word AS w1, lead(word, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w2 FROM swf)
      WHERE w2 IS NOT NULL),
    sboth AS (SELECT w1, w2 FROM sfwd UNION ALL SELECT w2, w1 FROM sfwd),
    scnt AS (SELECT w1, w2, COUNT(*) AS cnt FROM sboth GROUP BY w1, w2)
    SELECT w1 || ' ' || w2 AS pair, CAST(cnt AS BIGINT) AS cnt, rank FROM (
      SELECT *, row_number() OVER (ORDER BY cnt DESC, w1, w2) AS rank FROM scnt)
    WHERE rank <= {_SGRAM_K}"""


# Standalone builder kept for plan pins / bench (graded via the merged
# term_stats_docs gate's 'sgram' variant).
def skipgram_top_pairs(spark, sf, window: int = _SGRAM_WINDOW, k: int = _SGRAM_K):
    """Skip-gram (center, context) pair counts within ±``window`` word
    offsets — the word2vec/SGNS training-pair extraction (Mikolov et al.
    2013); next to 'pmi' (adjacent-only, association-ranked) this is the
    raw co-occurrence counting primitive embedding trainers consume.

    Scale shape: every offset 1..window rides ONE (doc_id, pos) window
    exchange (w lead() columns in one pass, not w window operators); the
    reverse direction is a map-side transpose of the forward pairs (never
    a second scan); counts partial-aggregate on the vocabulary²-bounded
    pair space; top-k via TakeOrdered then a ≤k-row rank window (the bm25
    pattern, never a global sort).
    """
    from tamer_spark.operators.dedup import normalize_text_sql

    d = _t(spark, sf, "documents")
    wp = d.selectExpr(
        "doc_id",
        f"posexplode_outer(split({normalize_text_sql('text')}, ' ')) AS (pos, word)",
    ).filter("word IS NOT NULL AND length(word) > 0")
    over = "OVER (PARTITION BY doc_id ORDER BY pos ASC)"
    leads = wp.selectExpr(
        "word AS w1",
        *[f"lead(word, {off}) {over} AS _l{off}" for off in range(1, window + 1)],
    )
    # both directions emitted MAP-SIDE from the one leads frame (struct
    # explode) — a transpose self-union would put the scan + window subtree
    # in the plan twice
    structs = []
    for off in range(1, window + 1):
        structs.append(f"named_struct('a', w1, 'b', _l{off})")
        structs.append(f"named_struct('a', _l{off}, 'b', w1)")
    both = (
        leads.selectExpr(f"explode(array({', '.join(structs)})) AS p")
        .selectExpr("p.a AS w1", "p.b AS w2")
        .filter("w1 IS NOT NULL AND w2 IS NOT NULL")
    )
    cnt = both.groupBy("w1", "w2").agg(F.expr("count(1)").alias("cnt"))
    topk = cnt.orderBy(F.col("cnt").desc(), "w1", "w2").limit(k)
    return topk.selectExpr(
        "*",
        "CAST(row_number() OVER (ORDER BY cnt DESC, w1 ASC, w2 ASC)"
        " AS BIGINT) AS _rk",
    ).selectExpr(
        "concat_ws(' ', w1, w2) AS pair",
        "CAST(cnt AS BIGINT) AS cnt",
        "_rk AS rank",
    )


# Standalone builder kept for plan pins (graded via term_stats_docs 'pmi').
def pmi_top_bigrams(spark, sf, min_count: int = _PMI_MIN_COUNT, k: int = _PMI_K):
    """Collocation mining by integer-exact PMI proxy: for adjacent word
    pairs, ``pmi_ppm = c(xy)·N·10⁶ div (c(x)·c(y))`` — the monotone
    integerization of pointwise mutual information (PMI = log of that
    ratio/10⁶; log is irrational, and rank order under a monotone map is
    identical, so the proxy ranks EXACTLY like PMI). The standard
    collocation/tokenizer-merge signal (Church & Hanks 1990 lineage).
    Arithmetic in DECIMAL(38,0) (Spark DIV ≡ DuckDB HUGEINT //, the DSIR
    convention) — c·N·10⁶ exceeds int64 at web scale; the FINAL ppm value
    is ≤ N·10⁶ and casts back to int64 safely to ~10¹² tokens.

    Scale shape: unigram + pair counts are partial-aggregable groupBys
    (vocabulary-sized); the unigram table broadcasts back onto the pair
    frame twice (the tfidf df-broadcast precedent); the min_count floor
    cuts the pair frame BEFORE the joins; top-k is one TakeOrdered, never
    a global sort. The per-doc lead() window is the same (doc_id, pos)
    exchange the ngram variant already pays.
    """
    from pyspark.sql import Window

    from tamer_spark.operators.dedup import normalize_text

    d = _t(spark, sf, "documents")
    wp = d.select(
        "doc_id",
        F.posexplode_outer(F.split(normalize_text(F.col("text")), " ")).alias("pos", "word"),
    ).filter(F.col("word").isNotNull() & (F.length("word") > 0))
    uni = wp.groupBy("word").agg(F.count(F.lit(1)).alias("c"))
    # total tokens as Σc over the vocabulary frame, not a third derivation
    # of the tokenize stream (r15): uni.agg is plan-equal to uni up to the
    # final agg, so ReuseExchange dedups it onto uni's exchange (the
    # dsir_ratio_table nt/nr shape, reuse verified in its final plan),
    # where the pruned wp.agg copy re-ran the corpus tokenize. Integer
    # sum — exactly the same n.
    n_tok = uni.agg(F.sum("c").cast("decimal(38,0)").alias("n"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    pairs = (
        wp.select(F.col("word").alias("w1"), F.lead("word").over(w).alias("w2"))
        .filter(F.col("w2").isNotNull())
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("cxy"))
        .filter(F.col("cxy") >= min_count)
    )
    scored = (
        pairs.join(F.broadcast(uni.selectExpr("word AS w1", "c AS c1")), "w1")
        .join(F.broadcast(uni.selectExpr("word AS w2", "c AS c2")), "w2")
        .crossJoin(F.broadcast(n_tok))
        .select(
            F.concat_ws(" ", "w1", "w2").alias("bigram"),
            F.col("cxy").cast("long").alias("cxy"),
            F.expr(
                "CAST(CAST(cxy AS DECIMAL(38,0)) * n * 1000000"
                " DIV (CAST(c1 AS DECIMAL(38,0)) * c2) AS BIGINT)"
            ).alias("pmi_ppm"),
        )
    )
    # TakeOrdered first (distributed top-k), THEN a window over the ≤k
    # surviving rows to number them — never a global sort (the bm25_topk
    # pattern)
    topk = scored.orderBy(F.col("pmi_ppm").desc(), "bigram").limit(k)
    wr = Window.orderBy(F.col("pmi_ppm").desc(), "bigram")
    return topk.withColumn("rank", F.row_number().over(wr)).select(
        "bigram", "cxy", "pmi_ppm", F.col("rank").cast("long").alias("rank")
    )


_CMS_PROBES = ["hash", "join", "scan", "quick", "zzz-never-in-corpus"]
_CMS_D, _CMS_W, _CMS_SEED = 4, 256, 42
_HEAVY_K = 400  # heavy = frequency ≥ 1/400 of the token stream


def _heavy_oracle() -> str:
    """Exact heavy hitters — deliberately sketch-free SQL: the operator's
    CMS prefilter routes rows but never appears in the result (est ≥ true
    means no false negatives; the exact recount kills false positives), so
    the oracle is the naive GROUP BY + HAVING the operator must equal.
    Multiply-form threshold (count·K ≥ N) on both sides — no div rounding."""
    return f"""
    WITH norm AS (SELECT trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t FROM documents),
    tok AS (SELECT unnest(string_split(t, ' ')) AS word FROM norm),
    nn AS (SELECT COUNT(*) AS n_stream FROM tok)
    SELECT word AS token, CAST(COUNT(*) AS BIGINT) AS n
    FROM tok CROSS JOIN nn GROUP BY word, n_stream
    HAVING COUNT(*) * {_HEAVY_K} >= n_stream"""


def _cms_oracle() -> str:
    """DuckDB replay of the full CMS pipeline (operators/cms.py): every
    token occurrence hashed into d rows' buckets (the repo's md5-prefix
    stable_hash64 convention), sparse sketch by (r, b) count, point query
    = min over rows with missing cells an exact 0 (LEFT join + COALESCE),
    plus the exact truth per probe for the overestimate-bound contract."""
    probes_sql = ", ".join(f"('{t}')" for t in _CMS_PROBES)
    hash_of = (
        lambda v: f"('0x' || substr(md5('cms-{_CMS_SEED}-' || CAST(r AS VARCHAR) || '-' || {v}), 1, 15))::BIGINT % {_CMS_W}"
    )
    return f"""
    WITH norm AS (SELECT trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t FROM documents),
    tok AS (SELECT unnest(string_split(t, ' ')) AS word FROM norm),
    rws AS (SELECT unnest([0, 1, 2, 3]) AS r),
    cells AS (SELECT r, {hash_of('word')} AS b FROM tok CROSS JOIN rws),
    sk AS (SELECT r, b, COUNT(*) AS cnt FROM cells GROUP BY 1, 2),
    probes(token) AS (VALUES {probes_sql}),
    pc AS (SELECT token, r, {hash_of('token')} AS b FROM probes CROSS JOIN rws),
    est AS (SELECT token, MIN(COALESCE(s.cnt, 0)) AS est
            FROM pc LEFT JOIN sk s USING (r, b) GROUP BY token),
    tru AS (SELECT p.token, COUNT(w.word) AS tru
            FROM probes p LEFT JOIN tok w ON w.word = p.token GROUP BY 1)
    SELECT e.token, CAST(t.tru AS BIGINT) AS id, CAST(e.est AS BIGINT) AS n
    FROM est e JOIN tru t USING (token)"""


# Standalone builder kept for plan pins / bench (graded via the merged
# term_stats_docs gate's 'heavy' variant).
def heavy_hitters_docs_q(spark, sf):
    from tamer_spark.operators.cms import cms_heavy_hitters
    from tamer_spark.operators.dedup import normalize_text

    toks = (
        _t(spark, sf, "documents", floor=True)
        .select(F.explode_outer(F.split(normalize_text(F.col("text")), " ")).alias("word"))
        .filter(F.col("word").isNotNull())
    )
    return cms_heavy_hitters(
        toks, token_col="word", freq_k=_HEAVY_K, d=_CMS_D, w=_CMS_W, seed=_CMS_SEED
    )


@q(
    "term_stats_docs",
    f"""
    SELECT 'ngram' AS variant, gram AS term, gram_len AS id, cnt AS n,
           CAST(NULL AS DOUBLE) AS score
    FROM ({_NGRAM_TOP_ORACLE})
    UNION ALL
    SELECT 'tfidf', word, doc_id, rank, tfidf FROM ({_TFIDF_ORACLE})
    UNION ALL
    SELECT 'cms', token, id, n, CAST(NULL AS DOUBLE) FROM ({_cms_oracle()})
    UNION ALL
    SELECT 'pmi', bigram, cxy, pmi_ppm, CAST(rank AS DOUBLE) FROM ({_PMI_ORACLE})
    UNION ALL
    SELECT 'heavy', token, CAST(NULL AS BIGINT), n, CAST(NULL AS DOUBLE)
    FROM ({_heavy_oracle()})
    UNION ALL
    SELECT 'sgram', pair, rank, cnt, CAST(NULL AS DOUBLE) FROM ({_SGRAM_ORACLE})
    UNION ALL
    SELECT 'vgrow', CAST(bucket AS VARCHAR), CAST(n_new_terms AS BIGINT),
           CAST(cum_vocab AS BIGINT), CAST(n_occurrences AS DOUBLE)
    FROM (
      WITH vmx AS (SELECT MAX(doc_id) // 10 + 1 AS wdt FROM documents),
      vtok AS (SELECT doc_id // wdt AS bucket,
                      unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS word
               FROM documents CROSS JOIN vmx),
      vtok2 AS (SELECT * FROM vtok WHERE length(word) > 0),
      vdeb AS (SELECT word, MIN(bucket) AS fb FROM vtok2 GROUP BY word),
      vnew AS (SELECT fb AS bucket, COUNT(*) AS n_new_terms FROM vdeb GROUP BY fb),
      vocc AS (SELECT bucket, COUNT(*) AS n_occurrences FROM vtok2 GROUP BY bucket)
      SELECT o.bucket, o.n_occurrences, COALESCE(n.n_new_terms, 0) AS n_new_terms,
             SUM(COALESCE(n.n_new_terms, 0)) OVER (ORDER BY o.bucket) AS cum_vocab
      FROM vocc o LEFT JOIN vnew n USING (bucket))
    """,
    doc=(
        "Corpus term statistics as one tagged union (r6 window re-pack; "
        "both variants were standalone driver-green gates). ngram: "
        "vocabulary head — unigram + bigram top-20 via explode → partial "
        "agg → top-k (shuffle proportional to vocabulary, not corpus). "
        "tfidf: top-3 terms per doc — vocabulary-sized df table broadcast "
        "back onto tf, corpus count folded in as a broadcast 1-row cross "
        "join, ranked on ROUNDED score so libm ln() ulp gaps cannot flip "
        "order. cms (r12): Count-Min Sketch point estimates next to exact "
        "truth for 5 probe tokens (4 corpus-frequent + 1 absent) — the "
        "FIXED-SIZE-shuffle counting path for unbounded vocabularies "
        "(d=4 × w=256 counters; the groupBy partial-aggregates to ≤ d·w "
        "rows per partition before the one bounded exchange, no matter "
        "the corpus); estimates are deterministic (md5-prefix row hashes) "
        "so the oracle replays sketch build AND point queries exactly, "
        "and the emitted (true, est) pair keeps the est ≥ true "
        "overestimate bound on the graded surface. Mergeability (the "
        "O(sketch)-per-epoch incremental story) is pinned in pytest. "
        "pmi (r12): collocation mining — top-20 adjacent pairs by the "
        "integer-exact PMI proxy c(xy)·N·10^6 div (c(x)·c(y)) (a monotone "
        "map of PMI, so ranks are EXACTLY PMI ranks without touching "
        "irrational logs; Church & Hanks 1990 lineage), min-count floor 5 "
        "cuts the pair frame before the two broadcast unigram joins, "
        "DECIMAL(38,0) DIV ≡ HUGEINT // (the DSIR convention — c·N·10^6 "
        "exceeds int64 at web scale), top-k via TakeOrdered then a ≤k-row "
        "rank window (the bm25 pattern, never a global sort). "
        "heavy (r12): EXACT heavy hitters (count·400 ≥ N) via the CMS-"
        "prefilter/exact-verify two-pass — pass 1 the bounded sketch, "
        "pass 2 map-side estimates against d broadcast sides admit only "
        "candidate occurrences to the exact groupBy (est ≥ true ⇒ no "
        "false negatives; the recount kills false positives), so the "
        "exchange carries candidates instead of the unbounded vocabulary "
        "tail and the oracle is plain GROUP BY + HAVING, sketch-free. "
        "sgram (r12): skip-gram (center, context) pair counts within ±2 "
        "offsets (Mikolov et al. 2013 SGNS training pairs) — all offsets "
        "ride ONE (doc_id, pos) window exchange as stacked lead() columns, "
        "the reverse direction is a map-side transpose (no second scan), "
        "counts partial-aggregate on the vocab² pair space, top-20 via "
        "TakeOrdered + a <=k rank window. "
        "vgrow (r12 continuation): vocabulary-growth / OOV monitor "
        "(operators/drift.vocab_growth, the Heaps-curve planning "
        "statistic) — per ordered ingestion bucket (doc_id div "
        "(max div 10 + 1), derived in-plan via a broadcast 1-row max) "
        "the never-seen-before term count (debut = min(bucket), partial-"
        "aggregable over the vocabulary) and cumulative vocab (the only "
        "window, over <= #buckets rows, n_window-guarded); zero-debut "
        "buckets surface with 0; a new-term spike flags domain shift "
        "before any quality score moves."
    ),
)
def term_stats_docs_q(spark, sf):
    from tamer_spark.operators.cms import cms_build, cms_query
    from tamer_spark.operators.dedup import normalize_text

    ngram = ngram_top_terms(spark, sf).select(
        F.lit("ngram").alias("variant"),
        F.col("gram").alias("term"),
        F.col("gram_len").alias("id"),
        F.col("cnt").alias("n"),
        F.lit(None).cast("double").alias("score"),
    )
    tfidf = tfidf_top_terms(spark, sf).select(
        F.lit("tfidf").alias("variant"),
        F.col("word").alias("term"),
        F.col("doc_id").alias("id"),
        F.col("rank").alias("n"),
        F.col("tfidf").alias("score"),
    )
    toks = (
        _t(spark, sf, "documents")
        .select(F.explode_outer(F.split(normalize_text(F.col("text")), " ")).alias("word"))
        .filter(F.col("word").isNotNull())
    )
    probes = spark.createDataFrame([(t,) for t in _CMS_PROBES], "token string")
    # ONE sketch build serves both the 'cms' point queries and the 'heavy'
    # prefilter: collect the bounded cells (≤ d·w rows) once, re-materialize
    # for the query side, pass through to cms_heavy_hitters — otherwise the
    # gate pays the token-stream aggregation twice
    sk_cells = cms_build(toks, token_col="word", d=_CMS_D, w=_CMS_W, seed=_CMS_SEED).collect()
    sk = spark.createDataFrame([(c.r, c.b, c.cnt) for c in sk_cells], "r int, b bigint, cnt long")
    est = cms_query(sk, probes, token_col="token", d=_CMS_D, w=_CMS_W, seed=_CMS_SEED)
    tru = (
        probes.join(toks, probes.token == toks.word, "left")
        .groupBy("token")
        .agg(F.count("word").alias("tru"))
    )
    cms = est.join(tru, "token").select(
        F.lit("cms").alias("variant"),
        F.col("token").alias("term"),
        F.col("tru").cast("long").alias("id"),
        F.col("est").cast("long").alias("n"),
        F.lit(None).cast("double").alias("score"),
    )
    pmi = pmi_top_bigrams(spark, sf).select(
        F.lit("pmi").alias("variant"),
        F.col("bigram").alias("term"),
        F.col("cxy").alias("id"),
        F.col("pmi_ppm").alias("n"),
        F.col("rank").cast("double").alias("score"),
    )
    from tamer_spark.operators.cms import cms_heavy_hitters

    heavy = cms_heavy_hitters(
        toks,
        token_col="word",
        freq_k=_HEAVY_K,
        d=_CMS_D,
        w=_CMS_W,
        seed=_CMS_SEED,
        cells=sk_cells,
    ).select(
        F.lit("heavy").alias("variant"),
        F.col("token").alias("term"),
        F.lit(None).cast("long").alias("id"),
        F.col("n").alias("n"),
        F.lit(None).cast("double").alias("score"),
    )
    sgram = skipgram_top_pairs(spark, sf).select(
        F.lit("sgram").alias("variant"),
        F.col("pair").alias("term"),
        F.col("rank").alias("id"),
        F.col("cnt").alias("n"),
        F.lit(None).cast("double").alias("score"),
    )
    # vocabulary growth (r12 continuation): ordered ingestion buckets
    # derived in-plan (doc_id div (max_id div 10 + 1) — the max rides a
    # broadcast 1-row cross join, no collect), then the vocab_growth
    # monitor (operators/drift.py)
    from tamer_spark.operators.drift import vocab_growth

    d = _t(spark, sf, "documents")
    mx = d.agg(F.expr("max(doc_id) div 10").alias("_w10"))
    db = d.crossJoin(F.broadcast(mx)).select(
        F.expr("doc_id div (_w10 + 1)").alias("vb"), "text"
    )
    vgrow = vocab_growth(db, "vb", n_window=64).select(
        F.lit("vgrow").alias("variant"),
        F.col("bucket").cast("string").alias("term"),
        F.col("n_new_terms").alias("id"),
        F.col("cum_vocab").alias("n"),
        F.col("n_occurrences").cast("double").alias("score"),
    )
    return (
        ngram.unionByName(tfidf)
        .unionByName(cms)
        .unionByName(pmi)
        .unionByName(heavy)
        .unionByName(sgram)
        .unionByName(vgrow)
    )


_BM25_TERMS = ["hash", "join", "scan", "quick"]


def _bm25_oracle(terms: list[str], k1: float = 1.2, b: float = 0.75, k: int = 10) -> str:
    in_list = ", ".join(f"'{t}'" for t in terms)
    return f"""
    WITH norm AS (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t FROM documents),
         ws AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
         dl AS (SELECT doc_id, len(w) AS dl FROM ws),
         stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
         tok AS (SELECT doc_id, unnest(w) AS word FROM ws),
         tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM tok
                WHERE word IN ({in_list}) GROUP BY doc_id, word),
         dfq AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY word),
         scored AS (
           SELECT tf.doc_id,
                  round(SUM(ln(1.0 + (s.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
                            * tf.tf * ({k1} + 1.0)
                            / (tf.tf + {k1} * (1.0 - {b} + {b} * dl.dl / s.avgdl))), 6) AS score
           FROM tf JOIN dfq USING (word) JOIN dl USING (doc_id) CROSS JOIN stats s
           GROUP BY tf.doc_id)
    SELECT doc_id, score, rank FROM (
      SELECT doc_id, score, row_number() OVER (ORDER BY score DESC, doc_id) AS rank FROM scored)
    WHERE rank <= {k}
    """


# Standalone builder kept for plan pins / bench (graded via
# lexical_retrieval_docs).
def bm25_topk_docs_q(spark, sf):
    from tamer_spark.operators.bm25 import bm25_topk

    return bm25_topk(_t(spark, sf, "documents"), _BM25_TERMS, k=10)


_RRF_ORACLE = f"""
    WITH sem AS ({_knn_oracle(k=20)}),
         lex AS ({_bm25_oracle(_BM25_TERMS, k=20)}),
         qs AS (SELECT DISTINCT query_id FROM sem),
         u AS (SELECT query_id, neighbor_id, rank FROM sem
               UNION ALL
               SELECT qs.query_id, lex.doc_id AS neighbor_id, lex.rank
               FROM lex CROSS JOIN qs),
         f AS (SELECT query_id, neighbor_id,
                      round(SUM(1.0 / (60.0 + rank)), 6) AS rrf_score
               FROM u GROUP BY query_id, neighbor_id)
    SELECT query_id, neighbor_id, rrf_score, rank FROM (
      SELECT query_id, neighbor_id, rrf_score,
             row_number() OVER (PARTITION BY query_id ORDER BY rrf_score DESC, neighbor_id) AS rank
      FROM f)
    WHERE rank <= 5
    """


# Standalone builder kept for bench series continuity (graded via
# lexical_retrieval_docs).
def hybrid_retrieval_rrf_q(spark, sf):
    from tamer_spark.operators.bm25 import bm25_topk
    from tamer_spark.operators.fusion import rrf_fuse
    from tamer_spark.operators.similarity import cosine_knn

    emb = _t(spark, sf, "embeddings")
    _assert_gate_dim(emb, sf)
    sem = cosine_knn(emb, emb.filter(F.col("vec_id") < 10), k=20)
    lex = bm25_topk(_t(spark, sf, "documents"), _BM25_TERMS, k=20)
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id")
    )
    lex_per_query = F.broadcast(queries).crossJoin(
        lex.select(F.col("doc_id").alias("neighbor_id"), "rank")
    )
    return rrf_fuse([sem, lex_per_query], k0=60, k=5)


def _ranking_eval_oracle(k: int = 5) -> str:
    """DuckDB replay of ann_eval.ranking_metrics over a live eval pair:
    the single-probe LSH kNN run scored against exact-cosine ground truth
    (both replayed by their existing proven oracles, nested as derived
    tables). Metrics are integer-exact (ppm with `//` = Spark `div`), the
    LEFT join keeps zero-hit queries at 0, and the long-format metric codes
    are 1=hits, 2=recall_ppm, 3=mrr_ppm, 4=precision_ppm."""
    return f"""
    WITH etruth AS (SELECT query_id, neighbor_id FROM ({_knn_oracle(k)})),
         erun AS (SELECT query_id, neighbor_id, rank FROM ({_lsh_knn_oracle(k=k)})),
         enrel AS (SELECT query_id, COUNT(*) AS n_rel FROM etruth GROUP BY 1),
         ehit AS (SELECT r.query_id, COUNT(*) AS hits, MIN(r.rank) AS first_rel
                  FROM erun r JOIN etruth t USING (query_id, neighbor_id) GROUP BY 1),
         em AS (SELECT n.query_id, n.n_rel, COALESCE(h.hits, 0) AS hits, h.first_rel
                FROM enrel n LEFT JOIN ehit h USING (query_id))
    SELECT query_id AS k1, CAST(1 AS BIGINT) AS k2, CAST(hits AS DOUBLE) AS score,
           CAST({k} AS BIGINT) AS rank FROM em
    UNION ALL SELECT query_id, 2, CAST(hits * 1000000 // n_rel AS DOUBLE), {k} FROM em
    UNION ALL SELECT query_id, 3, CAST(COALESCE(1000000 // first_rel, 0) AS DOUBLE), {k} FROM em
    UNION ALL SELECT query_id, 4, CAST(hits * 1000000 // {k} AS DOUBLE), {k} FROM em"""


@q(
    "lexical_retrieval_docs",
    f"""
    SELECT 'bm25' AS variant, doc_id AS k1, CAST(NULL AS BIGINT) AS k2, score, rank
    FROM ({_bm25_oracle(_BM25_TERMS)})
    UNION ALL
    SELECT 'rrf', query_id, neighbor_id, rrf_score, rank FROM ({_RRF_ORACLE})
    UNION ALL
    SELECT 'eval', k1, k2, score, rank FROM ({_ranking_eval_oracle(k=5)})
    """,
    doc=(
        "Lexical + hybrid retrieval as one tagged union (r6 window "
        "re-pack; both were standalone driver-green gates). bm25: top-10 "
        "BM25 (Lucene idf) for a 4-term query — tokenize + doc length "
        "map-only, explode filtered to the query vocabulary before any "
        "shuffle, df and (N, avgdl) fold back as broadcasts, top-k is "
        "TakeOrdered, never a global window sort. rrf: exact-cosine ANN "
        "top-20 per query fused with the shared BM25 lexical top-20 by "
        "reciprocal-rank fusion (k0=60) — each input top-k-bounded per "
        "query before the fusion's (query, item) SUM shuffle; at scale "
        "swap the exact kNN half for ivfadc_search unchanged. Both ranked "
        "on ROUNDED scores. eval (r12): the retrieval-quality harness "
        "itself graded — ann_eval.ranking_metrics scores the single-probe "
        "LSH kNN run against exact-cosine ground truth, per query, all "
        "INTEGER-EXACT (hits, recall/MRR/precision in ppm; MRR is the "
        "exactness-compatible rank metric — nDCG's 1/log2 is irrational), "
        "emitted long-format (k2 = metric code 1..4). LEFT join keeps "
        "zero-hit queries at 0 instead of dropping them (silent drops are "
        "how broken eval harnesses overstate quality); both aggs are "
        "partial-aggregable groupBys, no window — eval cost is independent "
        "of corpus size (it sees only result + relevance sets)."
    ),
)
def lexical_retrieval_docs_q(spark, sf):
    from tamer_spark.operators.ann_eval import ranking_metrics
    from tamer_spark.operators.similarity import cosine_knn, cosine_knn_lsh

    bm = bm25_topk_docs_q(spark, sf).select(
        F.lit("bm25").alias("variant"),
        F.col("doc_id").alias("k1"),
        F.lit(None).cast("long").alias("k2"),
        "score",
        "rank",
    )
    rrf = hybrid_retrieval_rrf_q(spark, sf).select(
        F.lit("rrf").alias("variant"),
        F.col("query_id").alias("k1"),
        F.col("neighbor_id").alias("k2"),
        F.col("rrf_score").alias("score"),
        "rank",
    )
    emb = _t(spark, sf, "embeddings")
    _assert_gate_dim(emb, sf)
    qs = emb.filter(F.col("vec_id") < 10)
    truth = cosine_knn(emb, qs, k=5).select("query_id", "neighbor_id")
    # max_bucket=None: the oracle models UNCAPPED bucket joins — pin the
    # uncapped semantics structurally rather than rely on fixture buckets
    # staying under the default cap (the ADVICE-r4 convention, same as the
    # similarity_knn gate above)
    run = cosine_knn_lsh(emb, qs, k=5, planes=8, max_bucket=None)
    metrics = ranking_metrics(run, truth, k=5)
    ev = metrics.select(
        F.lit("eval").alias("variant"),
        F.col("query_id").alias("k1"),
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).cast("long").alias("metric"),
                    F.col("hits").cast("double").alias("val"),
                ),
                F.struct(
                    F.lit(2).cast("long").alias("metric"),
                    F.col("recall_ppm").cast("double").alias("val"),
                ),
                F.struct(
                    F.lit(3).cast("long").alias("metric"),
                    F.col("mrr_ppm").cast("double").alias("val"),
                ),
                F.struct(
                    F.lit(4).cast("long").alias("metric"),
                    F.col("precision_ppm").cast("double").alias("val"),
                ),
            )
        ).alias("m"),
    ).select(
        "variant",
        "k1",
        F.col("m.metric").alias("k2"),
        F.col("m.val").alias("score"),
        F.lit(5).cast("long").alias("rank"),
    )
    return bm.unionByName(rrf).unionByName(ev)


@q(
    "approx_distinct_users",
    """
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_distinct,
           COUNT(*) AS n,
           TRUE AS hll_within_rsd
    FROM events GROUP BY event_type
    """,
    doc=(
        "approx_count_distinct (HyperLogLog++) pinned to a fully "
        "hash-checkable shape (r7; the r6 gate emitted the raw sketch "
        "estimate, engine-specific → rows-only). Per event_type: the exact "
        "distinct count, total rows, and a BOOLEAN asserting the HLL++ "
        "estimate lands within 5×rsd of the exact count — all three "
        "deterministic (Spark's sketch is deterministic for fixed data, "
        "and the oracle's TRUE column is the cross-engine contract: the "
        "sketch must agree with exact within tolerance). The sketch is "
        "still exercised end-to-end; rsd=0.05 default, 5× headroom "
        "because the HLL++ bound is probabilistic per-register, not "
        "worst-case."
    ),
)
def approx_distinct_users(spark, sf):
    e = _t(spark, sf, "events")
    rsd = 0.05
    return e.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_distinct"),
        F.count(F.lit(1)).alias("n"),
        (
            F.abs(
                F.approx_count_distinct("user_id", rsd)
                - F.count_distinct("user_id")
            )
            <= 5 * rsd * F.count_distinct("user_id")
        ).alias("hll_within_rsd"),
    )


@q(
    "chunk_documents",
    """
    WITH norm AS (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t FROM documents),
         ws AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
         ch AS (SELECT doc_id,
                       unnest(list_transform(range(CAST(ceil(len(w) / 50.0) AS BIGINT)),
                              i -> {'chunk_id': i, 'chunk': array_to_string(w[CAST(i*50+1 AS BIGINT):CAST(i*50+50 AS BIGINT)], ' ')})) AS c
                FROM ws),
         wpos AS (SELECT doc_id, unnest(w) AS word, generate_subscripts(w, 1) AS pos FROM ws),
         wt AS (SELECT doc_id, pos,
                       replace(replace(replace(
                          trim(regexp_replace(word, '(.)', '\\1 ', 'g')) || ' </w>',
                          't h', 'th'), 'i n', 'in'), 'e </w>', 'e</w>') AS ts
                FROM wpos WHERE len(word) > 0),
         bpe AS (SELECT doc_id,
                        CAST(SUM(len(string_split(ts, ' '))) AS BIGINT) AS n_tokens,
                        string_agg(ts, ' ' ORDER BY pos) AS toks
                 FROM wt GROUP BY doc_id)
    SELECT 'chunk' AS variant, doc_id, CAST(c.chunk_id AS BIGINT) AS idx, c.chunk AS content FROM ch
    UNION ALL
    SELECT 'bpe', d.doc_id, COALESCE(b.n_tokens, 0), COALESCE(b.toks, '')
    FROM documents d LEFT JOIN bpe b USING (doc_id)
    UNION ALL
    SELECT 'overlap', doc_id, CAST(c.chunk_id AS BIGINT), c.chunk FROM (
      SELECT doc_id,
             unnest(list_transform(range(
               CASE WHEN len(w) <= 50 THEN 1
                    ELSE (len(w) - 50 + 39) // 40 + 1 END),
               i -> {'chunk_id': i, 'chunk': array_to_string(w[CAST(i*40+1 AS BIGINT):CAST(i*40+50 AS BIGINT)], ' ')})) AS c
      FROM ws) t
    """,
    doc="Tokenization surface as one tagged union. chunk: context-window chunking (50-word budget) via JVM array slicing + posexplode; UDTF twin tested equivalent in tests/test_bucketing_chunking.py. overlap (r12 continuation): sliding-window chunking (functions/chunking.chunk_text_overlap_expr, 50-word budget / 10-word overlap, stride 40 — the RAG-ingestion shape: a fact straddling a boundary is whole in at least one chunk); chunk count via integer ceil-div (double-division exactness documented), codegen'd array math, zero shuffles; overlap=0 degrades to the plain chunker (pinned). bpe: the Arrow-batched BPE tokenizer (functions/bpe.py apply_bpe — mapInPandas with an LRU per-word encode cache) run end-to-end under a fixed non-interacting merge table, gating the exact TOKEN SEQUENCE per document: the merges are pairwise char-disjoint and feed no later merge, so greedy rank-priority application provably equals independent replace-all, which the oracle expresses as char-spacing + string replaces. Merge LEARNING (train_bpe — distributed top-K word frequencies, driver-side merge recurrence) is pytest-pinned in tests/test_bpe.py; the recurrence is not SQL-expressible.",
)
def chunk_documents(spark, sf):
    from tamer_spark.functions.bpe import GATE_MERGES, apply_bpe
    from tamer_spark.functions.chunking import chunk_text_expr

    d = _t(spark, sf, "documents")
    # _outer: keeps the chunk-slicing expression out of an inferred pushed-
    # down size>0 filter (see minhash_signatures_q); chunk arrays are never
    # empty (ceil(len/50) >= 1 for non-null text)
    chunks = d.select(
        "doc_id", F.posexplode_outer(chunk_text_expr(F.col("text"), 50)).alias("chunk_id", "chunk")
    ).select(
        F.lit("chunk").alias("variant"),
        "doc_id",
        F.col("chunk_id").cast("long").alias("idx"),
        F.col("chunk").alias("content"),
    )
    toks = apply_bpe(d, GATE_MERGES).select(
        F.lit("bpe").alias("variant"),
        "doc_id",
        F.col("n_tokens").alias("idx"),
        F.array_join("tokens", " ").alias("content"),
    )
    from tamer_spark.functions.chunking import chunk_text_overlap_expr

    ov = d.select(
        "doc_id",
        F.posexplode_outer(chunk_text_overlap_expr(F.col("text"), 50, 10)).alias(
            "chunk_id", "chunk"
        ),
    ).select(
        F.lit("overlap").alias("variant"),
        "doc_id",
        F.col("chunk_id").cast("long").alias("idx"),
        F.col("chunk").alias("content"),
    )
    return chunks.unionByName(toks).unionByName(ov)


@q(
    "join_salted_events_customers",
    f"""
    WITH {EVENTS_CTE}
    SELECT c_mktsegment, COUNT(*) AS n_events,
           CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_value_c
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment
    """,
    doc="Skew-hardened join: large side salted by row fingerprint, small side replicated salt-ways — identical results to the plain join the oracle runs; physical distribution only.",
)
def join_salted_events_customers(spark, sf):
    from tamer_spark.operators.skew import salted_join

    e = _t(spark, sf, "events").withColumnRenamed("user_id", "c_custkey")
    c = _t(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    joined = salted_join(e, c, "c_custkey", salt=8)
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"), F.sum(cents("value")).alias("sum_value_c")
    )


# ---------------------------------------------------------------------------
# Correlated subqueries and null semantics
# ---------------------------------------------------------------------------

@q(
    "null_and_subquery_semantics",
    """
    WITH d AS (SELECT o_orderkey,
                      CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE o_orderstatus END AS st
               FROM orders),
    nation_avg AS (
      SELECT c_nationkey,
             CAST(SUM(CAST(round(c_acctbal*100) AS BIGINT)) AS BIGINT) AS sum_c,
             COUNT(*) AS n
      FROM customer GROUP BY c_nationkey)
    SELECT 'null_groups' AS variant, st AS k, COUNT(*) AS v1, COUNT(st) AS v2,
           CAST(COUNT(*) FILTER (WHERE st IS NULL) AS BIGINT) AS v3,
           CAST(COUNT(*) FILTER (WHERE st IS NOT DISTINCT FROM 'O') AS BIGINT) AS v4
    FROM d GROUP BY st
    UNION ALL
    SELECT 'above_group_avg', CAST(c.c_custkey AS VARCHAR), c.c_nationkey,
           CAST(round(c.c_acctbal*100) AS BIGINT), NULL, NULL
    FROM customer c JOIN nation_avg a ON c.c_nationkey = a.c_nationkey
    WHERE CAST(round(c.c_acctbal*100) AS BIGINT) * a.n > a.sum_c
    """,
    doc="Two semantic showcases as one tagged union. null_groups: grouping by NULL, count vs count(col), IS [NOT] DISTINCT FROM (null-safe equality <=>). above_group_avg: correlated 'above my group's average' decorrelated into a broadcast join against the per-group aggregate; exact-int cross-multiplication avoids avg division.",
)
def null_and_subquery_semantics(spark, sf):
    o = _t(spark, sf, "orders")
    d = o.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 5 == 0, F.lit(None)).otherwise(F.col("o_orderstatus")).alias("st"),
    )
    nulls = d.groupBy("st").agg(
        F.count(F.lit(1)).alias("v1"),
        F.count("st").alias("v2"),
        F.count(F.when(F.col("st").isNull(), 1)).cast("long").alias("v3"),
        F.count(F.when(F.col("st").eqNullSafe("O"), 1)).cast("long").alias("v4"),
    ).select(F.lit("null_groups").alias("variant"), F.col("st").alias("k"), "v1", "v2", "v3", "v4")

    c = _t(spark, sf, "customer").withColumn("bal_c", cents("c_acctbal"))
    avg = c.groupBy("c_nationkey").agg(
        F.sum("bal_c").alias("sum_c"), F.count(F.lit(1)).alias("n")
    )
    above = (
        c.join(F.broadcast(avg), "c_nationkey")
        .filter(F.col("bal_c") * F.col("n") > F.col("sum_c"))
        .select(
            F.lit("above_group_avg").alias("variant"),
            F.col("c_custkey").cast("string").alias("k"),
            F.col("c_nationkey").cast("long").alias("v1"),
            F.col("bal_c").alias("v2"),
            F.lit(None).cast("long").alias("v3"),
            F.lit(None).cast("long").alias("v4"),
        )
    )
    return nulls.unionByName(above)


# ---------------------------------------------------------------------------
# SQL-authored queries (spark.sql end to end — the parser feeds the same
# Catalyst planning as the DataFrame API)
# ---------------------------------------------------------------------------

_Q6_SQL = """
    SELECT CAST(SUM(CAST(round(l_extendedprice * l_discount * 10000) AS BIGINT)) AS BIGINT) AS revenue_cc,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_quantity < 24 AND l_discount BETWEEN 0.05 AND 0.07
"""

_Q10_SQL = """
    SELECT c_custkey, c_name,
           CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT) AS revenue_cc
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name
    ORDER BY revenue_cc DESC, c_custkey
    LIMIT 20
"""


# Q4-style: order-priority counts gated by a CORRELATED EXISTS (the
# TPC-H Q4 shape re-keyed to the fixture's columns — lineitem carries no
# commit/receipt dates, so the late-shipment predicate is
# l_shipdate > o_orderdate). Q12-style: urgent-vs-rest CASE counts per
# line status through the orders⋈lineitem join. Q14-style: promo revenue
# share as two exact-cents sums through the part join (the ratio is
# derivable; keeping both legs integer keeps the hash surface exact).
_Q4_SQL = """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o.o_orderkey AND l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
"""

_Q12_SQL = """
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY l_linestatus
"""

_Q14_SQL = """
    SELECT CAST(SUM(CASE WHEN p_type = 'PROMO'
                         THEN CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS promo_cc,
           CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT) AS total_cc
    FROM lineitem JOIN part ON l_partkey = p_partkey
"""

# Q13-style: the customer order-count DISTRIBUTION — LEFT JOIN so
# order-less customers land in the c_count = 0 bucket (COUNT(o_orderkey)
# counts non-NULLs, the outer-join NULL-semantics trap), then a second
# aggregation over the first's output.
_Q13_SQL = """
    SELECT c_count, COUNT(*) AS custdist FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey) t
    GROUP BY c_count
"""

# r13: the gate's first OVER clause — ROW_NUMBER top-3 orders per priority
# under a total order ((price DESC, o_orderkey) — rank ties never exist), the
# window-function parser/planner leg the gate lacked. rn rides the key so the
# rank itself is on the hashed surface, not just membership.
_QTOPK_SQL = """
    SELECT o_orderpriority, rn, o_orderkey, price_c FROM (
      SELECT o_orderpriority, o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_c,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY CAST(round(o_totalprice * 100) AS BIGINT) DESC,
                                         o_orderkey) AS rn
      FROM orders) t
    WHERE rn <= 3
"""

# r13: Q2/Q17-shaped CORRELATED SCALAR SUBQUERY (Q2's per-group MIN shape,
# integer-exact via cents): customers holding their nation's maximum
# balance. Both planners decorrelate to an aggregate + join; ties emit
# every holder, which the hash surface captures.
_Q2MAX_SQL = """
    SELECT c_nationkey, c_custkey, bal_c FROM (
      SELECT c_nationkey, c_custkey,
             CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
      FROM customer) c
    WHERE bal_c = (SELECT MAX(CAST(round(c2.c_acctbal * 100) AS BIGINT))
                   FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey)
"""

# r14: the window-FRAME leg — a running aggregate (ROWS BETWEEN UNBOUNDED
# PRECEDING AND CURRENT ROW) and a 3-row moving sum (ROWS BETWEEN 2
# PRECEDING AND CURRENT ROW) over the same named WINDOW-clause base, the
# frame syntax the gate's parser surface lacked (qtopk's ROW_NUMBER has no
# explicit frame). (o_orderdate, o_orderkey) is a total order per
# priority, so both frames are deterministic; both SUMs are BIGINT-cast in
# the final projection (an un-cast DuckDB window SUM widens to HUGEINT →
# float64 in pandas → driver-hash mismatch).
_QRUN_SQL = """
    SELECT o_orderpriority, o_orderkey,
           CAST(SUM(price_c) OVER w_run AS BIGINT) AS run_c,
           CAST(SUM(price_c) OVER w_mov AS BIGINT) AS mov3_c
    FROM (SELECT o_orderpriority, o_orderkey, o_orderdate,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
          FROM orders) t
    WINDOW w_run AS (PARTITION BY o_orderpriority
                     ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           w_mov AS (PARTITION BY o_orderpriority
                     ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
"""

_Q6_Q10_SQL = f"""
    WITH q6 AS ({_Q6_SQL}), q10 AS ({_Q10_SQL}),
         q4 AS ({_Q4_SQL}), q12 AS ({_Q12_SQL}), q14 AS ({_Q14_SQL}),
         q13 AS ({_Q13_SQL}), qtopk AS ({_QTOPK_SQL}), q2max AS ({_Q2MAX_SQL}),
         qrun AS ({_QRUN_SQL})
    SELECT 'q10' AS variant, c_name AS k, c_custkey AS v1, revenue_cc AS v2 FROM q10
    UNION ALL
    SELECT 'q6', 'all', n_items, revenue_cc FROM q6
    UNION ALL
    SELECT 'q4', o_orderpriority, order_count, CAST(NULL AS BIGINT) FROM q4
    UNION ALL
    SELECT 'q12', l_linestatus, high_line_count, low_line_count FROM q12
    UNION ALL
    SELECT 'q14', 'all', promo_cc, total_cc FROM q14
    UNION ALL
    SELECT 'q13', '' || c_count, custdist, CAST(NULL AS BIGINT) FROM q13
    UNION ALL
    SELECT 'qtopk', o_orderpriority || '#' || rn, o_orderkey, price_c FROM qtopk
    UNION ALL
    SELECT 'q2max', '' || c_nationkey, c_custkey, bal_c FROM q2max
    UNION ALL
    SELECT 'qrun', o_orderpriority || '#' || o_orderkey, run_c, mov3_c FROM qrun
"""


@q(
    "sql_q6_q10",
    _Q6_Q10_SQL,
    doc="SQL-authored surface (spark.sql end to end — the parser feeds the same Catalyst planning as the DataFrame API), nine TPC-H-shaped queries as one tagged union, ONE ANSI string running verbatim on Spark AND DuckDB: Q6 scan-agg (both predicates reach the parquet scan), Q10 returned-item top-20, and (r12) Q4 order-priority counts gated by a CORRELATED EXISTS (decorrelated to a semi join by both planners; the late-shipment predicate re-keyed to l_shipdate > o_orderdate since the fixture lineitem carries no commit/receipt dates), Q12 urgent-vs-rest CASE counts per line status, and Q14 promo revenue share as two exact-cents sums through the part join (the float ratio is derivable — integer legs keep the hash surface exact), and Q13 the customer order-count distribution — LEFT JOIN so order-less customers land in c_count = 0 (COUNT(col) NULL semantics through an outer join) under a second-level aggregation; (r13) qtopk — the gate's first OVER clause: ROW_NUMBER top-3 orders per priority under a total order (price DESC, o_orderkey), rn riding the hashed key so the rank itself is graded; and q2max — a Q2/Q17-shaped CORRELATED SCALAR SUBQUERY (per-nation MAX balance holders, integer cents; both planners decorrelate to aggregate + join, ties emit every holder); and (r14) qrun — the window-FRAME leg: a running SUM (ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) and a 3-row moving SUM (ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) sharing a named WINDOW-clause base over a per-priority (o_orderdate, o_orderkey) total order, both BIGINT-cast in the final projection (an un-cast DuckDB window SUM widens to HUGEINT → float64 in pandas — the driver-hash trap); verbatim-ANSI footnote: Spark rejects bare CAST(x AS VARCHAR) (length required) while DuckDB rejects STRING, so the shared string renders ints with '' || x.",
)
def sql_q6_q10(spark, sf):
    from tamer_spark.sql import register_tables

    register_tables(spark, sf)
    return spark.sql(_Q6_Q10_SQL)


# ---------------------------------------------------------------------------
# Dataset construction: deterministic sampling, splits, decontamination,
# repetition-based quality
# ---------------------------------------------------------------------------

# Standalone builder kept for plan pins (graded via split_sample_docs
# 'doc' variant).
def doc_split_sample_q(spark, sf):
    from tamer_spark.functions.hashing import stable_hash64

    d = _t(spark, sf, "documents")
    h = stable_hash64(F.concat(F.lit("split-"), F.col("doc_id").cast("string"))) % 100
    hs = stable_hash64(F.col("doc_id").cast("string")) % 100
    return d.select(
        "doc_id",
        "lang",
        F.when(h < 80, "train").when(h < 90, "val").otherwise("test").alias("split"),
        F.when(hs < 20, 1).otherwise(0).cast("long").alias("in_sample"),
    )


_BOTTOMK_K = 100
_BOTTOMK_GRP_K = 5


@q(
    "split_sample_docs",
    f"""
    SELECT 'doc' AS variant, doc_id, lang AS k1,
           CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val' ELSE 'test' END AS split,
           CAST(CASE WHEN hs < 20 THEN 1 ELSE 0 END AS BIGINT) AS v
    FROM (SELECT doc_id, lang,
                 ('0x' || substr(md5('split-' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS h,
                 ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS hs
          FROM documents)
    UNION ALL
    SELECT 'bottomk', doc_id, CAST(NULL AS VARCHAR), 'sample',
           CAST(sample_rank AS BIGINT)
    FROM (SELECT doc_id,
                 row_number() OVER (ORDER BY
                   ('0x' || substr(md5('sample-' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT ASC,
                   doc_id ASC) AS sample_rank
          FROM documents)
    WHERE sample_rank <= {_BOTTOMK_K}
    UNION ALL
    SELECT 'bottomk_grp', doc_id, lang, 'sample', CAST(sample_rank AS BIGINT)
    FROM (SELECT doc_id, lang,
                 row_number() OVER (PARTITION BY lang ORDER BY
                   ('0x' || substr(md5('sample-' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT ASC,
                   doc_id ASC) AS sample_rank
          FROM documents)
    WHERE sample_rank <= {_BOTTOMK_GRP_K}
    UNION ALL
    SELECT 'cluster', doc_id, CAST(NULL AS VARCHAR),
           CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val' ELSE 'test' END,
           cluster_rep
    FROM (SELECT doc_id, cluster_rep,
                 ('0x' || substr(md5('csplit-' || CAST(cluster_rep AS VARCHAR)), 1, 15))::BIGINT % 100 AS h
          FROM ({_clusters_oracle()}))
    """,
    doc="Dataset splitting as one tagged union (r11 re-pack of the driver-green per-doc gate). doc: stable 80/10/10 train/val/test split + reproducible 20% sample membership in one map-only pass (salted hash ranges — membership never shifts when the corpus grows, unlike percent_rank splits; content-independent, identical rows on any engine/run/partitioning — rand() is none of those). cluster (r11): LEAKAGE-SAFE split — near-duplicate clusters never straddle a boundary (Lee et al. 2022 §6: eval examples with a near-copy in train are the contamination doc-hash splits produce); the split hash is computed over each doc's transitive near-dup cluster representative (MinHash-LSH pairs → connected components, the dedup-clustering path), singletons hash themselves, so it strictly generalizes the per-doc rule; the oracle replays signatures, banding, the recursive-CTE closure, AND the assignment. bottomk (r12): deterministic 100-row uniform sample as a BOTTOM-K sketch (smallest salted hashes; Cohen & Kaplan 2007 lineage) — the distributed, MERGEABLE reservoir replacement: TakeOrderedAndProject plan (per-partition heads, no global sort), rank window over the <=k survivors only; the fold-equals-rebuild sketch property (the O(k)-per-epoch incremental story) is pinned in pytest. bottomk_grp (r13): STRATIFIED deterministic sample — bottomk_sample independently per lang (operators/mixing.bottomk_grouped; k=5 per stratum), the eval-set construction rule (a global uniform sample starves tail strata); same salt/hash as the global form so the two samples are drawn from ONE permutation, per-group mergeable (fold == rebuild per stratum, pinned), NULL group = its own stratum (dropping undocumented rows biases a sample — the winsorize stance); one exchange on the group + a per-group rank window (no per-group TakeOrdered primitive exists; AQE skew split is the mega-stratum relief, the cap_per_group posture).",
)
def split_sample_docs(spark, sf):
    from tamer_spark.operators.dedup import minhash_lsh_pairs
    from tamer_spark.operators.mixing import leakage_safe_split

    d = _t(spark, sf, "documents")
    doc = doc_split_sample_q(spark, sf).select(
        F.lit("doc").alias("variant"),
        "doc_id",
        F.col("lang").alias("k1"),
        "split",
        F.col("in_sample").alias("v"),
    )
    from tamer_spark.operators.mixing import bottomk_sample

    bk = bottomk_sample(d, _BOTTOMK_K).select(
        F.lit("bottomk").alias("variant"),
        "doc_id",
        F.lit(None).cast("string").alias("k1"),
        F.lit("sample").alias("split"),
        F.col("sample_rank").alias("v"),
    )
    from tamer_spark.operators.mixing import bottomk_grouped

    bkg = bottomk_grouped(d, _BOTTOMK_GRP_K, "lang").select(
        F.lit("bottomk_grp").alias("variant"),
        "doc_id",
        F.col("lang").alias("k1"),
        F.lit("sample").alias("split"),
        F.col("sample_rank").alias("v"),
    )
    pairs = minhash_lsh_pairs(d, k=_K, bands=_BANDS, n=_N, seed=42, max_bucket=_MAX_BUCKET)
    cluster = leakage_safe_split(d.select("doc_id"), pairs).select(
        F.lit("cluster").alias("variant"),
        "doc_id",
        F.lit(None).cast("string").alias("k1"),
        "split",
        F.col("cluster_rep").alias("v"),
    )
    return doc.unionByName(bk).unionByName(bkg).unionByName(cluster)


_MIX_HEAVY = ("src0", "src1", "src2", "src3", "src4")


_MIX_ORACLE = f"""
    WITH base AS (
      SELECT doc_id, source,
             CASE WHEN source IN {_MIX_HEAVY!r} THEN 3 ELSE 1 END AS w
      FROM documents),
    counts AS (SELECT source, w, COUNT(*) AS n FROM base GROUP BY source, w),
    lim AS (SELECT n AS n_lim, w AS w_lim FROM counts
            ORDER BY CAST(n AS DOUBLE)/w ASC, source ASC LIMIT 1),
    quotas AS (SELECT source, (w * n_lim) // w_lim AS quota FROM counts, lim),
    ranked AS (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source ORDER BY
               ('0x' || substr(md5('mix-' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT ASC,
               doc_id ASC) AS mix_rank
      FROM base)
    SELECT ranked.doc_id, ranked.source, CAST(mix_rank AS BIGINT) AS mix_rank
    FROM ranked JOIN quotas USING (source) WHERE mix_rank <= quota
    """


# Standalone builder kept for reference (graded via mix_pack_sources).
def stratified_mix_sources_q(spark, sf):
    from tamer_spark.operators.mixing import stratified_mix

    d = _t(spark, sf, "documents")
    w = F.when(F.col("source").isin(*_MIX_HEAVY), 3).otherwise(1)
    return stratified_mix(d, w)


_DSIR_BUCKETS, _DSIR_K, _DSIR_UMOD, _DSIR_SCALE = 1024, 100, 65_536, 1_000_000
_DSIR_TARGET = "src0"  # the "high-quality domain" the raw corpus is matched to


_DSIR_ORACLE = f"""
    WITH dnorm AS (SELECT doc_id, source, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t FROM documents),
    dws AS (SELECT doc_id, source, string_split(t, ' ') AS w FROM dnorm),
    dng AS (SELECT doc_id, source, list_concat(w,
              CASE WHEN len(w) >= 2 THEN list_transform(range(len(w)-1), i -> w[i+1] || ' ' || w[i+2])
                   ELSE [] END) AS ngs FROM dws),
    dtok AS (SELECT doc_id, source, unnest(ngs) AS ng FROM dng),
    dbkt AS (SELECT doc_id, source, ('0x' || substr(md5(ng),1,15))::BIGINT % {_DSIR_BUCKETS} AS b FROM dtok),
    docb AS (SELECT doc_id, source, b, COUNT(*) AS c FROM dbkt GROUP BY doc_id, source, b),
    tt AS (SELECT b, SUM(c) AS ct FROM docb WHERE source = '{_DSIR_TARGET}' GROUP BY b),
    rw AS (SELECT b, SUM(c) AS cr FROM docb WHERE source <> '{_DSIR_TARGET}' GROUP BY b),
    tot AS (SELECT (SELECT COALESCE(SUM(ct),0) FROM tt) AS nt, (SELECT COALESCE(SUM(cr),0) FROM rw) AS nr),
    ratio AS (SELECT COALESCE(tt.b, rw.b) AS b,
               ({_DSIR_SCALE}::HUGEINT * (COALESCE(ct,0)+1) * (nr+{_DSIR_BUCKETS}))
               // ((COALESCE(cr,0)+1) * (nt+{_DSIR_BUCKETS})) AS r
              FROM tt FULL JOIN rw ON tt.b = rw.b CROSS JOIN tot),
    wts AS (SELECT doc_id, SUM(c::HUGEINT * (r - {_DSIR_SCALE})) AS w
            FROM (SELECT * FROM docb WHERE source <> '{_DSIR_TARGET}') d JOIN ratio USING (b)
            GROUP BY doc_id),
    dpri AS (SELECT doc_id, w,
             (greatest(w, 1) * {_DSIR_UMOD}::HUGEINT)
             // (((('0x' || substr(md5('dsir-' || CAST(doc_id AS VARCHAR)),1,15))::BIGINT) % {_DSIR_UMOD}) + 1) AS q
             FROM wts),
    dtopk AS (SELECT doc_id, w, row_number() OVER (ORDER BY q DESC, doc_id ASC) AS rn FROM dpri)
    SELECT doc_id, CAST(w AS VARCHAR) AS weight, CAST(rn AS BIGINT) AS sel_rank
    FROM dtopk WHERE rn <= {_DSIR_K}
    """


# Standalone builder kept for plan pins / bench (graded via the merged
# mix_pack_sources gate's 'dsir' variant).
def dsir_select_docs_q(spark, sf):
    from tamer_spark.operators.dsir import dsir_select

    d = _t(spark, sf, "documents", floor=True)
    return dsir_select(
        d.filter(F.col("source") != _DSIR_TARGET),
        d.filter(F.col("source") == _DSIR_TARGET),
        k=_DSIR_K,
        buckets=_DSIR_BUCKETS,
        scale=_DSIR_SCALE,
        u_mod=_DSIR_UMOD,
    )


_PACK_BUDGET, _PACK_GROUPS = 512, 8


_PACK_ORACLE = f"""
    WITH RECURSIVE tok AS (
      SELECT doc_id, doc_id % {_PACK_GROUPS} AS pack_group,
             CAST(len(regexp_extract_all(text, '{TOKEN_PATTERN}')) AS BIGINT) AS n_tokens
      FROM documents),
    ord AS (
      SELECT *, row_number() OVER (PARTITION BY pack_group ORDER BY doc_id) AS rn,
             CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY pack_group ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
      FROM tok),
    g AS (
      SELECT pack_group, rn, doc_id, CAST(0 AS BIGINT) AS bin_id, n_tokens AS fill
      FROM ord WHERE rn = 1
      UNION ALL
      SELECT o.pack_group, o.rn, o.doc_id,
             CASE WHEN g.fill > 0 AND g.fill + o.n_tokens > {_PACK_BUDGET}
                  THEN g.bin_id + 1 ELSE g.bin_id END,
             CASE WHEN g.fill > 0 AND g.fill + o.n_tokens > {_PACK_BUDGET}
                  THEN o.n_tokens ELSE g.fill + o.n_tokens END
      FROM g JOIN ord o ON o.pack_group = g.pack_group AND o.rn = g.rn + 1)
    SELECT ord.doc_id, ord.pack_group, ord.n_tokens, ord.start_off,
           CAST(floor(ord.start_off / {_PACK_BUDGET}) AS BIGINT) AS seq_first,
           CAST(floor((ord.start_off + greatest(ord.n_tokens, 1) - 1) / {_PACK_BUDGET}) AS BIGINT) AS seq_last,
           g.bin_id AS greedy_bin
    FROM ord JOIN g ON g.pack_group = ord.pack_group AND g.rn = ord.rn
    """


# Standalone builder kept for bench series continuity (graded via
# mix_pack_sources).
def pack_sequences_q(spark, sf):
    from tamer_spark.operators.packing import pack_greedy, pack_offsets, with_pack_group

    d = _t(spark, sf, "documents")
    toks = with_pack_group(
        d.select("doc_id", token_count_col(F.col("text")).cast("long").alias("n_tokens")),
        groups=_PACK_GROUPS,
    )
    off = pack_offsets(toks, budget=_PACK_BUDGET)
    gre = pack_greedy(toks, budget=_PACK_BUDGET).select(
        "doc_id", F.col("bin_id").alias("greedy_bin")
    )
    return off.join(gre, "doc_id")


# Seeded-shuffle gate constants (pinned: the oracle interpolates them).
_SHUF_SEED = "r11-shuffle"
_SHUF_SHARDS = 8

_SHUF_ORACLE = f"""
    WITH keyed AS (SELECT doc_id, md5('{_SHUF_SEED}' || ':' || doc_id) AS k
                   FROM documents),
    sharded AS (SELECT doc_id, k,
                ('0x' || substr(k, 1, 15))::BIGINT % {_SHUF_SHARDS} AS shard
                FROM keyed)
    SELECT doc_id, k, shard,
           CAST(row_number() OVER (PARTITION BY shard ORDER BY k, doc_id)
                AS BIGINT) AS pos
    FROM sharded
    """


# Standalone builder kept for plan pins / bench (graded via the merged
# mix_pack_sources gate's 'shuffle' variant).
def seeded_shuffle_docs_q(spark, sf):
    from tamer_spark.operators.mixing import seeded_shuffle

    d = _t(spark, sf, "documents").select("doc_id")
    return seeded_shuffle(d, seed=_SHUF_SEED, n_shards=_SHUF_SHARDS)


_DOMCAP_CAP, _DOMCAP_SLACK = 5, 4


def _domcap_oracle() -> str:
    """Per-domain cap replay: the shared domain chain, the nullgroup
    singleton rule, then the salted-hash rank window — keep_rank ≤ cap.
    Deliberately prefilter-free: the operator's threshold cut + fallback
    must land on exactly the rows a straight per-group rank keeps."""
    return f"""
    WITH {_domain_dd_ctes()},
    dk AS (SELECT doc_id,
           CASE WHEN dom IS NULL OR dom = '' THEN 'nullgroup-' || doc_id
                ELSE dom END AS g
      FROM dd),
    ranked AS (SELECT doc_id, g,
               row_number() OVER (PARTITION BY g ORDER BY
                 ('0x' || substr(md5('domcap-' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT ASC,
                 doc_id ASC) AS keep_rank,
               COUNT(*) OVER (PARTITION BY g) AS n_group
      FROM dk)
    SELECT doc_id, g, CAST(keep_rank AS BIGINT) AS keep_rank,
           CAST(n_group AS BIGINT) AS n_group
    FROM ranked WHERE keep_rank <= {_DOMCAP_CAP}"""


# Standalone builder kept for plan pins / bench (graded via the merged
# mix_pack_sources gate's 'domcap' variant). prefilter_slack engaged so
# the mega-group posture — threshold cut, survivor recount, fallback —
# is the oracle-pinned path, not just the pytest-pinned one.
def domain_cap_docs_q(spark, sf):
    from tamer_spark.functions.text import registrable_domain_col
    from tamer_spark.operators.mixing import cap_per_group

    d = _t(spark, sf, "documents").select(
        "doc_id", _derived_domain_url_col().alias("url")
    )
    dom = d.select("doc_id", registrable_domain_col(F.col("url")).alias("domain"))
    return cap_per_group(
        dom, "domain", cap=_DOMCAP_CAP, prefilter_slack=_DOMCAP_SLACK
    )


@q(
    "mix_pack_sources",
    f"""
    SELECT 'mix' AS variant, source AS k1, doc_id AS v1, mix_rank AS v2,
           CAST(NULL AS VARCHAR) AS payload
    FROM ({_MIX_ORACLE})
    UNION ALL
    SELECT 'domcap', g, doc_id, keep_rank, CAST(n_group AS VARCHAR)
    FROM ({_domcap_oracle()})
    UNION ALL
    SELECT 'pack', CAST(NULL AS VARCHAR), doc_id, pack_group,
           concat_ws('|', n_tokens, start_off, seq_first, seq_last, greedy_bin)
    FROM ({_PACK_ORACLE})
    UNION ALL
    SELECT 'dsir', CAST(NULL AS VARCHAR), doc_id, sel_rank, weight
    FROM ({_DSIR_ORACLE})
    UNION ALL
    SELECT 'shuffle', k, doc_id, shard, CAST(pos AS VARCHAR)
    FROM ({_SHUF_ORACLE})
    """,
    doc=(
        "Dataset layout construction as one tagged union (r6 window "
        "re-pack; both were driver-green gates through r4). mix: "
        "deterministic stratified source mixing to 3:1 target weights — "
        "the limiting source caps every quota via exact integer "
        "arithmetic, each source keeps its lowest-salted-hash docs "
        "(content- and engine-independent membership); one tiny count agg "
        "+ per-source rank window + broadcast quota join. pack: sequence "
        f"packing (budget {_PACK_BUDGET} tokens, {_PACK_GROUPS} pack "
        "groups) — concat-and-split offsets/spans via pure window math "
        "plus whole-document greedy bin ids via an Arrow-batched "
        "applyInPandas recurrence (a closed bin resets the fill — not a "
        "prefix sum); the pack columns travel as one '|'-joined payload "
        "string, int64-rendered identically in both engines. Oracle "
        "reproduces the greedy recurrence with a recursive CTE. dsir "
        "(r11): DSIR importance-resampling data selection (Xie et al. "
        "2023) — hashed unigram+bigram bucket counts, add-one-smoothed "
        "integer-scaled target/raw bucket ratios (broadcast), per-doc "
        "CENTERED decimal(38,0) weights sum(c*(r-scale)) — the first-order "
        "Taylor of the paper's log weight, so uninformative buckets "
        "contribute ~0 and length doesn't swamp affinity (planted-target "
        "recall 0.84 vs 0.28 uncentered, scripts/dsir_quality.py) — and "
        "Duffield–Lund–Thorup priority sampling of the top-100 docs "
        "proportional to max(weight,1) via a salted hash uniform; every "
        "step exact integer arithmetic, so the oracle replays "
        "featurization, 'training', weighting, and the sample itself "
        "(weight travels as the payload string, negatives included). "
        "shuffle (r11): deterministic seeded global shuffle — the "
        "training-order materialization step; key = md5(seed:id), shard = "
        "key-prefix mod 8, position = row_number within shard ordered by "
        "(key, id). NO single-partition window: order is (shard, pos), "
        "per-shard and embarrassingly parallel — one hash shuffle plus the "
        "per-shard sort that IS the product (a shard writer streams it "
        "out); same seed reproduces the order bit-for-bit on both engines. "
        "domcap (r12): RefinedWeb/CCNet per-registrable-domain quota — at "
        f"most {_DOMCAP_CAP} docs per domain by salted-hash rank, NULL/"
        "empty domains singleton (the domain_doc_counts rule), graded "
        "through the MEGA-GROUP posture (prefilter_slack: map-side "
        "threshold cut so ~cap·slack rows per group reach the rank "
        "window, survivor recount + full-group fallback keeps it EXACT) "
        "against a deliberately prefilter-free single-window oracle."
    ),
)
def mix_pack_sources_q(spark, sf):
    mix = stratified_mix_sources_q(spark, sf).select(
        F.lit("mix").alias("variant"),
        F.col("source").alias("k1"),
        F.col("doc_id").alias("v1"),
        F.col("mix_rank").alias("v2"),
        F.lit(None).cast("string").alias("payload"),
    )
    pack = pack_sequences_q(spark, sf).select(
        F.lit("pack").alias("variant"),
        F.lit(None).cast("string").alias("k1"),
        F.col("doc_id").alias("v1"),
        F.col("pack_group").alias("v2"),
        F.concat_ws(
            "|", "n_tokens", "start_off", "seq_first", "seq_last", "greedy_bin"
        ).alias("payload"),
    )
    dsir = dsir_select_docs_q(spark, sf).select(
        F.lit("dsir").alias("variant"),
        F.lit(None).cast("string").alias("k1"),
        F.col("doc_id").alias("v1"),
        F.col("sel_rank").alias("v2"),
        F.col("weight").cast("string").alias("payload"),
    )
    shuf = seeded_shuffle_docs_q(spark, sf).select(
        F.lit("shuffle").alias("variant"),
        F.col("shuffle_key").alias("k1"),
        F.col("doc_id").alias("v1"),
        F.col("shard").alias("v2"),
        F.col("pos").cast("string").alias("payload"),
    )
    domcap = domain_cap_docs_q(spark, sf).select(
        F.lit("domcap").alias("variant"),
        F.col("domain").alias("k1"),
        F.col("doc_id").alias("v1"),
        F.col("keep_rank").alias("v2"),
        F.col("n_group").cast("string").alias("payload"),
    )
    return (
        mix.unionByName(pack)
        .unionByName(dsir)
        .unionByName(shuf)
        .unionByName(domcap)
    )


_DECON_SHINGLE_ORACLE = f"""
    WITH {_shingle_ctes()},
    bench AS (SELECT DISTINCT unnest(shingles) AS s FROM sh WHERE doc_id % 50 = 0),
    corpus AS (SELECT doc_id, unnest(shingles) AS s FROM sh WHERE doc_id % 50 <> 0),
    tainted AS (SELECT DISTINCT corpus.doc_id FROM corpus JOIN bench USING (s))
    SELECT doc_id FROM documents
    WHERE doc_id % 50 <> 0 AND doc_id NOT IN (SELECT doc_id FROM tainted)
    """


# Standalone builders kept for reference (graded via decontaminate_docs).
def decontaminate_against_benchmark(spark, sf):
    from tamer_spark.operators.dedup import shingle_string_rows

    d = _t(spark, sf, "documents")
    shingled = shingle_string_rows(d, n=3).dropDuplicates(["doc_id", "s"])
    bench = shingled.filter(F.col("doc_id") % 50 == 0).select("s").distinct()
    corpus = shingled.filter(F.col("doc_id") % 50 != 0)
    tainted = corpus.join(F.broadcast(bench), "s").select("doc_id").distinct()
    return (
        d.filter(F.col("doc_id") % 50 != 0)
        .join(tainted, "doc_id", "left_anti")
        .select("doc_id")
    )


def decontaminate_bloom_prefilter_q(spark, sf):
    from tamer_spark.operators.bloom import decontaminate_with_bloom
    from tamer_spark.operators.dedup import shingle_string_rows

    d = _t(spark, sf, "documents")
    shingled = shingle_string_rows(d, n=3).dropDuplicates(["doc_id", "s"])
    bench = shingled.filter(F.col("doc_id") % 50 == 0).select("s").distinct()
    corpus = shingled.filter(F.col("doc_id") % 50 != 0)
    return decontaminate_with_bloom(
        corpus, bench, d.filter(F.col("doc_id") % 50 != 0).select("doc_id")
    )


_PCTL_ORACLE = """
    WITH v AS (SELECT o_orderpriority, CAST(round(o_totalprice * 100) AS BIGINT) AS val
               FROM orders),
         ranked AS (SELECT o_orderpriority, val,
                           row_number() OVER (PARTITION BY o_orderpriority ORDER BY val) AS rn,
                           COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
                    FROM v)
    SELECT o_orderpriority, '1/2' AS p, val AS value FROM ranked WHERE rn = (1 * n + 1) // 2
    UNION ALL
    SELECT o_orderpriority, '9/10', val FROM ranked WHERE rn = (9 * n + 9) // 10
    UNION ALL
    SELECT o_orderpriority, '99/100', val FROM ranked WHERE rn = (99 * n + 99) // 100
    """


_GPCTL_ORACLE = """
    WITH v AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS val FROM orders),
         ranked AS (SELECT val, row_number() OVER (ORDER BY val) AS rn,
                           COUNT(*) OVER () AS n
                    FROM v)
    SELECT '1/2' AS p, val AS value, rn AS rank, n FROM ranked WHERE rn = (1 * n + 1) // 2
    UNION ALL
    SELECT '9/10', val, rn, n FROM ranked WHERE rn = (9 * n + 9) // 10
    UNION ALL
    SELECT '99/100', val, rn, n FROM ranked WHERE rn = (99 * n + 99) // 100
    """


_GPCTL_GROUP_ORACLE = """
    WITH v AS (SELECT o_orderpriority, CAST(round(o_totalprice * 100) AS BIGINT) AS val FROM orders),
         ranked AS (SELECT o_orderpriority, val,
                           row_number() OVER (PARTITION BY o_orderpriority ORDER BY val) AS rn,
                           COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
                    FROM v)
    SELECT o_orderpriority, '1/2' AS p, val AS value, rn AS rank, n FROM ranked WHERE rn = (1 * n + 1) // 2
    UNION ALL
    SELECT o_orderpriority, '9/10', val, rn, n FROM ranked WHERE rn = (9 * n + 9) // 10
    UNION ALL
    SELECT o_orderpriority, '99/100', val, rn, n FROM ranked WHERE rn = (99 * n + 99) // 100
    """


# Standalone builder kept for plan pins (graded via event_analytics
# 'gpctl' grouped rows): the vectorized-over-groups two-pass — the gate
# runs BOTH percentile implementations (window form in 'pctl', bucket
# refine here) over the same column against one oracle family.
def grouped_percentiles_orders_q(spark, sf):
    from tamer_spark.operators.percentiles import grouped_percentile_bucketed

    v = _t(spark, sf, "orders").select(
        "o_orderpriority", cents("o_totalprice").alias("val")
    )
    return grouped_percentile_bucketed(
        v, "val", ("o_orderpriority",), [(1, 2), (9, 10), (99, 100)], n_buckets=64
    )


# Standalone builder kept for plan pins / bench (graded via the merged
# event_analytics gate's 'gpctl' variant). The oracle is deliberately
# bucket-free: a global window is fine for DuckDB at gate SF, and the
# operator must land on the exact same rows whatever its bucketing.
def global_percentiles_orders_q(spark, sf):
    from tamer_spark.operators.percentiles import global_percentile_bucketed

    v = _t(spark, sf, "orders").select(cents("o_totalprice").alias("val"))
    return global_percentile_bucketed(
        v, "val", [(1, 2), (9, 10), (99, 100)], n_buckets=256
    )


# Standalone builder kept for reference (graded via event_analytics).
def exact_percentiles_orders_q(spark, sf):
    from tamer_spark.operators.percentiles import exact_percentiles

    v = _t(spark, sf, "orders").select(
        "o_orderpriority", cents("o_totalprice").alias("val")
    )
    return exact_percentiles(
        v, "val", [(1, 2), (9, 10), (99, 100)], keys=("o_orderpriority",)
    )


def _pagerank_oracle(iters: int = 3, d_ppm: int = 850_000) -> str:
    scale, ppm = 10**12, 10**6
    rounds = []
    prev = "r0"
    for k in range(1, iters + 1):
        rounds.append(
            f"""s{k} AS (SELECT e.dst, SUM({prev}.rank // d.deg) AS inflow
               FROM edges e JOIN {prev} ON {prev}.node = e.src
               JOIN deg d ON d.src = e.src GROUP BY e.dst),
    r{k} AS (SELECT {prev}.node,
                    (({ppm} - {d_ppm}) * ({scale} // {prev}.n)) // {ppm}
                    + ({d_ppm} * COALESCE(s{k}.inflow, 0)) // {ppm} AS rank,
                    {prev}.n
             FROM {prev} LEFT JOIN s{k} ON s{k}.dst = {prev}.node)"""
        )
        prev = f"r{k}"
    return f"""
    WITH pairs AS (SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
                   FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
    edges AS (SELECT 2*c AS src, 2*s+1 AS dst FROM pairs
              UNION ALL SELECT 2*s+1, 2*c FROM pairs),
    vx AS (SELECT DISTINCT src AS node FROM edges UNION SELECT DISTINCT dst FROM edges),
    nn AS (SELECT COUNT(*) AS n FROM vx),
    deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
    r0 AS (SELECT node, {scale} // n AS rank, n FROM vx CROSS JOIN nn),
    {", ".join(rounds)}
    SELECT node, CAST(rank AS BIGINT) AS rank FROM {prev}
    """


@q(
    "pagerank_cust_supp",
    _pagerank_oracle(),
    doc=(
        "Integer-exact PageRank (3 unrolled power-iteration rounds, "
        "d=0.85) over the bipartite customer↔supplier purchase graph — "
        "the iterative-graph class next to connected components, gated "
        "the way the k-means/PQ training loops are: every round is int64 "
        "div arithmetic, the oracle unrolls the rounds as CTEs and the "
        "ranks hash-match bit-for-bit. Per round: one edges⋈ranks join "
        "plus one dst partial-agg — edge-list-sized shuffles, node-sized "
        "rank frame."
    ),
)
def pagerank_cust_supp_q(spark, sf):
    from tamer_spark.operators.pagerank import pagerank

    o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
    )
    edges = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionByName(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    # distinct BY CONSTRUCTION: pairs is .distinct(), c is always even and
    # s always odd, so the two union legs cannot collide — skip the
    # operator's O(|E|) dedup exchange (r14, A/B 0.75x, ranks identical)
    return pagerank(edges, iters=3, dedup_edges=False)


_FUNNEL_ORACLE = f"""
    WITH {EVENTS_CTE},
    u0 AS (SELECT user_id, MIN(CASE WHEN event_type = 'view' THEN ts END) AS t0
           FROM events GROUP BY user_id),
    u1 AS (SELECT e.user_id,
                  MIN(CASE WHEN e.event_type = 'click' AND e.ts >= u0.t0 THEN e.ts END) AS t1
           FROM events e JOIN u0 USING (user_id) GROUP BY e.user_id),
    u2 AS (SELECT e.user_id,
                  MIN(CASE WHEN e.event_type = 'purchase' AND e.ts >= u1.t1 THEN e.ts END) AS t2
           FROM events e JOIN u1 USING (user_id) GROUP BY e.user_id)
    SELECT CAST(1 AS BIGINT) AS stage_idx, 'view' AS stage, CAST(COUNT(t0) AS BIGINT) AS users FROM u0
    UNION ALL
    SELECT 2, 'click', CAST(COUNT(t1) AS BIGINT) FROM u1
    UNION ALL
    SELECT 3, 'purchase', CAST(COUNT(t2) AS BIGINT) FROM u2
    """

_COHORT_ORACLE = f"""
    WITH {EVENTS_CTE},
    first AS (SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
              FROM events GROUP BY user_id),
    active AS (SELECT DISTINCT e.user_id, f.cohort_week,
                      date_trunc('week', e.ts) AS wk
               FROM events e JOIN first f USING (user_id))
    SELECT CAST(epoch(cohort_week) AS BIGINT) AS cohort_epoch,
           date_diff('day', cohort_week, wk) // 7 AS week_offset,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM active GROUP BY cohort_week, week_offset
    """


# Standalone builders kept for bench (graded via event_analytics).
def funnel_view_click_purchase_q(spark, sf):
    from tamer_spark.operators.events import funnel_counts

    return funnel_counts(_t(spark, sf, "events"), ["view", "click", "purchase"])


def cohort_retention_weekly_q(spark, sf):
    from tamer_spark.operators.events import cohort_retention

    return cohort_retention(_t(spark, sf, "events"))


_ANOMALY_THRESHOLD_PPM = 3_000_000  # binding on the fixture (the textbook
# 5.189M Iglewicz–Hoaglin cutoff flags nothing on near-uniform Poisson
# counts — a never-firing verdict column would be an unpinned branch)

_ANOMALY_ORACLE = f"""
    WITH {EVENTS_CTE},
    dc AS (SELECT event_type AS k, CAST(ts AS DATE) AS day, COUNT(*) AS n
           FROM events GROUP BY 1, 2),
    r1 AS (SELECT k, n, row_number() OVER (PARTITION BY k ORDER BY n) AS rn,
                  COUNT(*) OVER (PARTITION BY k) AS cnt
           FROM dc),
    med AS (SELECT k, n AS med FROM r1 WHERE rn = (cnt + 1) // 2),
    dev AS (SELECT d.k, d.day, d.n, m.med, abs(d.n - m.med) AS dv
            FROM dc d JOIN med m USING (k)),
    r2 AS (SELECT k, dv, row_number() OVER (PARTITION BY k ORDER BY dv) AS rn,
                  COUNT(*) OVER (PARTITION BY k) AS cnt
           FROM dev),
    madt AS (SELECT k, dv AS mad FROM r2 WHERE rn = (cnt + 1) // 2),
    sc AS (SELECT d.k, d.day, d.n, d.dv, m.mad,
                  CASE WHEN m.mad > 0 THEN d.dv * 1000000 // m.mad END AS dev_ppm
           FROM dev d JOIN madt m USING (k))
    SELECT k AS k1, CAST(day AS VARCHAR) AS k2, n AS v1, dev_ppm AS v2,
           CAST(CASE WHEN mad > 0 THEN dev_ppm > {_ANOMALY_THRESHOLD_PPM}
                     ELSE dv > 0 END AS BIGINT) AS v3
    FROM sc
    """


@q(
    "event_analytics",
    f"""
    SELECT 'funnel' AS variant, stage AS k1, CAST(NULL AS VARCHAR) AS k2,
           stage_idx AS v1, users AS v2, CAST(NULL AS BIGINT) AS v3
    FROM ({_FUNNEL_ORACLE})
    UNION ALL
    SELECT 'cohort', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
           cohort_epoch, week_offset, n_users
    FROM ({_COHORT_ORACLE})
    UNION ALL
    SELECT 'pctl', o_orderpriority, p, value, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
    FROM ({_PCTL_ORACLE})
    UNION ALL
    SELECT 'gpctl', CAST(NULL AS VARCHAR), p, value,
           CAST(rank AS BIGINT), CAST(n AS BIGINT)
    FROM ({_GPCTL_ORACLE})
    UNION ALL
    SELECT 'gpctl', o_orderpriority, p, value,
           CAST(rank AS BIGINT), CAST(n AS BIGINT)
    FROM ({_GPCTL_GROUP_ORACLE})
    UNION ALL
    SELECT 'anomaly', k1, k2, v1, v2, v3 FROM ({_ANOMALY_ORACLE})
    UNION ALL
    SELECT 'transitions', from_type, to_type, n_transitions, n_users,
           CAST(NULL AS BIGINT)
    FROM (
      WITH {EVENTS_CTE},
      tpairs AS (
        SELECT user_id, event_type AS to_type,
               lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS from_type
        FROM events)
      SELECT from_type, to_type,
             CAST(COUNT(*) AS BIGINT) AS n_transitions,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      FROM tpairs WHERE from_type IS NOT NULL
      GROUP BY 1, 2
    )
    """,
    doc=(
        "Product/event analytics as one tagged union (r6 window re-pack of "
        "three formerly out-of-window gates — now driver-graded). funnel: "
        "ordered view → click → purchase — stage i counts users with a "
        "stage-i event at-or-after their stage-(i-1) time; one "
        "conditional-min agg per stage, all keyed on user_id (exchange "
        "reuse). cohort: weekly retention — cohort = ISO week of first "
        "event, offsets via DST-immune calendar arithmetic (datediff div "
        "7); shuffled payload is the deduplicated user × active-week set. "
        "pctl: exact discrete percentiles (median/p90/p99 of order totals "
        "in cents per priority) — percentile_disc with RATIONAL targets, "
        "ceil(p·n) in pure int64; one window exchange serves rank + count. "
        "anomaly (r12): median/MAD robust outlier flagging over the "
        "per-type daily count series (Iglewicz–Hoaglin modified-z family, "
        "integer-exact: medians are percentile_disc(1/2) actual elements, "
        "score = dev·10^6 div MAD, threshold binding on the fixture; "
        "MAD=0 degenerates to any-nonzero-deviation — the documented "
        "fallback). Every series row is emitted, not just the outliers — "
        "a monitoring surface that hides the normal days can't be "
        "audited. Raw events collapse to the calendar-bounded series via "
        "one partial-aggregable groupBy BEFORE any window, so the two "
        "median exchanges never see event-grain data; med/MAD frames "
        "(one row per key) broadcast back. transitions (r12): Markov "
        "transition counts over per-user event streams — the journey-"
        "mining primitive between funnels and sequence models: per "
        "consecutive pair under the deterministic (ts, event_id) total "
        "order, count occurrences + distinct users; ONE user-partitioned "
        "lag window (a user's stream is the parallel unit), then a "
        "partial-agg groupBy over the |types|² pair space; first events "
        "contribute nothing (lag NULL filtered), pinned on both sides. "
        "gpctl (r12): exact GLOBAL percentile_disc (median/p90/p99 of all "
        "order totals in cents) via the two-pass bucket refine — pass 1 a "
        "bounded equi-width histogram (≤ B-row exchange, ≤ B-row collect: "
        "the CMS fixed-size-shuffle property), pass 2 ranks ONLY the "
        "target buckets, so no global sort ever happens; the emitted "
        "(value, rank, n) pins the ceil(p·n) rank arithmetic against a "
        "deliberately bucket-free single-window oracle; the grouped rows "
        "(r12 continuation) run grouped_percentile_bucketed — per-group "
        "grids, driver targets bounded by groups·buckets (low-cardinality "
        "contract, max_groups-guarded), one (group, bucket) rank window — "
        "so the gate checks BOTH percentile implementations against one "
        "oracle family and they can never drift apart silently."
    ),
)
def event_analytics_q(spark, sf):
    funnel = funnel_view_click_purchase_q(spark, sf).select(
        F.lit("funnel").alias("variant"),
        F.col("stage").alias("k1"),
        F.lit(None).cast("string").alias("k2"),
        F.col("stage_idx").alias("v1"),
        F.col("users").alias("v2"),
        F.lit(None).cast("long").alias("v3"),
    )
    cohort = cohort_retention_weekly_q(spark, sf).select(
        F.lit("cohort").alias("variant"),
        F.lit(None).cast("string").alias("k1"),
        F.lit(None).cast("string").alias("k2"),
        F.unix_timestamp("cohort_week").alias("v1"),
        F.col("week_offset").alias("v2"),
        F.col("n_users").alias("v3"),
    )
    pctl = exact_percentiles_orders_q(spark, sf).select(
        F.lit("pctl").alias("variant"),
        F.col("o_orderpriority").alias("k1"),
        F.col("p").alias("k2"),
        F.col("value").alias("v1"),
        F.lit(None).cast("long").alias("v2"),
        F.lit(None).cast("long").alias("v3"),
    )
    from tamer_spark.operators.anomaly import daily_counts, mad_anomalies
    from tamer_spark.operators.events import transition_counts

    anomaly = mad_anomalies(
        daily_counts(_t(spark, sf, "events")),
        keys=("k",),
        value_col="n",
        threshold_ppm=_ANOMALY_THRESHOLD_PPM,
    ).select(
        F.lit("anomaly").alias("variant"),
        F.col("k").alias("k1"),
        F.col("day").cast("string").alias("k2"),
        F.col("n").alias("v1"),
        F.col("dev_ppm").alias("v2"),
        F.col("is_anomaly").cast("long").alias("v3"),
    )
    transitions = transition_counts(_t(spark, sf, "events")).select(
        F.lit("transitions").alias("variant"),
        F.col("from_type").alias("k1"),
        F.col("to_type").alias("k2"),
        F.col("n_transitions").alias("v1"),
        F.col("n_users").alias("v2"),
        F.lit(None).cast("long").alias("v3"),
    )
    gpctl = global_percentiles_orders_q(spark, sf).select(
        F.lit("gpctl").alias("variant"),
        F.lit(None).cast("string").alias("k1"),
        F.col("p").alias("k2"),
        F.col("value").alias("v1"),
        F.col("rank").alias("v2"),
        F.col("n").alias("v3"),
    ).unionByName(
        grouped_percentiles_orders_q(spark, sf).select(
            F.lit("gpctl").alias("variant"),
            F.col("o_orderpriority").alias("k1"),
            F.col("p").alias("k2"),
            F.col("value").alias("v1"),
            F.col("rank").alias("v2"),
            F.col("n").alias("v3"),
        )
    )
    return (
        funnel.unionByName(cohort)
        .unionByName(pctl)
        .unionByName(gpctl)
        .unionByName(anomaly)
        .unionByName(transitions)
    )


_WINNOW_FP_CTES = """
    norm AS (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
                  FROM documents),
         ws AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
         kh AS (SELECT doc_id,
                 CASE WHEN len(w) - 3 <= 0
                      THEN [('0x' || substr(md5(array_to_string(w, ' ')), 1, 15))::BIGINT]
                      ELSE list_transform(range(len(w) - 3), i ->
                           ('0x' || substr(md5(array_to_string(w[i+1:i+4], ' ')), 1, 15))::BIGINT)
                 END AS h
                FROM ws),
         fp AS (SELECT doc_id,
                 CASE WHEN len(h) - 4 <= 0 THEN [list_min(h)]
                      ELSE list_distinct(list_transform(range(len(h) - 4), j -> list_min(h[j+1:j+5])))
                 END AS fps
                FROM kh),
         fpx AS (SELECT DISTINCT doc_id, unnest(fps) AS fp FROM fp)
    """


# Standalone builders kept for bench (graded via winnow_docs).
def winnow_fingerprints_docs_q(spark, sf):
    from tamer_spark.functions.text import winnow_fingerprints

    fp = winnow_fingerprints(_t(spark, sf, "documents", floor=True), k=4, w=5)
    # explode_outer, NOT explode: the array is never empty (>=1 fingerprint
    # per doc), and plain explode lets InferFiltersFromGenerate re-inline
    # the whole staged hashing expression into a size()>0 filter (the
    # documented Generate trap — measured minutes vs seconds at sf0.1)
    return fp.select("doc_id", F.explode_outer("fingerprints").alias("fp")).distinct()


def winnow_overlap_pairs_docs_q(spark, sf):
    from tamer_spark.functions.text import winnow_fingerprints, winnow_overlap_pairs

    fps = winnow_fingerprints(_t(spark, sf, "documents", floor=True), k=4, w=5)
    return winnow_overlap_pairs(fps, min_shared=2, max_posting=None)


@q(
    "winnow_docs",
    f"""
    WITH {_WINNOW_FP_CTES}
    SELECT 'fp' AS variant, doc_id AS v1, fp AS v2, CAST(NULL AS BIGINT) AS v3 FROM fpx
    UNION ALL
    SELECT 'pairs', a.doc_id, b.doc_id, CAST(COUNT(*) AS BIGINT)
    FROM fpx a JOIN fpx b USING (fp)
    WHERE a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id HAVING COUNT(*) >= 2
    """,
    doc=(
        "Winnowing (MOSS, Schleimer et al. 2003) as one tagged union (r6 "
        "window re-pack of two formerly out-of-window gates — now "
        "driver-graded). fp: per-doc selected fingerprints — per-window "
        "min of word-4-gram hashes over window 5, guaranteed shared "
        "fingerprint for any w+k-1-word overlap at ~2/(w+1) density; "
        "map-only staged array HOFs. pairs: docs sharing >= 2 selected "
        "fingerprints — posting-list equi-join on the fingerprint value "
        "(bucket ids only, minhash-banding cost class) with the coverage "
        "theorem's hard guarantee; max_posting=None so the oracle's exact "
        "semantics are structurally pinned (non-binding-cap convention)."
    ),
)
def winnow_docs_q(spark, sf):
    fps = winnow_fingerprints_docs_q(spark, sf).select(
        F.lit("fp").alias("variant"),
        F.col("doc_id").alias("v1"),
        F.col("fp").alias("v2"),
        F.lit(None).cast("long").alias("v3"),
    )
    pairs = winnow_overlap_pairs_docs_q(spark, sf).select(
        F.lit("pairs").alias("variant"),
        F.col("id_a").alias("v1"),
        F.col("id_b").alias("v2"),
        F.col("n_shared").alias("v3"),
    )
    return fps.unionByName(pairs)


_ODDS_ORACLE = """
    WITH norm AS (SELECT doc_id, lang, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
                  FROM documents),
         tok AS (SELECT doc_id, lang, unnest(string_split(t, ' ')) AS w FROM norm),
         train AS (SELECT * FROM tok WHERE doc_id % 3 = 0),
         pw AS (SELECT w, COUNT(*) AS c_pos FROM train WHERE lang = 'en' GROUP BY w),
         nw AS (SELECT w, COUNT(*) AS c_neg FROM train WHERE lang <> 'en' GROUP BY w),
         vocab AS (SELECT COALESCE(pw.w, nw.w) AS w,
                          COALESCE(c_pos, 0) AS c_pos, COALESCE(c_neg, 0) AS c_neg
                   FROM pw FULL OUTER JOIN nw ON pw.w = nw.w),
         tot AS (SELECT SUM(c_pos) AS t_pos, SUM(c_neg) AS t_neg, COUNT(*) AS v FROM vocab),
         wt AS (SELECT w,
                       (1000000 * (c_pos + 1)) // (t_pos + v)
                       - (1000000 * (c_neg + 1)) // (t_neg + v) AS weight,
                       1000000 // (t_pos + v) - 1000000 // (t_neg + v) AS base
                FROM vocab CROSS JOIN tot)
    SELECT doc_id,
           CAST(SUM(COALESCE(weight, (SELECT max(base) FROM wt))) AS BIGINT) AS score
    FROM tok LEFT JOIN wt USING (w) GROUP BY doc_id
    """


# Standalone builder kept for reference (graded via corpus_curation).
def quality_odds_score_q(spark, sf):
    from tamer_spark.operators.classifier import odds_score, odds_train

    d = _t(spark, sf, "documents")
    train = d.filter(F.col("doc_id") % 3 == 0)
    weights = odds_train(
        train.filter(F.col("lang") == "en"), train.filter(F.col("lang") != "en")
    )
    return odds_score(d, weights)


_TEMPERATURE_ORACLE = """
    WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
         w AS (SELECT lang, n, CAST(round(sqrt(n) * 1000000) AS BIGINT) AS w FROM c),
         t AS (SELECT SUM(w) AS W FROM w)
    SELECT d.doc_id, d.lang FROM documents d JOIN w USING (lang) CROSS JOIN t
    WHERE (('0x' || substr(md5('temp-' || CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000)
          * t.W * w.n
          < 250 * w.w * 1000000
    """

_UPSAMPLE_TARGET = 1000

# Exact replay of operators/temperature.temperature_resample: the copy
# count #{c >= 0 : (h + c·M)·W·n < target·w·M} as a HUGEINT ceil-div
# (Spark's decimal(38,0) div ≡ DuckDB HUGEINT // — the DSIR convention),
# fanned out with unnest(range(nc)) so copy_idx 0..nc-1 is on the surface.
_UPSAMPLE_ORACLE = f"""
    WITH uc AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
         uw AS (SELECT lang, n, CAST(round(sqrt(n) * 1000000) AS BIGINT) AS w FROM uc),
         ut AS (SELECT SUM(w) AS wsum FROM uw),
         ud AS (SELECT doc_id, d.lang, n, w, wsum,
                       ('0x' || substr(md5('temp-' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000 AS h
                FROM documents d JOIN uw USING (lang) CROSS JOIN ut),
         uk AS (SELECT doc_id, lang,
                       CAST(CAST({_UPSAMPLE_TARGET} AS HUGEINT) * w * 1000000
                            // (CAST(wsum AS HUGEINT) * n) AS BIGINT) AS rate_ppm,
                       CASE WHEN CAST({_UPSAMPLE_TARGET} AS HUGEINT) * w * 1000000
                                 > CAST(h AS HUGEINT) * wsum * n
                            THEN CAST((CAST({_UPSAMPLE_TARGET} AS HUGEINT) * w * 1000000
                                       - CAST(h AS HUGEINT) * wsum * n
                                       + CAST(wsum AS HUGEINT) * n * 1000000 - 1)
                                 // (CAST(wsum AS HUGEINT) * n * 1000000) AS BIGINT)
                            ELSE 0 END AS nc
                FROM ud)
    SELECT doc_id, lang, rate_ppm, CAST(unnest(range(nc)) AS BIGINT) AS copy_idx
    FROM uk WHERE nc > 0
    """

_DATASHEET_ORACLE = """
    WITH norm AS (SELECT doc_id, source, lang, text,
                         trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
                  FROM documents),
         d AS (SELECT source, lang, length(text) AS nc,
                      len(string_split(t, ' ')) AS nt, md5(t) AS dg
               FROM norm),
         c AS (SELECT dg, COUNT(*) AS copies FROM d GROUP BY dg)
    SELECT source, lang,
           COUNT(*) AS n_docs,
           CAST(SUM(nc) AS BIGINT) AS total_chars,
           CAST(SUM(nt) AS BIGINT) AS total_tokens,
           CAST(SUM(CASE WHEN copies > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_docs
    FROM d JOIN c USING (dg)
    GROUP BY source, lang
    """


# Standalone builders kept for bench (graded via corpus_curation).
def temperature_mix_langs_q(spark, sf):
    from tamer_spark.operators.temperature import temperature_mix

    return temperature_mix(
        _t(spark, sf, "documents"), target=250, group_col="lang", alpha=0.5
    ).select("doc_id", "lang")


def corpus_datasheet_q(spark, sf):
    from tamer_spark.operators.datasheet import corpus_datasheet

    return corpus_datasheet(_t(spark, sf, "documents"))


_DECON_SUBSTR = ["hash join", "slow scan", "merge sort"]


def decontaminate_substrings_q(spark, sf):
    from tamer_spark.operators.decontaminate import decontaminate_substrings

    return decontaminate_substrings(
        _t(spark, sf, "documents"), _DECON_SUBSTR
    ).select("doc_id")


@q(
    "decontaminate_docs",
    f"""
    SELECT 'shingle' AS mode, doc_id FROM ({_DECON_SHINGLE_ORACLE})
    UNION ALL
    SELECT 'bloom', doc_id FROM ({_DECON_SHINGLE_ORACLE})
    UNION ALL
    SELECT 'substr', doc_id FROM documents
    WHERE NOT ({" OR ".join(f"contains(text, '{p}')" for p in _DECON_SUBSTR)})
    """,
    doc=(
        "All three decontamination modes as one tagged union (r6 window "
        "re-pack; shingle/bloom were driver-green through r4, substr was "
        "pytest-only — now all driver-graded). shingle: drop corpus docs "
        "sharing any 3-gram shingle with the benchmark set — shingle "
        "equi-join + anti join. bloom: bit-identical output via a 16-Kib "
        "broadcast bloom prefilter over the benchmark shingles (JVM bit "
        "tests, map-side; the exact verify join sees only bloom survivors, "
        "so false positives never surface) — same oracle SQL by design, "
        "proving the prefilter changes nothing. substr: GPT-3 appendix-C "
        "verbatim-substring matching — zero-shuffle plan-literal "
        "exists(contains) in whole-stage codegen."
    ),
)
def decontaminate_docs_q(spark, sf):
    sh = decontaminate_against_benchmark(spark, sf).select(
        F.lit("shingle").alias("mode"), "doc_id"
    )
    bl = decontaminate_bloom_prefilter_q(spark, sf).select(
        F.lit("bloom").alias("mode"), "doc_id"
    )
    su = decontaminate_substrings_q(spark, sf).select(
        F.lit("substr").alias("mode"), "doc_id"
    )
    return sh.unionByName(bl).unionByName(su)


_BUDGET_ORACLE = """
    WITH ordered AS (
      SELECT doc_id, source, n_chars,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS ok
      FROM documents),
    c AS (
      SELECT doc_id, source,
             SUM(n_chars) OVER (PARTITION BY source ORDER BY ok, doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM ordered)
    SELECT doc_id, source FROM c WHERE cum <= 4000
    """


# Standalone builder kept for bench (graded via corpus_curation).
def budget_cap_sources_q(spark, sf):
    from tamer_spark.operators.budget import take_token_budget

    d = _t(spark, sf, "documents")
    return take_token_budget(
        d, id_col="doc_id", weight_col="n_chars", budget=4000, group_col="source"
    ).select("doc_id", "source")


# Standalone builder (graded via corpus_curation 'manifest' variant, r7):
# the shard sink's manifest frame over (doc_id, text) — the exact digest
# math write_training_shards records and verify_shards re-derives, so the
# driver oracle pins its cross-engine determinism.
def shard_manifest_docs_q(spark, sf):
    from tamer_spark.sinks.shards import assign_shard, shard_manifest

    d = _t(spark, sf, "documents").select("doc_id", "text")
    return shard_manifest(assign_shard(d, "doc_id", 8)).select(
        F.col("shard").cast("long").alias("shard"), "n_rows", "content_digest"
    )


@q(
    "corpus_curation",
    f"""
    SELECT 'temp' AS variant, lang AS k1, CAST(NULL AS VARCHAR) AS k2,
           doc_id AS v1, CAST(NULL AS BIGINT) AS v2,
           CAST(NULL AS BIGINT) AS v3, CAST(NULL AS BIGINT) AS v4
    FROM ({_TEMPERATURE_ORACLE})
    UNION ALL
    SELECT 'upsample', lang, CAST(NULL AS VARCHAR), doc_id, copy_idx,
           rate_ppm, CAST(NULL AS BIGINT)
    FROM ({_UPSAMPLE_ORACLE})
    UNION ALL
    SELECT 'budget', source, CAST(NULL AS VARCHAR), doc_id,
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
    FROM ({_BUDGET_ORACLE})
    UNION ALL
    SELECT 'datasheet', source, lang, n_docs, total_chars, total_tokens, dup_docs
    FROM ({_DATASHEET_ORACLE})
    UNION ALL
    SELECT 'odds', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), doc_id, score,
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
    FROM ({_ODDS_ORACLE})
    UNION ALL
    SELECT 'manifest', CAST(shard AS VARCHAR), CAST(NULL AS VARCHAR), n_rows,
           content_digest, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
    FROM (
      WITH _mr AS (
        SELECT CAST(('0x' || substr(md5('shard-' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 8 AS shard,
               -- mirror Spark to_json's ignoreNullFields default: a NULL
               -- text OMITS the key (string concat would instead NULL the
               -- whole row expression and bit_xor would silently skip it).
               -- doc_id deliberately gets NO such CASE: write_training_shards
               -- REJECTS NULL ids at export time (its ValueError gate), so a
               -- NULL id is outside the modeled sink's domain — encoding it
               -- here would claim a digest for an export that cannot exist

               '{{"doc_id":' || CAST(doc_id AS VARCHAR)
                 || CASE WHEN text IS NULL THEN '' ELSE ',"text":' || to_json(text) END
                 || '}}' AS rj
        FROM documents)
      SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_rows,
             bit_xor(CAST(('0x' || substr(md5(rj), 1, 15)) AS BIGINT)) AS content_digest
      FROM _mr GROUP BY shard
    )
    UNION ALL
    SELECT 'drift', k1, CAST(NULL AS VARCHAR), v1, v2, v3, CAST(NULL AS BIGINT)
    FROM (
      WITH da AS (SELECT lang AS k, COUNT(*) AS c FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
           db AS (SELECT lang AS k, COUNT(*) AS c FROM documents WHERE doc_id % 2 = 1 GROUP BY 1),
           dna AS (SELECT SUM(c) AS n FROM da),
           dnb AS (SELECT SUM(c) AS n FROM db),
           dj AS (SELECT COALESCE(da.k, db.k) AS k,
                         COALESCE(da.c, 0) AS ca, COALESCE(db.c, 0) AS cb
                  FROM da FULL JOIN db ON da.k = db.k),
           dper AS (SELECT k, ca, cb,
                           abs(ca * 1000000 // dna.n - cb * 1000000 // dnb.n) AS drift
                    FROM dj, dna, dnb)
      SELECT k AS k1, CAST(ca AS BIGINT) AS v1, CAST(cb AS BIGINT) AS v2,
             CAST(drift AS BIGINT) AS v3
      FROM dper
      UNION ALL
      SELECT '__total__', CAST(dna.n AS BIGINT), CAST(dnb.n AS BIGINT),
             CAST((SELECT SUM(drift) FROM dper) // 2 AS BIGINT)
      FROM dna, dnb
    )
    UNION ALL
    SELECT 'ndrift', k1, CAST(NULL AS VARCHAR), v1, v2, v3, CAST(NULL AS BIGINT)
    FROM (
      WITH nb0 AS (SELECT least(greatest((CAST(n_chars AS BIGINT) - 0) // 64, 0), 63) AS bkt,
                          doc_id % 2 AS par
                   FROM documents WHERE n_chars IS NOT NULL),
           ha AS (SELECT bkt, COUNT(*) AS c FROM nb0 WHERE par = 0 GROUP BY 1),
           hb AS (SELECT bkt, COUNT(*) AS c FROM nb0 WHERE par = 1 GROUP BY 1),
           hna AS (SELECT SUM(c) AS n FROM ha),
           hnb AS (SELECT SUM(c) AS n FROM hb),
           hj AS (SELECT COALESCE(ha.bkt, hb.bkt) AS bkt,
                         COALESCE(ha.c, 0) AS ca, COALESCE(hb.c, 0) AS cb
                  FROM ha FULL JOIN hb ON ha.bkt = hb.bkt),
           hper AS (SELECT bkt, ca, cb,
                           abs(ca * 1000000 // hna.n - cb * 1000000 // hnb.n) AS drift
                    FROM hj, hna, hnb)
      SELECT CAST(bkt AS VARCHAR) AS k1, CAST(ca AS BIGINT) AS v1,
             CAST(cb AS BIGINT) AS v2, CAST(drift AS BIGINT) AS v3
      FROM hper
      UNION ALL
      SELECT '__total__', CAST(hna.n AS BIGINT), CAST(hnb.n AS BIGINT),
             CAST((SELECT SUM(drift) FROM hper) // 2 AS BIGINT)
      FROM hna, hnb
    )
    """,
    doc=(
        "Corpus-curation surface as one tagged union (r6 window re-pack of "
        "four formerly out-of-window gates — now driver-graded; r7 adds the "
        "training-shard export manifest as a fifth variant). temp: "
        "temperature resampling (mT5 §3.1, alpha=0.5) — group shares ∝ "
        "sqrt(n_g), integer-exact hash-range keep rule, map-only filter "
        "riding the scan, weights as tiny broadcasts, int64 headroom "
        "enforced. upsample (r12 continuation): the UNCAPPED mT5 rule "
        "(operators/temperature.temperature_resample) — real multilingual "
        "mixes also REPLICATE low-resource groups, so target 1000 over "
        "the 500-doc fixture makes head langs subsample while tail langs "
        "genuinely replicate (copy_idx > 0 rows on the graded surface); "
        "copy count = #{c >= 0 : (h + c*M)*W*n < target*w*M}, whose c=0 "
        "term IS temp's keep predicate (exactly nested, pinned in pytest "
        "against a python replay), all arithmetic decimal(38,0) div == "
        "HUGEINT // ; the diagnostic rate_ppm travels as v3. budget: "
        "token-budget capping — maximal stable-hash-"
        "ordered prefix per source fitting a 4000-char budget via a "
        "two-phase distributed prefix sum (never a per-source global "
        "window; the oracle IS the global window, proving the "
        "decomposition exact). datasheet: per-(source, lang) doc counts, "
        "char/token volume, exact-duplicate incidence — one 16 B/doc "
        "digest shuffle. odds: CCNet/fastText-style reference-vs-crawl "
        "linear odds scoring — smoothed-conditional difference weights "
        "trained on a 1/3 slice, every doc scored, unseen words take the "
        "smoothing floor; all int64 div arithmetic. manifest: the shard "
        "sink's integrity manifest (sinks/shards.py shard_manifest over "
        "assign_shard, 8 shards) — stable_hash64(id)%8 membership, per-"
        "shard row counts, and the order-independent bit_xor of row-level "
        "md5 digests over name-sorted to_json rows; the oracle replays the "
        "digest byte-for-byte, pinning the cross-engine determinism the "
        "dataloader-side verify_shards depends on. drift (r12): epoch-to-"
        "epoch composition drift — integer-exact total-variation distance "
        "over the language slices of two epoch halves (shares as "
        "floor-div ppm, per-category |Δshare| naming WHICH slice moved, "
        "plus a '__total__' Σ div 2 row); full-outer over the category "
        "sets so a slice absent from one epoch surfaces with count 0 "
        "instead of vanishing — the drift you most need to see; raw "
        "corpora never meet (one partial-agg count each, category-bounded "
        "join, 1-row total broadcasts). ndrift (r12): the NUMERIC-column "
        "drift leg — both epochs bucketed on one FROZEN int64 grid "
        "(lo=0, width=64, 64 buckets; out-of-range clamps to the edge so "
        "a later epoch drifting past the first epoch's range surfaces "
        "instead of dropping; NULLs filtered BEFORE the clamp — "
        "greatest(NULL,0)=0 in Spark would silently file NULLs under "
        "bucket 0), then the same exact ppm-share TVD arithmetic over "
        "bucket ids; histograms are mergeable (cell-wise sum, pinned), "
        "so the epoch fold is O(buckets)."
    ),
)
def corpus_curation_q(spark, sf):
    temp = temperature_mix_langs_q(spark, sf).select(
        F.lit("temp").alias("variant"),
        F.col("lang").alias("k1"),
        F.lit(None).cast("string").alias("k2"),
        F.col("doc_id").alias("v1"),
        F.lit(None).cast("long").alias("v2"),
        F.lit(None).cast("long").alias("v3"),
        F.lit(None).cast("long").alias("v4"),
    )
    budget = budget_cap_sources_q(spark, sf).select(
        F.lit("budget").alias("variant"),
        F.col("source").alias("k1"),
        F.lit(None).cast("string").alias("k2"),
        F.col("doc_id").alias("v1"),
        F.lit(None).cast("long").alias("v2"),
        F.lit(None).cast("long").alias("v3"),
        F.lit(None).cast("long").alias("v4"),
    )
    sheet = corpus_datasheet_q(spark, sf).select(
        F.lit("datasheet").alias("variant"),
        F.col("source").alias("k1"),
        F.col("lang").alias("k2"),
        F.col("n_docs").alias("v1"),
        F.col("total_chars").alias("v2"),
        F.col("total_tokens").alias("v3"),
        F.col("dup_docs").alias("v4"),
    )
    odds = quality_odds_score_q(spark, sf).select(
        F.lit("odds").alias("variant"),
        F.lit(None).cast("string").alias("k1"),
        F.lit(None).cast("string").alias("k2"),
        F.col("doc_id").alias("v1"),
        F.col("score").alias("v2"),
        F.lit(None).cast("long").alias("v3"),
        F.lit(None).cast("long").alias("v4"),
    )
    manifest = shard_manifest_docs_q(spark, sf).select(
        F.lit("manifest").alias("variant"),
        F.col("shard").cast("string").alias("k1"),
        F.lit(None).cast("string").alias("k2"),
        F.col("n_rows").alias("v1"),
        F.col("content_digest").alias("v2"),
        F.lit(None).cast("long").alias("v3"),
        F.lit(None).cast("long").alias("v4"),
    )
    from tamer_spark.operators.drift import category_drift, total_tvd_ppm

    d = _t(spark, sf, "documents")
    per = category_drift(
        d.filter(F.col("doc_id") % 2 == 0), d.filter(F.col("doc_id") % 2 == 1), ("lang",)
    )
    drift = per.select(
        F.lit("drift").alias("variant"),
        F.col("lang").alias("k1"),
        F.lit(None).cast("string").alias("k2"),
        F.col("n_a").alias("v1"),
        F.col("n_b").alias("v2"),
        F.col("drift_ppm").alias("v3"),
        F.lit(None).cast("long").alias("v4"),
    ).unionByName(
        total_tvd_ppm(per).select(
            F.lit("drift").alias("variant"),
            F.lit("__total__").alias("k1"),
            F.lit(None).cast("string").alias("k2"),
            F.col("n_a").alias("v1"),
            F.col("n_b").alias("v2"),
            F.col("tvd_ppm").alias("v3"),
            F.lit(None).cast("long").alias("v4"),
        )
    )
    from tamer_spark.operators.drift import numeric_drift

    nper = numeric_drift(
        d.filter(F.col("doc_id") % 2 == 0),
        d.filter(F.col("doc_id") % 2 == 1),
        "n_chars",
        lo=0,
        width=64,
        n_buckets=64,
    )
    ndrift = nper.select(
        F.lit("ndrift").alias("variant"),
        F.col("bucket").cast("string").alias("k1"),
        F.lit(None).cast("string").alias("k2"),
        F.col("n_a").alias("v1"),
        F.col("n_b").alias("v2"),
        F.col("drift_ppm").alias("v3"),
        F.lit(None).cast("long").alias("v4"),
    ).unionByName(
        total_tvd_ppm(nper).select(
            F.lit("ndrift").alias("variant"),
            F.lit("__total__").alias("k1"),
            F.lit(None).cast("string").alias("k2"),
            F.col("n_a").alias("v1"),
            F.col("n_b").alias("v2"),
            F.col("tvd_ppm").alias("v3"),
            F.lit(None).cast("long").alias("v4"),
        )
    )
    # temperature resampling WITH replication (r12 continuation): the
    # uncapped mT5 rule — target 1000 over 500 docs so head langs
    # subsample while tail langs genuinely replicate (copy_idx > 0 rows
    # on the graded surface)
    from tamer_spark.operators.temperature import temperature_resample

    upsample = temperature_resample(
        d.select("doc_id", "lang"), target=_UPSAMPLE_TARGET, group_col="lang"
    ).select(
        F.lit("upsample").alias("variant"),
        F.col("lang").alias("k1"),
        F.lit(None).cast("string").alias("k2"),
        F.col("doc_id").alias("v1"),
        F.col("copy_idx").alias("v2"),
        F.col("rate_ppm").alias("v3"),
        F.lit(None).cast("long").alias("v4"),
    )
    return (
        temp.unionByName(budget)
        .unionByName(sheet)
        .unionByName(odds)
        .unionByName(manifest)
        .unionByName(drift)
        .unionByName(ndrift)
        .unionByName(upsample)
    )


_DQ_ORACLE = """
    SELECT 'o_totalprice_out_of_range' AS check, CAST(COUNT(*) FILTER (WHERE o_totalprice < 0) AS BIGINT) AS n_bad FROM orders
    UNION ALL
    SELECT 'o_custkey_null', CAST(COUNT(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT) FROM orders
    UNION ALL
    SELECT 'o_custkey_orphaned', CAST(COUNT(*) AS BIGINT) FROM orders
      WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey)
    UNION ALL
    SELECT 'o_orderkey_duplicated',
           CAST(COALESCE(SUM(n - 1), 0) AS BIGINT)
      FROM (SELECT o_orderkey, COUNT(*) AS n FROM orders GROUP BY o_orderkey HAVING COUNT(*) > 1)
    """


# Standalone builder kept for reference (graded via table_maintenance).
def data_quality_checks(spark, sf):
    from tamer_spark.operators.quality import (
        in_range,
        not_null,
        referential_check,
        run_checks,
        uniqueness_check,
    )

    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    row_checks = run_checks(o, [in_range("o_totalprice", lo=0), not_null("o_custkey")])
    ref = referential_check(o, c, "o_custkey", "c_custkey")
    uniq = uniqueness_check(o, ["o_orderkey"])
    return row_checks.unionByName(ref).unionByName(uniq)


# ---------------------------------------------------------------------------
# Warehouse maintenance: SCD2 history, continuous-aggregate merge-on-read
# ---------------------------------------------------------------------------

_SCD2_ORACLE = """
    WITH init AS (
      SELECT c_custkey, c_name, CAST(round(c_acctbal*100) AS BIGINT) AS bal_c,
             TIMESTAMP '2025-01-01 00:00:00' AS valid_from, CAST(NULL AS TIMESTAMP) AS valid_to
      FROM customer),
    closed AS (
      SELECT c_custkey, c_name, bal_c, valid_from, TIMESTAMP '2025-06-01 00:00:00' AS valid_to
      FROM init WHERE c_custkey % 10 = 0),
    openv AS (
      SELECT c_custkey, c_name, bal_c + 500 AS bal_c, TIMESTAMP '2025-06-01 00:00:00' AS valid_from,
             CAST(NULL AS TIMESTAMP) AS valid_to
      FROM init WHERE c_custkey % 10 = 0),
    untouched AS (SELECT * FROM init WHERE c_custkey % 10 <> 0)
    SELECT * FROM closed UNION ALL SELECT * FROM openv UNION ALL SELECT * FROM untouched
    """


# Standalone builder kept for reference (graded via table_maintenance).
def scd2_current_view_q(spark, sf):
    from tamer_spark.operators.scd2 import scd2_apply, scd2_init

    c = _t(spark, sf, "customer").select("c_custkey", "c_name", cents("c_acctbal").alias("bal_c"))
    t0 = F.lit("2025-01-01 00:00:00").cast("timestamp")
    t1 = F.lit("2025-06-01 00:00:00").cast("timestamp")
    dim = scd2_init(c, "c_custkey", t0)
    updates = c.withColumn(
        "bal_c",
        F.when(F.col("c_custkey") % 10 == 0, F.col("bal_c") + 500).otherwise(F.col("bal_c")),
    )
    return scd2_apply(dim, updates, "c_custkey", t1)


_ROLLUP_ORACLE = f"""
    WITH {EVENTS_CTE}, partials AS (
      SELECT date_trunc('day', ts) AS epoch_day, event_type,
             COUNT(*) AS n_events,
             CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_value_c
      FROM events GROUP BY 1, 2)
    SELECT event_type, COUNT(*) AS n_partials,
           CAST(SUM(n_events) AS BIGINT) AS n_events,
           CAST(SUM(sum_value_c) AS BIGINT) AS sum_value_c
    FROM partials GROUP BY event_type
    """


# Standalone builder kept for reference (graded via table_maintenance).
def rollup_merge_on_read_q(spark, sf):
    from tamer_spark.operators.rollup import merge_partials

    e = _t(spark, sf, "events")
    partials = (
        e.groupBy(F.date_trunc("day", F.col("ts")).alias("epoch_day"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum(cents("value")).alias("sum_value_c"))
        .withColumn("n_partials", F.lit(1).cast("long"))
    )
    merged = merge_partials(partials, ["event_type"], ["n_partials", "n_events", "sum_value_c"])
    return merged.select("event_type", "n_partials", "n_events", "sum_value_c")


# Standalone builder kept for reference (graded via table_maintenance
# 'compact'). The manifest is SYNTHESIZED from orders — one "file" per
# (year, month) with exact integer bytes (32/row + priority-string length)
# — because the oracle can only see tables, not the filesystem; the same
# plan_compaction drives the real rewrite (sinks/layout.compact_planned),
# whose filesystem half is pinned by tests/test_layout.py round-trips.
_COMPACT_TARGET = 20_000


def compaction_plan_orders_q(spark, sf):
    from tamer_spark.sinks.layout import plan_compaction

    o = _t(spark, sf, "orders")
    files = (
        o.groupBy(
            F.year("o_orderdate").alias("part_year"),
            F.month("o_orderdate").alias("part_month"),
        )
        .agg(
            (F.count(F.lit(1)) * 32 + F.sum(F.length("o_orderpriority")))
            .cast("long")
            .alias("bytes")
        )
        .select(
            F.concat(
                F.lit("orders/"),
                F.col("part_year").cast("string"),
                F.lit("/"),
                F.col("part_month").cast("string"),
                F.lit(".parquet"),
            ).alias("path"),
            "bytes",
            F.col("part_year").cast("long").alias("part_year"),
        )
    )
    return plan_compaction(files, _COMPACT_TARGET, partition_cols=["part_year"])


_COMPACT_ORACLE = f"""
    WITH cf AS (
      SELECT 'orders/' || CAST(year(o_orderdate) AS VARCHAR) || '/' ||
             CAST(month(o_orderdate) AS VARCHAR) || '.parquet' AS path,
             CAST(COUNT(*)*32 + SUM(length(o_orderpriority)) AS BIGINT) AS bytes,
             CAST(year(o_orderdate) AS BIGINT) AS part_year
      FROM orders GROUP BY year(o_orderdate), month(o_orderdate))
    SELECT path, bytes, part_year,
           CAST((SUM(bytes) OVER (PARTITION BY part_year
                   ORDER BY bytes DESC, path
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 - bytes) // {_COMPACT_TARGET} AS BIGINT) AS bin
    FROM cf
    """


# Standalone builder kept for reference (graded via table_maintenance
# 'split'). Manifest synthesized at TWO granularities on purpose: monthly
# files are small enough to MERGE into bins (n_in_bin > 1 → never split),
# while the per-year file is oversized (> 2× target) and alone in its bin
# span, so it must SPLIT into ceil(bytes/target) outputs — both faces of
# the OPTIMIZE planning rule exercised on the same hashed surface. The
# filesystem half (row-content-hash routing to split_k route keys in one
# job) is pinned by tests/test_layout.py.
def compaction_split_orders_q(spark, sf):
    from tamer_spark.sinks.layout import plan_compaction, plan_splits

    o = _t(spark, sf, "orders")
    sized = (F.count(F.lit(1)) * 32 + F.sum(F.length("o_orderpriority"))).cast("long")
    monthly = (
        o.groupBy(
            F.year("o_orderdate").alias("part_year"),
            F.month("o_orderdate").alias("part_month"),
        )
        .agg(sized.alias("bytes"))
        .select(
            F.concat(
                F.lit("orders/"),
                F.col("part_year").cast("string"),
                F.lit("/"),
                F.col("part_month").cast("string"),
                F.lit(".parquet"),
            ).alias("path"),
            "bytes",
            F.col("part_year").cast("long").alias("part_year"),
        )
    )
    yearly = (
        o.groupBy(F.year("o_orderdate").alias("part_year"))
        .agg(sized.alias("bytes"))
        .select(
            F.concat(
                F.lit("orders/"), F.col("part_year").cast("string"), F.lit(".parquet")
            ).alias("path"),
            "bytes",
            F.col("part_year").cast("long").alias("part_year"),
        )
    )
    files = monthly.unionByName(yearly)
    return plan_splits(
        plan_compaction(files, _COMPACT_TARGET, partition_cols=["part_year"]),
        _COMPACT_TARGET,
        partition_cols=["part_year"],
    )


_SPLIT_ORACLE = f"""
    WITH cf AS (
      SELECT 'orders/' || CAST(year(o_orderdate) AS VARCHAR) || '/' ||
             CAST(month(o_orderdate) AS VARCHAR) || '.parquet' AS path,
             CAST(COUNT(*)*32 + SUM(length(o_orderpriority)) AS BIGINT) AS bytes,
             CAST(year(o_orderdate) AS BIGINT) AS part_year
      FROM orders GROUP BY year(o_orderdate), month(o_orderdate)
      UNION ALL
      SELECT 'orders/' || CAST(year(o_orderdate) AS VARCHAR) || '.parquet',
             CAST(COUNT(*)*32 + SUM(length(o_orderpriority)) AS BIGINT),
             CAST(year(o_orderdate) AS BIGINT)
      FROM orders GROUP BY year(o_orderdate)),
    binned AS (
      SELECT path, bytes, part_year,
             CAST((SUM(bytes) OVER (PARTITION BY part_year
                     ORDER BY bytes DESC, path
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - bytes) // {_COMPACT_TARGET} AS BIGINT) AS bin
      FROM cf)
    SELECT path, bytes, part_year, bin,
           CAST(CASE WHEN COUNT(*) OVER (PARTITION BY part_year, bin) = 1
                       AND bytes > {2 * _COMPACT_TARGET}
                     THEN (bytes + {_COMPACT_TARGET} - 1) // {_COMPACT_TARGET}
                     ELSE 1 END AS BIGINT) AS split_k
    FROM binned
    """


# Standalone builder kept for reference (graded via table_maintenance
# 'lifecycle'/'lifecycle_plan'). The epochs example's END-STATE invariant
# (examples/incremental_curation_epochs.py runs the per-epoch maintenance
# verbs; this puts the composed lifecycle itself on the hashed surface):
# ingest 3 epochs through the REAL incremental fold (dedup_exact_incremental
# from a cold empty index, index advanced per epoch), then run the two
# maintenance verbs on the final curated corpus — ANALYZE column stats
# (the catalog) and the OPTIMIZE compaction plan over a per-epoch file
# manifest synthesized from the curated rows. The oracle recomputes the
# curated set GLOBALLY (one window: first epoch containing a digest, then
# min doc_id within it — provably equal to the fold since epoch =
# doc_id % 3), so a fold that drops/duplicates anything, a stats pass
# that disagrees with the corpus, or a plan over stale rows all surface
# as hash mismatches: "the catalog agrees with the curated corpus".
_LC_TARGET = 1_000_000


def epoch_lifecycle_q(spark, sf):
    from tamer_spark.operators.dedup_incremental import (
        append_keys,
        dedup_exact_incremental,
        exact_index,
    )
    from tamer_spark.operators.quality import column_stats
    from tamer_spark.sinks.layout import plan_compaction

    d = _t(spark, sf, "documents").select("doc_id", "text")
    idx = exact_index(d.limit(0))  # cold start: empty index
    curated = None
    for i in range(3):
        batch = d.filter(F.col("doc_id") % 3 == i)
        s = dedup_exact_incremental(batch, idx).localCheckpoint()
        idx = append_keys(idx, s.select("content_hash"))
        tagged = s.select("doc_id", "text", F.lit(i).cast("long").alias("epoch"))
        curated = tagged if curated is None else curated.unionByName(tagged)
    stats = column_stats(
        curated,
        [
            ("doc_id", F.col("doc_id")),
            ("text_len", F.length("text").cast("long")),
            ("epoch", F.col("epoch")),
        ],
    )
    nrows = curated.agg(F.count(F.lit(1)).cast("long").alias("v1"))
    files = (
        curated.groupBy("epoch")
        .agg((F.count(F.lit(1)) * 16 + F.sum(F.length("text"))).cast("long").alias("bytes"))
        .select(
            F.concat(
                F.lit("curated/epoch="), F.col("epoch").cast("string"), F.lit(".parquet")
            ).alias("path"),
            "bytes",
        )
    )
    plan = plan_compaction(files, _LC_TARGET)
    return stats, nrows, plan


_LIFECYCLE_ORACLE = f"""
    WITH curated AS (
      SELECT doc_id, text, epoch FROM (
        SELECT doc_id, text, doc_id % 3 AS epoch,
               row_number() OVER (PARTITION BY md5(text)
                                  ORDER BY doc_id % 3, doc_id) AS rn
        FROM documents) t
      WHERE rn = 1),
    cstats AS (
      SELECT 'doc_id' AS col, CAST(MIN(doc_id) AS BIGINT) AS mn,
             CAST(MAX(doc_id) AS BIGINT) AS mx,
             CAST(COUNT(*) - COUNT(doc_id) AS BIGINT) AS nn,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nd
      FROM curated
      UNION ALL
      SELECT 'text_len', CAST(MIN(length(text)) AS BIGINT),
             CAST(MAX(length(text)) AS BIGINT),
             CAST(COUNT(*) - COUNT(text) AS BIGINT),
             CAST(COUNT(DISTINCT length(text)) AS BIGINT)
      FROM curated
      UNION ALL
      SELECT 'epoch', CAST(MIN(epoch) AS BIGINT), CAST(MAX(epoch) AS BIGINT),
             CAST(COUNT(*) - COUNT(epoch) AS BIGINT),
             CAST(COUNT(DISTINCT epoch) AS BIGINT)
      FROM curated),
    lfiles AS (
      SELECT 'curated/epoch=' || CAST(epoch AS VARCHAR) || '.parquet' AS path,
             CAST(COUNT(*)*16 + SUM(length(text)) AS BIGINT) AS bytes
      FROM curated GROUP BY epoch),
    lplan AS (
      SELECT path, bytes,
             CAST((SUM(bytes) OVER (ORDER BY bytes DESC, path
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - bytes) // {_LC_TARGET} AS BIGINT) AS bin
      FROM lfiles)
    SELECT 'lifecycle' AS variant, col AS k, mn AS v1, mx AS v2,
           CAST(nn AS VARCHAR) || '|' || CAST(nd AS VARCHAR) AS payload
    FROM cstats
    UNION ALL
    SELECT 'lifecycle', 'rows', (SELECT CAST(COUNT(*) AS BIGINT) FROM curated),
           CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR)
    UNION ALL
    SELECT 'lifecycle_plan', path, bin, bytes, CAST(NULL AS VARCHAR) FROM lplan
    """


_STATS_ORACLE = """
    SELECT 'o_orderkey' AS col, CAST(MIN(o_orderkey) AS BIGINT) AS mn,
           CAST(MAX(o_orderkey) AS BIGINT) AS mx,
           CAST(COUNT(*) - COUNT(o_orderkey) AS BIGINT) AS nn,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS nd
    FROM orders
    UNION ALL
    SELECT 'o_custkey', CAST(MIN(o_custkey) AS BIGINT), CAST(MAX(o_custkey) AS BIGINT),
           CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT), CAST(COUNT(DISTINCT o_custkey) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'price_c', CAST(MIN(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT),
           CAST(MAX(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT),
           CAST(COUNT(*) - COUNT(o_totalprice) AS BIGINT),
           CAST(COUNT(DISTINCT CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'odate_epoch', CAST(MIN(CAST(epoch(o_orderdate) AS BIGINT)) AS BIGINT),
           CAST(MAX(CAST(epoch(o_orderdate) AS BIGINT)) AS BIGINT),
           CAST(COUNT(*) - COUNT(o_orderdate) AS BIGINT),
           CAST(COUNT(DISTINCT CAST(epoch(o_orderdate) AS BIGINT)) AS BIGINT)
    FROM orders
    """


_PROFILE_COUNTS = "(SELECT user_id AS key, COUNT(*) AS n FROM events GROUP BY 1)"
_PROFILE_ORACLE = f"""
    SELECT 'profile_hh' AS variant, CAST(key AS VARCHAR) AS k, n AS v1,
           CAST(rnk AS BIGINT) AS v2, 'events.user_id' AS payload
    FROM (SELECT key, n,
                 row_number() OVER (ORDER BY n DESC, key NULLS LAST) AS rnk
          FROM {_PROFILE_COUNTS} ORDER BY n DESC, key NULLS LAST LIMIT 10)
    UNION ALL
    SELECT 'profile_summary', 'events.user_id', n_keys, n_rows,
           CAST(CAST((1000000::HUGEINT * max_n * n_keys) // n_rows AS BIGINT) AS VARCHAR)
             || '|' ||
           CAST(CAST((max_n::HUGEINT * n_keys + n_rows - 1) // n_rows AS BIGINT) AS VARCHAR)
    FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys, CAST(SUM(n) AS BIGINT) AS n_rows,
                 CAST(MAX(n) AS BIGINT) AS max_n FROM {_PROFILE_COUNTS})
    """


@q(
    "table_maintenance",
    f"""
    SELECT 'dq' AS variant, "check" AS k, n_bad AS v1, CAST(NULL AS BIGINT) AS v2,
           CAST(NULL AS VARCHAR) AS payload
    FROM ({_DQ_ORACLE})
    UNION ALL
    SELECT 'scd2', c_name, c_custkey, bal_c,
           CAST(CAST(epoch(valid_from) AS BIGINT) AS VARCHAR) || '|' ||
           COALESCE(CAST(CAST(epoch(valid_to) AS BIGINT) AS VARCHAR), 'open')
    FROM ({_SCD2_ORACLE})
    UNION ALL
    SELECT 'rollup', event_type, n_partials, n_events, CAST(sum_value_c AS VARCHAR)
    FROM ({_ROLLUP_ORACLE})
    UNION ALL
    SELECT 'compact', path, bin, bytes, CAST(part_year AS VARCHAR)
    FROM ({_COMPACT_ORACLE})
    UNION ALL
    SELECT 'compact_bins', CAST(part_year AS VARCHAR) || '#' || CAST(bin AS VARCHAR),
           COUNT(*), CAST(SUM(bytes) AS BIGINT), CAST(part_year AS VARCHAR)
    FROM ({_COMPACT_ORACLE}) GROUP BY part_year, bin
    UNION ALL
    SELECT 'split', path, split_k, bytes,
           CAST(part_year AS VARCHAR) || '#' || CAST(bin AS VARCHAR)
    FROM ({_SPLIT_ORACLE})
    UNION ALL
    SELECT variant, k, v1, v2, payload FROM ({_LIFECYCLE_ORACLE}) lc
    UNION ALL
    SELECT 'stats', col, mn, mx, CAST(nn AS VARCHAR) || '|' || CAST(nd AS VARCHAR)
    FROM ({_STATS_ORACLE})
    UNION ALL
    SELECT 'pstats', CAST(year(o_orderdate) AS VARCHAR) || '#price_c',
           CAST(MIN(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT),
           CAST(MAX(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT),
           CAST(COUNT(*) - COUNT(o_totalprice) AS BIGINT) || '|' ||
           CAST(COUNT(DISTINCT CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
    FROM orders GROUP BY year(o_orderdate)
    UNION ALL
    {_PROFILE_ORACLE}
    """,
    doc=(
        "Warehouse-maintenance surface as one tagged union (r6 window "
        "re-pack; all three were driver-green gates through r4). dq: "
        "declarative data-quality report — row checks in one aggregate "
        "pass + referential (anti-join) + uniqueness checks. scd2: SCD "
        "Type-2 (operators/scd2.py) — initial load at t0, update batch "
        "changing every 10th customer's balance; scd2_apply must close "
        "exactly those versions at t1, append new open versions, and DROP "
        "unchanged rows (idempotent re-ingestion); validity interval "
        "travels as an epoch-rendered 'from|to' payload string, open "
        "versions as 'open'. rollup: continuous-aggregate merge-on-read "
        "(operators/rollup.py merge_partials) — per-event-day partials "
        "merged by the associative SUM fold; reads touch only rollup "
        "rows, never raw events. compact (r13, sinks/layout.py "
        "plan_compaction): small-file compaction planning — the OPTIMIZE "
        "maintenance verb the engine's per-epoch commits make necessary "
        "(engine.py run loop lands one output per epoch; reference "
        "Tamer.scala:150-186 commits per (epoch, partition)). One row per "
        "file with its deterministic bin assignment: within a partition "
        "(year), files ordered (bytes DESC, path) fill bins by integer "
        "cumulative-bytes div target — one window over the MANIFEST "
        "(file count, never data bytes), replayable in any engine, which "
        "is what makes a 100 TB rewrite auditable before it runs. The "
        "manifest is synthesized from orders (one file per month, exact "
        "integer bytes) because the oracle sees tables, not filesystems; "
        "the filesystem rewrite half (compact_planned: skip-right-sized "
        "singletons, ONE broadcast-routed job, repartitionByRange one "
        "bin per file) is pinned by tests/test_layout.py round-trips. "
        "compact_bins: the ops-facing journal view — files + exact byte "
        "fill per (partition, bin), one tiny agg over the same manifest. "
        "split (r14, sinks/layout.plan_splits): the OTHER face of the "
        "small-files problem — oversized files (the skewed epoch writing "
        "one 2 GB file) plan into split_k = ceil(bytes/target) outputs "
        "when alone in their bin AND > 2x target (splitting a 1.3x file "
        "would produce two UNDER-sized files); manifest synthesized at "
        "two granularities (monthly files merge, the per-year file "
        "splits) so both verbs replay in the same window; the one-job "
        "row-content-hash routing that executes the split is pinned by "
        "tests/test_layout.py determinism + round-trip tests. "
        "lifecycle/lifecycle_plan (r14): the epochs example's END-STATE "
        "invariant on the hashed surface — 3 ingest epochs through the "
        "REAL incremental fold (dedup_exact_incremental from a cold empty "
        "index, index advanced per epoch), then the composed maintenance "
        "verbs on the final curated corpus: ANALYZE column stats "
        "(doc_id/text_len/epoch min/max/nulls/NDV + row count = the "
        "catalog) and the OPTIMIZE bin plan over a per-epoch synthesized "
        "manifest; the oracle recomputes the curated set GLOBALLY (first "
        "epoch containing a digest, then min doc_id — equal to the fold "
        "because epoch = doc_id % 3), so 'catalog agrees with curated "
        "corpus after N epochs + compaction + stats' is itself the hash "
        "gate (ingest → dedup → compact → stats as ONE graded "
        "composition). "
        "stats (r13, operators/quality.column_stats): ANALYZE-style column "
        "statistics — per column min/max/NULL-count/exact NDV in ONE "
        "aggregate pass over orders (integer domains: keys, cents, epoch "
        "seconds — the cross-engine convention), the maintenance verb "
        "behind CBO numbers and ingest validation; NULL contracts "
        "(min/max skip, n_nulls counts, NDV excludes) replay-pinned. "
        "pstats: the same stats PER PARTITION (order year) — partition-"
        "level min/max is the data-skipping index table formats keep, and "
        "per-partition nulls/NDV localizes a drifted landing partition "
        "without scanning its neighbors (column_stats_grouped, one "
        "partial-aggregable groupBy; NULL keys keep their own group). "
        "profile_hh/profile_summary (r10, "
        "operators/skew.py): the measurement step before choosing a "
        "join/groupBy strategy on a fact table — exact top-10 hottest "
        "events.user_id keys ((n DESC, key) total order, TakeOrdered "
        "plan — never a global key-space sort) plus a one-row skew "
        "report whose suggested_salt = ceil(max_n*n_keys/n_rows) is the "
        "salted_join salt that levels the hot key to the mean load; "
        "skew_ppm and the salt are decimal(38,0) DIV int64-exact "
        "(Spark DIV on decimal = DuckDB // on HUGEINT)."
    ),
)
def table_maintenance_q(spark, sf):
    dq = data_quality_checks(spark, sf).select(
        F.lit("dq").alias("variant"),
        F.col("check").alias("k"),
        F.col("n_bad").alias("v1"),
        F.lit(None).cast("long").alias("v2"),
        F.lit(None).cast("string").alias("payload"),
    )
    scd2 = scd2_current_view_q(spark, sf).select(
        F.lit("scd2").alias("variant"),
        F.col("c_name").alias("k"),
        F.col("c_custkey").alias("v1"),
        F.col("bal_c").alias("v2"),
        F.concat_ws(
            "|",
            F.unix_timestamp("valid_from").cast("string"),
            F.coalesce(F.unix_timestamp("valid_to").cast("string"), F.lit("open")),
        ).alias("payload"),
    )
    roll = rollup_merge_on_read_q(spark, sf).select(
        F.lit("rollup").alias("variant"),
        F.col("event_type").alias("k"),
        F.col("n_partials").alias("v1"),
        F.col("n_events").alias("v2"),
        F.col("sum_value_c").cast("string").alias("payload"),
    )
    comp_plan = compaction_plan_orders_q(spark, sf)
    comp = comp_plan.select(
        F.lit("compact").alias("variant"),
        F.col("path").alias("k"),
        F.col("bin").alias("v1"),
        F.col("bytes").alias("v2"),
        F.col("part_year").cast("string").alias("payload"),
    )
    # the ops-facing summary: files + fill per bin — what an OPTIMIZE
    # journal row records (one tiny agg over the manifest, same plan)
    lc_stats, lc_rows, lc_plan = epoch_lifecycle_q(spark, sf)
    lifecycle = (
        lc_stats.select(
            F.lit("lifecycle").alias("variant"),
            F.col("column").alias("k"),
            F.col("min_v").alias("v1"),
            F.col("max_v").alias("v2"),
            F.concat(
                F.col("n_nulls").cast("string"),
                F.lit("|"),
                F.col("n_distinct").cast("string"),
            ).alias("payload"),
        )
        .unionByName(
            lc_rows.select(
                F.lit("lifecycle").alias("variant"),
                F.lit("rows").alias("k"),
                F.col("v1"),
                F.lit(None).cast("long").alias("v2"),
                F.lit(None).cast("string").alias("payload"),
            )
        )
        .unionByName(
            lc_plan.select(
                F.lit("lifecycle_plan").alias("variant"),
                F.col("path").alias("k"),
                F.col("bin").alias("v1"),
                F.col("bytes").alias("v2"),
                F.lit(None).cast("string").alias("payload"),
            )
        )
    )
    splitv = compaction_split_orders_q(spark, sf).select(
        F.lit("split").alias("variant"),
        F.col("path").alias("k"),
        F.col("split_k").alias("v1"),
        F.col("bytes").alias("v2"),
        F.concat(
            F.col("part_year").cast("string"), F.lit("#"), F.col("bin").cast("string")
        ).alias("payload"),
    )
    comp_bins = comp_plan.groupBy("part_year", "bin").agg(
        F.count(F.lit(1)).alias("n_files"), F.sum("bytes").alias("bin_bytes")
    ).select(
        F.lit("compact_bins").alias("variant"),
        F.concat(
            F.col("part_year").cast("string"), F.lit("#"), F.col("bin").cast("string")
        ).alias("k"),
        F.col("n_files").alias("v1"),
        F.col("bin_bytes").alias("v2"),
        F.col("part_year").cast("string").alias("payload"),
    )
    from tamer_spark.operators.skew import heavy_hitters, key_counts, skew_summary

    e = _t(spark, sf, "events")
    # ONE count shuffle feeds both profile variants
    counts = key_counts(e, "user_id")
    hh = heavy_hitters(e, "user_id", 10, counts=counts).select(
        F.lit("profile_hh").alias("variant"),
        F.col("key").cast("string").alias("k"),
        F.col("n").alias("v1"),
        F.col("rank").alias("v2"),
        F.lit("events.user_id").alias("payload"),
    )
    summ = skew_summary(e, "user_id", counts=counts).select(
        F.lit("profile_summary").alias("variant"),
        F.lit("events.user_id").alias("k"),
        F.col("n_keys").alias("v1"),
        F.col("n_rows").alias("v2"),
        # F.concat, NOT concat_ws: the oracle joins with '||' which
        # NULL-propagates, while concat_ws skips NULLs — on a degenerate
        # empty events table (skew_ppm/suggested_salt NULL) the payloads
        # must agree (both NULL), not diverge ('' vs NULL)
        F.concat(
            F.col("skew_ppm").cast("string"), F.lit("|"), F.col("suggested_salt").cast("string")
        ).alias("payload"),
    )
    from tamer_spark.operators.quality import column_stats

    o = _t(spark, sf, "orders")
    stats = column_stats(
        o,
        [
            ("o_orderkey", F.col("o_orderkey")),
            ("o_custkey", F.col("o_custkey")),
            ("price_c", cents("o_totalprice")),
            ("odate_epoch", F.unix_timestamp("o_orderdate").cast("long")),
        ],
    ).select(
        F.lit("stats").alias("variant"),
        F.col("column").alias("k"),
        F.col("min_v").alias("v1"),
        F.col("max_v").alias("v2"),
        F.concat(
            F.col("n_nulls").cast("string"), F.lit("|"), F.col("n_distinct").cast("string")
        ).alias("payload"),
    )
    from tamer_spark.operators.quality import column_stats_grouped

    pstats = column_stats_grouped(
        o.withColumn("_yr", F.year("o_orderdate").cast("long")),
        ["_yr"],
        [("price_c", cents("o_totalprice"))],
    ).select(
        F.lit("pstats").alias("variant"),
        F.concat(F.col("_yr").cast("string"), F.lit("#"), F.col("column")).alias("k"),
        F.col("min_v").alias("v1"),
        F.col("max_v").alias("v2"),
        F.concat(
            F.col("n_nulls").cast("string"), F.lit("|"), F.col("n_distinct").cast("string")
        ).alias("payload"),
    )
    return (
        dq.unionByName(scd2)
        .unionByName(roll)
        .unionByName(comp)
        .unionByName(comp_bins)
        .unionByName(splitv)
        .unionByName(lifecycle)
        .unionByName(stats)
        .unionByName(pstats)
        .unionByName(hh)
        .unionByName(summ)
    )


# _RUN_L is defined next to the text_cleaning_docs 'exsub' oracle (the
# removal and pair-detection gates share the window length deliberately).


@q(
    "substring_run_pairs",
    f"""
    WITH norm AS (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
                  FROM documents),
         ws AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
         wh AS (SELECT doc_id,
                 CASE WHEN len(w) - {_RUN_L - 1} <= 0 THEN []
                      ELSE list_transform(range(len(w) - {_RUN_L - 1}), i ->
                           ('0x' || substr(md5(array_to_string(w[i+1:i+{_RUN_L}], ' ')), 1, 15))::BIGINT)
                 END AS hs
                FROM ws),
         e0 AS (SELECT doc_id, unnest(hs) AS h,
                       CAST(generate_subscripts(hs, 1) AS BIGINT) AS pos FROM wh),
         e AS (SELECT doc_id, h, pos FROM (
            SELECT *, row_number() OVER (PARTITION BY h
                 ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT, doc_id, pos) AS slot
            FROM e0) WHERE slot <= 1000),
         grid AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                         a.pos AS pa, b.pos AS pb, h
                  FROM e a JOIN e b USING (h) WHERE a.doc_id < b.doc_id),
         runs AS (SELECT id_a, id_b, pa - pb AS d,
                         pa - row_number() OVER (PARTITION BY id_a, id_b, pa - pb ORDER BY pa) AS isl
                  FROM grid),
         rl AS (SELECT id_a, id_b, COUNT(*) AS run_windows
                FROM runs GROUP BY id_a, id_b, d, isl),
         mx AS (SELECT id_a, id_b, MAX(run_windows) AS mrw FROM rl GROUP BY id_a, id_b),
         sh AS (SELECT id_a, id_b, COUNT(DISTINCT h) AS n_shared_windows
                FROM grid GROUP BY id_a, id_b)
    SELECT sh.id_a, sh.id_b, sh.n_shared_windows,
           CAST(mx.mrw + {_RUN_L - 1} AS BIGINT) AS max_run_tokens
    FROM sh JOIN mx USING (id_a, id_b)
    """,
    doc=(
        "Exact verbatim-substring-run dedup (the ExactSubstr class, Lee et "
        f"al. 2021; operators/runs.py) at L={_RUN_L} tokens: every "
        "document pair sharing a verbatim L-token window, with the longest "
        "shared run measured EXACTLY via diagonal gaps-and-islands over "
        "the matched (pos_a, pos_b) grid — the policy signal (drop/trim "
        "the longer run) suffix-array dedup provides, re-expressed as "
        "map-only rolling window hashes + a posting-list equi-join (hot "
        "windows capped by deterministic hash-rank retention, modeled in "
        "the oracle) + keyed run aggregation. Unlike winnowing this keeps "
        "every window hash: exact counts and run lengths, no sampling."
    ),
)
def substring_run_pairs_q(spark, sf):
    from tamer_spark.operators.runs import substring_run_pairs

    return substring_run_pairs(
        _t(spark, sf, "documents", floor=True), length=_RUN_L, min_windows=1, max_posting=1000
    )


@q(
    "contamination_score_docs",
    f"""
    WITH {_shingle_ctes()},
    corp AS (SELECT doc_id, unnest(shingles) AS s FROM sh WHERE doc_id % 50 <> 0),
    bench AS (SELECT DISTINCT unnest(shingles) AS s FROM sh WHERE doc_id % 50 = 0)
    SELECT doc_id, COUNT(*) AS n_shingles,
           CAST(COUNT(*) FILTER (WHERE s IN (SELECT s FROM bench)) AS BIGINT) AS n_contaminated,
           (1000000 * COUNT(*) FILTER (WHERE s IN (SELECT s FROM bench))) // COUNT(*) AS contamination_ppm
    FROM corp GROUP BY doc_id
    """,
    doc=(
        "Fractional benchmark-contamination scoring (GPT-3 appendix-C / "
        "PaLM dirty-fraction; operators/contamination.py): for every "
        "corpus doc, the exact share of its 3-gram shingles found in the "
        "benchmark slice (doc_id %% 50 == 0, the decontaminate_docs "
        "convention) as integer ppm — the GRADED signal binary "
        "decontamination lacks (one common phrase vs a quoted answer "
        "key). Benchmark set broadcast; membership rides the hash join "
        "JVM-side; one per-doc agg keyed on the id — scan-dominated at "
        "any corpus size; int64 floor-division, bit-identical cross-"
        "engine."
    ),
)
def contamination_score_docs_q(spark, sf):
    from tamer_spark.operators.contamination import contamination_score

    d = _t(spark, sf, "documents")
    return contamination_score(
        d.filter(F.col("doc_id") % 50 != 0), d.filter(F.col("doc_id") % 50 == 0), n=_N
    )


# ---------------------------------------------------------------------------
# Standalone shapes for entries merged into tagged-union gates by the r6
# window re-pack (the driver verifies only the first 50 registry entries).
# bench.py, perfbench and scripts/ resolve the STANDALONE query — the union
# wrapper would blur what each number measures. STANDALONE holds only the
# names they resolve (tests/test_public_names.py pins that).
# ---------------------------------------------------------------------------

# Standalone builder for an r12-continuation family (a cold shape — no
# persist/memo). Kept out of the 50-gate REGISTRY window: it is graded
# through its host tagged-union gate.
def vocab_growth_docs_q(spark, sf):
    from tamer_spark.operators.drift import vocab_growth

    d = _t(spark, sf, "documents")
    mx = d.agg(F.expr("max(doc_id) div 10").alias("_w10"))
    db = d.crossJoin(F.broadcast(mx)).select(
        F.expr("doc_id div (_w10 + 1)").alias("vb"), "text"
    )
    return vocab_growth(db, "vb", n_window=64)


STANDALONE: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "asof_join_events_orders": asof_join_events_orders,
    "window_topk_quartile": window_topk_quartile,
    "similarity_knn": similarity_knn_q,
    "similarity_knn_lsh": similarity_knn_lsh_q,
    "minhash_signatures": minhash_signatures_q,
    "dedup_simhash": dedup_simhash_q,
    "tfidf_top_terms": tfidf_top_terms,
    "c4_clean_docs": c4_clean_docs_q,
    "scrub_pii_docs": scrub_pii_docs_q,
    "strip_markup_docs": strip_markup_docs_q,
    "line_dedup_docs": line_dedup_docs_q,
    "exsub_dedup_docs": exsub_dedup_docs_q,
    "url_dedup_docs": url_dedup_docs_q,
    "domain_rollup_docs": domain_rollup_docs_q,
    "fix_encoding_docs": fix_encoding_docs_q,
    "seeded_shuffle_docs": seeded_shuffle_docs_q,
    "hard_negatives": hard_negatives_q,
    "contrastive_pairs": contrastive_pairs_q,
    "bm25_topk_docs": bm25_topk_docs_q,
    "hybrid_retrieval_rrf": hybrid_retrieval_rrf_q,
    "pack_sequences": pack_sequences_q,
    "dsir_select_docs": dsir_select_docs_q,
    "funnel_view_click_purchase": funnel_view_click_purchase_q,
    "cohort_retention_weekly": cohort_retention_weekly_q,
    "winnow_overlap_pairs_docs": winnow_overlap_pairs_docs_q,
    "temperature_mix_langs": temperature_mix_langs_q,
    "budget_cap_sources": budget_cap_sources_q,
    "skipgram_top_pairs": skipgram_top_pairs,
    "heavy_hitters_docs": heavy_hitters_docs_q,
    "global_percentiles_orders": global_percentiles_orders_q,
    "grouped_percentiles_orders": grouped_percentiles_orders_q,
    "vocab_growth_docs": vocab_growth_docs_q,
}


def resolve_query(name: str) -> Callable[[SparkSession, str], DataFrame]:
    """Resolve ``name`` to a query builder: the standalone shape if the r6
    re-pack merged it into a union gate, else the registry entry."""
    if name in STANDALONE:
        return STANDALONE[name]
    return REGISTRY[name].spark
