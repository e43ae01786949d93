"""The two batch workloads: curation / analytics queries written in full.

Every query is built through the program's own registry (``bench.HEADLINE``
where it holds a builder, else ``queries.resolve_query``) and its full
result is collected (``toPandas``), so every output column is computed
(``df.count()`` would let Catalyst prune them). The collected result is
hashed after the clock stops and checked, so the output check covers the
very results that were timed. One *pass* runs every query of the workload
once; a measured window repeats passes.

The inputs are generated from a fixed seed, not the run's ``--seed``, so
that queries without a DuckDB oracle can be checked against a digest
committed with the benchmark (``digests.json``).
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time
import traceback
from typing import Any

import fixtures as FX
from tracing import Tracer, catalyst_ms, count_jobs, median, pct

BATCH_SEED = 42
HERE = os.path.dirname(os.path.abspath(__file__))
DIGESTS = os.path.join(HERE, "digests.json")


def builder(name: str):
    import bench
    from tamer_spark.queries import resolve_query

    return bench.HEADLINE.get(name) or resolve_query(name)


def oracle_sql(name: str) -> str | None:
    """The registry's DuckDB oracle, if it grades the builder we run."""
    import bench
    from tamer_spark.queries import REGISTRY

    if bench.HEADLINE.get(name) is not None or name not in REGISTRY:
        return None
    return REGISTRY[name].oracle


def digest(pdf: Any) -> str:
    """Order-insensitive digest of a full result (``oracle.canonical_rows``)."""
    from tamer_spark.oracle import canonical_rows

    h = hashlib.sha256(json.dumps(sorted(pdf.columns)).encode())
    for row in canonical_rows(pdf):
        h.update(json.dumps(row, ensure_ascii=False).encode())
    return h.hexdigest()


class Passes:
    """Per-pass walls, per-query times and result digests of one window."""

    def __init__(self) -> None:
        self.walls: list[float] = []
        self.op_ms: list[float] = []
        self.digests: dict[str, list[str | None]] = {}  # None: the query raised

    @property
    def epochs(self) -> int:
        return len(self.op_ms)


class BatchWorkload:
    """Runs ``queries`` (name -> input tables) over tables generated at ``scale``."""

    name = ""
    queries: dict[str, tuple[str, ...]] = {}
    scale = 0.01
    # passes before timing: the cold one and one more; the JIT keeps
    # shortening passes for ~60 s, which the time budget cannot wait for
    warm_runs = 2

    def __init__(self, work: str, seed: int) -> None:
        # the run's seed is recorded but does not shape these inputs
        self.work, self.seed = work, seed
        self.tables_dir = os.path.join(work, "tables")
        self.rows: dict[str, int] = {}
        self._want: dict[str, str | None] = {}

    def prepare(self, spark: Any) -> None:
        tables = FX.batch_tables(BATCH_SEED, self.scale)
        FX.write_batch_tables(tables, self.tables_dir)
        self.rows = {k: t.num_rows for k, t in tables.items()}

    def close(self, spark: Any) -> None:
        pass

    @property
    def input_rows(self) -> int:
        return sum(self.rows[t] for tabs in self.queries.values() for t in tabs)

    def _query(self, spark: Any, name: str, tracer: Tracer | None) -> Any:
        build = builder(name)
        if tracer is None:
            return build(spark, self.tables_dir).toPandas()
        sc = spark.sparkContext
        group = f"perfbench-build-{name}-{len(tracer.spans)}"
        sc.setJobGroup(group, "perfbench build")
        with tracer.span(f"queries.{name}.build"):
            df = build(spark, self.tables_dir)
        sc.setLocalProperty("spark.jobGroup.id", None)
        tracer.spans[-1]["jobs"] = count_jobs(spark, group)
        with tracer.span(f"queries.{name}.plan") as span:
            span["catalyst_ms"] = catalyst_ms(df)
        with tracer.span(f"queries.{name}.exec"):
            return df.toPandas()

    def measure(self, spark: Any, seconds: float, tracer: Tracer | None = None) -> Passes:
        passes = Passes()
        t_end = time.perf_counter() + seconds
        while not passes.walls or time.perf_counter() < t_end:
            wall = 0.0
            for name in self.queries:
                t0 = time.perf_counter()
                try:
                    pdf = self._query(spark, name, tracer)
                except Exception:  # noqa: BLE001 — a raising query is a failed operation
                    traceback.print_exc()
                    pdf = None
                ms = (time.perf_counter() - t0) * 1000
                passes.op_ms.append(ms)
                wall += ms / 1000
                passes.digests.setdefault(name, []).append(None if pdf is None else digest(pdf))
            passes.walls.append(wall)
        return passes

    def e2e(self, passes: Passes) -> dict[str, float]:
        wall = median(passes.walls)
        return {
            "rows_per_s": self.input_rows / wall,
            "epoch_ms_p50": pct(passes.op_ms, 50),
            "epoch_ms_p90": pct(passes.op_ms, 90),
            "wall_s": wall,
        }

    def attempted(self, passes: Passes) -> int:
        return passes.epochs

    # -- output check ------------------------------------------------------
    def expected(self, name: str) -> str | None:
        """Reference digest: the DuckDB oracle's result over the same
        tables where the registry has one, else the committed digest."""
        if name not in self._want:
            sql = oracle_sql(name)
            if sql is None:
                with open(DIGESTS, encoding="utf-8") as f:
                    self._want[name] = json.load(f).get(self.name, {}).get(name)
            else:
                import duckdb

                con = duckdb.connect()
                try:
                    for t in self.rows:
                        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.tables_dir}/{t}.parquet'")
                    self._want[name] = digest(con.execute(sql).df())
                finally:
                    con.close()
        return self._want[name]

    def check(self, spark: Any, passes: Passes) -> int:
        """Query runs that raised or whose result differs from the reference."""
        failed = 0
        for name, got in passes.digests.items():
            bad = sum(1 for d in got if d is None or d != self.expected(name))
            if bad:
                print(f"perfbench: {self.name}/{name}: {bad} of {len(got)} results wrong", file=sys.stderr)
            failed += bad
        return failed

    # -- per-layer metrics (traced window) ---------------------------------
    def layers(self, passes: Passes, tracer: Tracer) -> dict[str, float]:
        out: dict[str, float] = {}
        for name in self.queries:
            spans = {k: [s for s in tracer.spans if s["name"] == f"queries.{name}.{k}"] for k in ("build", "plan", "exec")}
            out[f"queries.{name}.build_s"] = median([(s["end"] - s["start"]) for s in spans["build"]])
            out[f"queries.{name}.build_jobs"] = median([s["jobs"] for s in spans["build"]])
            out[f"queries.{name}.plan_ms"] = median([s["catalyst_ms"] for s in spans["plan"]])
            out[f"queries.{name}.exec_s"] = median([(s["end"] - s["start"]) for s in spans["exec"]])
        return out


class CurateText(BatchWorkload):
    name = "curate_text"
    scale = 0.01
    queries = {q: ("documents",) for q in (
        "gopher_full", "c4_clean_docs", "text_profile", "dedup_minhash_lsh", "exsub_dedup_docs",
    )}


class AnalyticsShuffle(BatchWorkload):
    name = "analytics_shuffle"
    scale = 0.01
    queries = {
        "q1_pricing_summary": ("lineitem",),
        "q5_region_revenue": ("customer", "orders", "lineitem", "supplier", "nation", "region"),
        "tfidf_top_terms": ("documents",),
        "funnel_view_click_purchase": ("events",),
        "grouped_percentiles_orders": ("orders",),
    }
