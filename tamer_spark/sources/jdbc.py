"""JDBC incremental source with tumbling event-time windows.

Re-expresses the reference `db` module (db/src/main/scala/tamer/db/
DbSetup.scala): state = a time window ``(from, to]``; each iteration runs the
user's SQL with the window pushed down as predicates; the window advances by
the reference's fold rules (DbSetup.scala:109-118):

- batch non-empty → next window starts at the **max timestamp seen** (no
  gaps, no re-reads even when rows arrive mid-window),
- batch empty → slide forward by ``tumbling_step``,
- the window's upper bound never passes ``now - lag`` (the watermark-style
  guard, db/src/main/scala/tamer/db/package.scala:37-41).

Spark-first improvements over the reference (single connection, chunked
fetch, DbSetup.scala:59-63):

- the windowed SQL goes to ``spark.read.jdbc`` as a derived table, so the
  source database applies the predicates (total pushdown by construction —
  same property as the reference's user-SQL model),
- ``fetchsize`` maps to the JDBC cursor chunk (QUERY_FETCH_CHUNK_SIZE,
  db/config.scala:27).

Each window is read as ONE JDBC partition (one connection, like the
reference): Spark splits a JDBC read only given ``partitionColumn`` /
``lowerBound`` / ``upperBound``, which this source does not set. At 100
TB-of-history scale the initial backfill is just successive windows;
window length bounds per-batch memory — tune ``step`` so a window is a
partition-sized read.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tamer_spark.engine import pin
from tamer_spark.state import fingerprint


@dataclass(frozen=True)
class TimeWindow:
    """Half-open-from-the-left window ``(from_ts, to_ts]`` (reference
    db/model.scala:39-48)."""

    from_ts: datetime
    to_ts: datetime

    def to_state(self) -> dict:
        return {"from": self.from_ts.isoformat(), "to": self.to_ts.isoformat()}

    @staticmethod
    def from_state(d: dict) -> "TimeWindow":
        return TimeWindow(datetime.fromisoformat(d["from"]), datetime.fromisoformat(d["to"]))


def utcnow() -> datetime:
    return datetime.now(timezone.utc)


def advance_window(
    window: TimeWindow,
    max_ts: datetime | None,
    step: timedelta,
    lag: timedelta = timedelta(0),
    now: datetime | None = None,
) -> TimeWindow:
    """Pure window-advance fold (DbSetup.scala:109-118).

    ``max_ts`` is the max event time in the batch (None = empty batch).
    Upper bounds are capped at ``now - lag``; if the cap leaves a
    non-positive range the same window is returned (no progress — caller
    sleeps and retries, replacing the reference's blocking wait).
    """
    now = now or utcnow()
    cap = now - lag
    new_from = max_ts if max_ts is not None else window.to_ts
    new_to = min(new_from + step, cap)
    if new_to <= new_from:
        return window
    return TimeWindow(new_from, new_to)


@dataclass
class JdbcTumblingSource:
    """Windowed JDBC pull: ``SELECT ... WHERE ts > :from AND ts <= :to``.

    ``query_template`` must contain ``{from_ts}`` / ``{to_ts}`` placeholders
    (rendered as ISO timestamp literals), mirroring the reference's
    state-parameterized user SQL (example DatabaseSimple.scala:37).
    """

    url: str
    query_template: str
    ts_column: str
    from_ts: datetime
    step: timedelta = timedelta(minutes=5)  # reference default, DbSetup.scala:104
    lag: timedelta = timedelta(0)
    properties: dict = field(default_factory=dict)
    fetchsize: int = 10_000
    now_fn: Callable[[], datetime] = utcnow
    # test seam: replaces spark.read.jdbc (no database in CI); same contract:
    # (spark, rendered_sql) -> DataFrame
    read_sql: Callable[[SparkSession, str], DataFrame] | None = None

    def initial_state(self) -> Any:
        return TimeWindow(self.from_ts, self.from_ts + self.step).to_state()

    def state_fingerprint(self) -> str:
        # identity = query template + initial state (DbSetup.scala:44-48)
        return fingerprint("jdbc-tumbling", self.url, self.query_template, self.from_ts)

    def render_sql(self, window: TimeWindow) -> str:
        return self.query_template.format(
            from_ts=window.from_ts.isoformat(sep=" "), to_ts=window.to_ts.isoformat(sep=" ")
        )

    def _read(self, spark: SparkSession, sql: str) -> DataFrame:
        if self.read_sql is not None:
            return self.read_sql(spark, sql)
        props = {"fetchsize": str(self.fetchsize), **self.properties}
        reader = (
            spark.read.format("jdbc")
            .option("url", self.url)
            .option("dbtable", f"({sql}) tamer_window")
        )
        for k, v in props.items():
            reader = reader.option(k, v)
        return reader.load()

    def iteration(self, state: Any, spark: SparkSession) -> tuple[DataFrame | None, Any]:
        window = TimeWindow.from_state(state)
        # Pin the batch and read its max timestamp in the same pass: the
        # windowed query hits the live database once per epoch — one
        # map-only job fills the cache while an observed max(ts) rides
        # along, and the engine's pin + the sink write reuse this pinned
        # object (the engine unpins after the write). Reading max(ts) in a
        # second query instead would let rows committed in between make the
        # written batch diverge from the max_ts that advanced the window —
        # duplicates at lag=0. (Cache loss on executor failure recomputes
        # from lineage and re-touches the database — best-effort, not a hard
        # guarantee; a non-zero `lag` bounds the divergence that can produce.)
        # The batch goes to the engine even when empty: the engine releases
        # every batch it receives, and a failed pin released it already.
        df = self._read(spark, self.render_sql(window))
        max_ts = pin(df, mx=F.max(self.ts_column))["mx"]
        if max_ts is not None and max_ts.tzinfo is None:
            max_ts = max_ts.replace(tzinfo=timezone.utc)
        return df, advance_window(window, max_ts, self.step, self.lag, self.now_fn()).to_state()
