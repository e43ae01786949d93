"""Physical-plan inspection — makes the scale posture assertable.

"Would this survive a 100× scale-up" is a property of the physical plan:
small dims must broadcast (no shuffle of the fact table for a dim join),
filters and projections must reach the parquet scan (PushedFilters /
ReadSchema), and shuffle count should match the query's intrinsic needs.
tests/test_plans.py and the operator tests pin these properties so a
regression (e.g. a lost broadcast hint turning a dim join into a sort-merge
of the fact table) fails CI, not the cluster.

``plan_shape`` is the one structural inspector: it walks the Java plan tree
of ``queryExecution().executedPlan()`` — never its string form, which under
AQE repeats the whole tree under "== Initial Plan ==" once the DataFrame
has run and so double-counts every node. The walk descends through
``AdaptiveSparkPlanExec`` (its current plan), every query stage, cached
relations (``InMemoryTableScan`` → the cached plan) and subqueries; a
``ReusedExchange`` is counted as its own node and not descended. It reads
the plan the DataFrame currently holds: the initial plan before execution,
the final adaptive plan after it. Execution wrappers that only a prepared
plan carries (WholeStageCodegen, InputAdapter, ColumnarToRow,
AQEShuffleRead) are walked through, not counted, so an operator's counts
change across execution only where AQE really re-planned it.

Pins on text that is not a node name (PushedFilters, ReadSchema, join
types, aggregate function names) stay on ``explain_str``.
"""

from __future__ import annotations

import re
from collections import Counter
from dataclasses import dataclass

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


@dataclass(frozen=True)
class PlanShape:
    #: node name → count (``nodeName()``, e.g. "Exchange", "BroadcastHashJoin",
    #: "Window", "Scan parquet")
    nodes: Counter
    #: ``outputPartitioning()`` of each shuffle Exchange, e.g.
    #: "hashpartitioning(doc_id#3L, 4)", "SinglePartition",
    #: "RoundRobinPartitioning(4)"; broadcasts are not shuffles
    exchanges: tuple[str, ...]

    @property
    def shuffles(self) -> int:
        """Keyed shuffles (hash / range / single partition). A round-robin
        repartition (the scan parallelism floor) moves rows without a key
        and is not counted."""
        return sum(not p.startswith("RoundRobinPartitioning") for p in self.exchanges)

    @property
    def hash_keys(self) -> list[str]:
        """The partitioning of every hash-partitioned shuffle."""
        return [p for p in self.exchanges if p.startswith("hashpartitioning")]

    def count(self, *names: str) -> int:
        return sum(self.nodes[n] for n in names)


def _seq(jseq) -> list:
    it = jseq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


_WRAPPERS = {"WholeStageCodegenExec", "InputAdapter", "ColumnarToRowExec", "AQEShuffleReadExec"}


def plan_shape(df: DataFrame) -> PlanShape:
    nodes: Counter = Counter()
    exchanges: list[str] = []
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        plan = stack.pop()
        cls = plan.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(plan.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(plan.plan())
            continue
        if cls not in _WRAPPERS:
            nodes[plan.nodeName().strip()] += 1
        if cls == "ReusedExchangeExec":
            continue
        if cls == "ShuffleExchangeExec":
            exchanges.append(plan.outputPartitioning().toString())
        elif cls == "InMemoryTableScanExec":
            stack.append(plan.relation().cachedPlan())
        stack.extend(_seq(plan.subqueries()))
        stack.extend(_seq(plan.children()))
    return PlanShape(nodes, tuple(exchanges))


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters entries from every parquet scan in the plan."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[(.*?)\]", explain_str(df)):
        entry = m.group(1).strip()
        if entry:
            out.extend(p.strip() for p in entry.split(","))
    return out


def read_schema_columns(df: DataFrame) -> list[set[str]]:
    """Column sets actually read by each scan (ReadSchema) — column-pruning
    evidence: a 2-column projection must not scan 16 columns."""
    out = []
    for m in re.finditer(r"ReadSchema: struct<(.*?)>", explain_str(df)):
        cols = {c.split(":")[0].strip() for c in m.group(1).split(",") if c.strip()}
        out.append(cols)
    return out
