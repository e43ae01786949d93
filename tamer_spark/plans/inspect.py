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
relations (``InMemoryTableScan`` → the cached plan, each cached plan once
by JVM identity however many scans reference it, since it runs once) and
subqueries; a ``ReusedExchange`` is counted as its own node and not
descended. It reads the plan the DataFrame currently holds: the initial
plan before execution, the final adaptive plan after it. Execution
wrappers that only a prepared plan carries (WholeStageCodegen,
InputAdapter, ColumnarToRow, AQEShuffleRead) are walked through, not
counted, so an operator's counts change across execution only where AQE
really re-planned it.

The same walk reads the file scans: ``read_schema_columns`` takes each
scan's required schema and ``pushed_filters`` its pushed source filters,
one entry per filter — the objects the explain text prints, not that
text split on commas (which cut struct types and multi-argument filters
apart). Pins on text that is neither (join types, aggregate function
names) stay on ``explain_str``.
"""

from __future__ import annotations

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


def _nodes(df: DataFrame):
    """Every operator of the plan ``df`` currently holds, execution wrappers
    walked through (see the module docstring for the walk)."""
    identity = df._sc._jvm.System.identityHashCode
    cached = set()  # the cached plans walked so far, by JVM identity
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
            yield plan
        if cls == "ReusedExchangeExec":
            continue
        if cls == "InMemoryTableScanExec":
            inner = plan.relation().cachedPlan()
            if identity(inner) not in cached:
                cached.add(identity(inner))
                stack.append(inner)
        stack.extend(_seq(plan.subqueries()))
        stack.extend(_seq(plan.children()))


def plan_shape(df: DataFrame) -> PlanShape:
    nodes: Counter = Counter()
    exchanges: list[str] = []
    for plan in _nodes(df):
        nodes[plan.nodeName().strip()] += 1
        if plan.getClass().getSimpleName() == "ShuffleExchangeExec":
            exchanges.append(plan.outputPartitioning().toString())
    return PlanShape(nodes, tuple(exchanges))


def _file_scans(df: DataFrame) -> list:
    return [p for p in _nodes(df) if p.getClass().getSimpleName() == "FileSourceScanExec"]


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters entries from every file scan in the plan, one per
    pushed source filter (e.g. ``GreaterThan(z,3)``, ``In(id, [1,2,3])``)."""
    return [f.toString() for scan in _file_scans(df) for f in _seq(scan.pushedDownFilters())]


def read_schema_columns(df: DataFrame) -> list[set[str]]:
    """Top-level columns actually read by each file scan (its required
    schema, the plan's ReadSchema) — column-pruning evidence: a 2-column
    projection must not scan 16 columns."""
    return [set(scan.requiredSchema().fieldNames()) for scan in _file_scans(df)]
