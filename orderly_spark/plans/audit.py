"""Plan audits: facts a test can assert about the physical plan Spark
will run — which filters reached the parquet scan, which columns are
read, whether a join broadcast, how many exchanges (shuffles) the plan
pays, how wide the codegen spans are, and which windows run with no
partition spec.

Every fact is read from the JVM plan tree, never from rendered text:
``audit`` walks ``df._jdf.queryExecution().executedPlan()`` into an
``AdaptiveSparkPlan``'s current plan, into each query stage's plan,
and through every node's ``children()`` and ``subqueries()``. A node
reached only another way (a cached relation's plan) is not audited.
Before a frame runs, an adaptive plan is its initial plan: exchanges
and scans are in place, whole-stage codegen is not yet inserted, so
callers asserting on ``n_codegen_spans`` build the frame with
``spark.sql.adaptive.enabled=false`` (see tests/test_plans.py). Once
it has run, an adaptive plan is its final plan, with the joins and
partitioning adaptive execution chose.
``PlanAudit.text`` keeps the formatted explain for substring asserts
and for reading.

These audits run in CI over the registered queries (tests/
test_plans.py): a regression that silently turns a broadcast join
into a sort-merge join, or drops a pushed filter (e.g. by wrapping a
column in a non-pushable expression), fails the build — on the 100 TB
cluster those regressions are the difference between minutes and
hours, and they never show up in small-SF correctness runs.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame

# the node name of every Python-boundary operator Spark 4.1 plans, not
# just scalar UDFs: a mapInPandas/applyInPandas/applyInArrow, a
# grouped-agg or window pandas UDF or a Python UDTF in a "codegen-only"
# query must trip the guard
_PYTHON_NODES = frozenset({
    "BatchEvalPython",
    "ArrowEvalPython",
    "MapInPandas",
    "MapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInPandas",
    "FlatMapCoGroupsInArrow",
    "ArrowAggregatePython",
    "ArrowWindowPython",
    "BatchEvalPythonUDTF",
    "ArrowEvalPythonUDTF",
})


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


@dataclass
class ScanInfo:
    location: str = ""
    pushed_filters: list[str] = field(default_factory=list)
    read_columns: list[str] = field(default_factory=list)
    partition_filters: list[str] = field(default_factory=list)


@dataclass
class PlanAudit:
    scans: list[ScanInfo]
    n_exchanges: int
    n_broadcast_joins: int
    n_sortmerge_joins: int
    n_codegen_spans: int
    has_python_udf: bool
    # for every Window with an empty partition spec, the name of the
    # operator it reads (a single-partition funnel unless that child is
    # already bounded: a top-k or a limit)
    global_windows: list[str]
    text: str

    def scan_for(self, table: str) -> ScanInfo | None:
        for s in self.scans:
            if table in s.location:
                return s
        return None


def _seq(s) -> list:
    """A py4j handle on a Scala ``Seq`` as a Python list."""
    return [s.apply(i) for i in range(s.size())]


def _nodes(jvm, node, seen: set[int]):
    """Yield ``(node, nodeName)`` for every operator Spark runs for the
    plan rooted at ``node``, the operators of its subqueries included.
    ``seen`` holds the identity hashes of the adaptive plans walked: two
    operators can host one adaptive subquery plan, which runs once."""
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        key = jvm.System.identityHashCode(node)
        if key not in seen:
            seen.add(key)
            yield from _nodes(jvm, node.executedPlan(), seen)
        return
    yield node, name
    stage = [node.plan()] if name.endswith("QueryStage") else []
    for inner in stage + _seq(node.children()) + _seq(node.subqueries()):
        yield from _nodes(jvm, inner, seen)


def _pushed_filters(jvm, scan) -> list[str]:
    """The source filters Spark hands ``scan``'s parquet reader, each
    data filter translated as ``FileSourceScanLike.pushedDownFilters``
    translates it. A filter holding a scalar subquery is translated
    only once the subquery has run, with its value, so it is left out
    here; ``pushedDownFilters`` itself would raise on it before the
    frame runs."""
    ds = jvm.org.apache.spark.sql.execution.datasources
    strategy, utils = (getattr(getattr(ds, f"{o}$"), "MODULE$") for o in ("DataSourceStrategy", "DataSourceUtils"))
    nested = utils.supportNestedPredicatePushdown(scan.relation())
    subquery = jvm.org.apache.spark.sql.catalyst.trees.TreePattern.SCALAR_SUBQUERY()
    out = []
    for e in _seq(scan.dataFilters()):
        if not e.containsPattern(subquery):
            f = strategy.translateFilter(e, nested)
            if f.isDefined():
                out.append(f.get().toString())
    return out


def _read_child(window) -> str:
    """nodeName of the operator a window reads: codegen wrappers are
    not operators of their own."""
    node = window.child()
    while True:
        name = node.nodeName()
        if name.startswith("WholeStageCodegen") or name == "InputAdapter":
            node = node.child()
        else:
            return name


def audit(df: DataFrame) -> PlanAudit:
    names: list[str] = []
    scans: list[ScanInfo] = []
    codegen_ids: set[int] = set()
    global_windows: list[str] = []
    jvm = df._sc._jvm
    for node, name in _nodes(jvm, df._jdf.queryExecution().executedPlan(), set()):
        names.append(name)
        if name.startswith("Scan parquet"):
            roots = node.relation().location().rootPaths()
            scans.append(
                ScanInfo(
                    location=roots.head().toString() if roots.nonEmpty() else "",
                    pushed_filters=_pushed_filters(jvm, node),
                    read_columns=list(node.requiredSchema().fieldNames()),
                    partition_filters=[e.toString() for e in _seq(node.partitionFilters())],
                )
            )
        elif name.startswith("WholeStageCodegen"):
            codegen_ids.add(node.codegenStageId())
        elif name == "Window" and node.partitionSpec().isEmpty():
            global_windows.append(_read_child(node))
    return PlanAudit(
        scans=scans,
        n_exchanges=names.count("Exchange"),
        n_broadcast_joins=sum(n in ("BroadcastHashJoin", "BroadcastNestedLoopJoin") for n in names),
        n_sortmerge_joins=names.count("SortMergeJoin"),
        n_codegen_spans=len(codegen_ids),
        has_python_udf=not _PYTHON_NODES.isdisjoint(names),
        global_windows=global_windows,
        text=formatted_plan(df),
    )
