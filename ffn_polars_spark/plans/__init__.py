"""Physical-plan inspection.

The reference delegates all optimization to the Polars engine (SURVEY.md §4);
on Spark, Catalyst does that — but only if operators are declared so its
rules apply. This module turns the scale checklist (filters reach the scan,
columns pruned, small dims broadcast, no redundant exchanges) into
assertable properties used by tests/test_plans.py, so a regression that
breaks pushdown or adds a shuffle fails CI instead of surfacing as a 100 TB
slowdown.

Everything here reads the JVM plan tree — node classes, their fields and
their own expressions — through one walker, ``plan_nodes``. Explain text is
a rendering, not a contract: it prints a cached AQE plan twice (final and
initial plan) and its layout changes between Spark versions.
"""

from __future__ import annotations

import json
from typing import Iterator, List

from pyspark import SparkContext
from pyspark.sql import DataFrame


def as_list(s) -> list:
    """A Scala Seq (a node's children, a scan's partition filters, ...) as a
    Python list of JVM objects."""
    return [s.apply(i) for i in range(s.size())]


class Node:
    """One JVM plan node: its class name (``ShuffleExchangeExec``,
    ``WindowExec``, ``Project``, ...), the JVM object, and the nodes the
    walker reached through it."""

    __slots__ = ("name", "jvm", "children")

    def __init__(self, name: str, jvm) -> None:
        self.name = name
        self.jvm = jvm
        self.children: List[Node] = []

    def walk(self) -> Iterator["Node"]:
        """This node, then every node below it (pre-order)."""
        yield self
        for c in self.children:
            yield from c.walk()

    def descendants(self) -> List["Node"]:
        return [n for c in self.children for n in c.walk()]

    def exprs(self) -> List[str]:
        """This node's own expressions (not its children's), as strings."""
        return [e.toString() for e in as_list(self.jvm.expressions())]

    def expr_classes(self) -> List[str]:
        """Class names (``StringSplit``, ``ArrayTransform``, ...) of every
        expression node in this node's own expressions, in pre-order
        (``TreeNode.toJSON`` lists a tree's nodes that way). Classes, not
        text: an attribute NAMED after an expression (an aggregate's result
        column ``sum(size(split(...)))``) evaluates nothing."""
        return [
            x["class"].rsplit(".", 1)[-1]
            for e in as_list(self.jvm.expressions())
            for x in json.loads(e.toJSON())
        ]

    def __repr__(self) -> str:
        return f"Node({self.name})"


def plan_nodes(plan, cached: bool = True) -> List[Node]:
    """Every node of a plan tree, each JVM node once, in pre-order.

    ``plan`` is a DataFrame (its physical plan) or a JVM plan object such as
    ``df._jdf.queryExecution().optimizedPlan()``. The walk follows
    ``children``, ``innerChildren`` and ``subqueries``; an
    ``AdaptiveSparkPlanExec`` continues into its current ``executedPlan``
    (the final plan once it ran) and a query stage into its ``plan``. A
    JVM node with several parents (a cached plan read by several scans) is
    listed once but is a child of each parent, so every parent's
    ``descendants()`` include it. ``cached=False`` does not enter the plans
    under cached relations: they run once, to fill the cache, and every
    later read scans the cache.
    """
    if isinstance(plan, DataFrame):
        plan = plan._jdf.queryExecution().executedPlan()
    identity = SparkContext._jvm.java.lang.System.identityHashCode
    seen = {}
    out: List[Node] = []

    def visit(j):
        name = j.getClass().getSimpleName()
        key = (name, identity(j))
        if key in seen:
            return seen[key]
        node = seen[key] = Node(name, j)
        out.append(node)
        if name == "AdaptiveSparkPlanExec":
            below = [j.executedPlan()]
        elif name.endswith("QueryStageExec"):
            below = [j.plan()]
        else:
            below = as_list(j.children())
            if cached:
                below += as_list(j.innerChildren())
            below += as_list(j.subqueries())
        node.children = [visit(c) for c in below]
        return node

    visit(plan)
    return out


def has_join(plan) -> bool:
    """Whether any node joins (a ``*JoinExec``, a logical ``Join`` or a
    cartesian product)."""
    return any(
        "Join" in n.name or n.name == "CartesianProductExec" for n in plan_nodes(plan)
    )


def evaluating(plan, expr_class: str) -> List[Node]:
    """Nodes whose own expressions contain an expression of class
    ``expr_class``. File scans are left out: their data filters repeat the
    condition of the Filter above them, which is the node that evaluates
    it."""
    return [
        n
        for n in plan_nodes(plan)
        if "Scan" not in n.name and expr_class in n.expr_classes()
    ]


def count_exchanges(df: DataFrame) -> int:
    """Shuffle exchanges in the physical plan. A reused exchange does not
    re-shuffle and is not counted; broadcast exchanges ship a small table,
    not a data-sized shuffle, and are counted by count_broadcast_joins."""
    return sum(n.name == "ShuffleExchangeExec" for n in plan_nodes(df))


def count_broadcast_joins(df: DataFrame) -> int:
    return sum(
        n.name in ("BroadcastHashJoinExec", "BroadcastNestedLoopJoinExec")
        for n in plan_nodes(df)
    )


def _file_scans(df: DataFrame) -> List[Node]:
    return [n for n in plan_nodes(df) if n.name == "FileSourceScanExec"]


def pushed_filters(df: DataFrame) -> List[str]:
    """The non-empty PushedFilters list of every file scan, brackets off."""
    out = []
    for n in _file_scans(df):
        filters = n.jvm.metadata().apply("PushedFilters")[1:-1]
        if filters.strip():
            out.append(filters)
    return out


def partition_filters(df: DataFrame) -> List[str]:
    """Every partition filter of every file scan (directory pruning)."""
    return [
        f.toString() for n in _file_scans(df) for f in as_list(n.jvm.partitionFilters())
    ]


def read_schemas(df: DataFrame) -> List[str]:
    """The read schema of every file scan as a ``struct<...>`` string
    (column-pruning check)."""
    return [n.jvm.requiredSchema().catalogString() for n in _file_scans(df)]
