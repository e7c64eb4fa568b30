"""The one plan-inspection module: every plan-shape check in the tests,
the tools (``tools/dump_plans.py``) and ``bench.py``'s global-window
warning attribution walks plans with ``nodes`` / ``expressions`` and
asserts on node classes and fields, never on explain text.

It also holds the bounded-subtree heuristic of the registry-wide
lints.  A ``Window`` with an empty partitionSpec serializes its whole
input through one task — Spark logs ``WindowExec: No Partition
Defined`` per occurrence.  The repo allows that shape only over
provably bounded frames; this module is the single definition of
"bounded" so the test lint and the bench-tail attribution can never
drift apart.
"""

from __future__ import annotations

from collections import Counter

# TPC-H fact-side key columns: any subtree whose string form references
# one of these scales with SF unless something bounds it.  SF_KEY_MARKERS
# additionally flags foreign-key columns whose DISTINCT still scales
# (`distinct o_custkey` is customer-sized — round-8 code-review finding).
SF_MARKERS = ("p_partkey", "s_suppkey", "c_custkey", "o_orderkey", "l_orderkey")
SF_KEY_MARKERS = SF_MARKERS + ("o_custkey", "l_partkey", "l_suppkey")

# window_ntile's global ntile runs over the SF-invariant
# `o_orderkey < 5000` slice (the partitioned at-scale variant is
# computed alongside — relational.py docstring); the slice references
# o_orderkey, so the marker heuristic can't see its boundedness.
GLOBAL_WINDOW_ALLOWED = frozenset({"window_ntile"})


def seq(s) -> list:
    """A Scala ``Seq`` as a Python list."""
    return [s.apply(i) for i in range(s.size())]


def kind(node) -> str:
    return node.getClass().getSimpleName()


def plan_of(df, phase: str = "executedPlan"):
    """``df``'s plan at one ``QueryExecution`` phase: ``"analyzed"``,
    ``"optimizedPlan"`` or, by default, the physical ``"executedPlan"``."""
    return getattr(df._jdf.queryExecution(), phase)()


def is_python(node) -> bool:
    """A physical node that evaluates Python (UDF, pandas/Arrow map,
    grouped or window Python aggregate)."""
    return node.getClass().getName().startswith("org.apache.spark.sql.execution.python.")


def names(expr) -> set[str]:
    """Names of the attributes an expression references."""
    return {a.name() for a in seq(expr.references().toSeq())}


def tree(root):
    """Yield ``root`` and every descendant through ``children()`` only:
    a plain walk of one plan or expression tree."""
    stack = [root]
    while stack:
        node = stack.pop()
        yield node
        stack += seq(node.children())


def nodes(plan):
    """Yield every node of a logical or physical plan (a JVM ``QueryPlan``).

    An AQE wrapper leads to its current plan: before execution that is
    the initial plan with its exchanges, as explain prints it.  A
    materialized query stage leads to its plan.  Each
    ``InMemoryRelation`` is yielded once per read, then its cached plan
    is walked; a physical ``InMemoryTableScanExec`` leads to its
    relation.  Expression subqueries are walked too, such as the
    broadcast build of a dynamic-pruning filter.
    """
    stack = [plan]
    while stack:
        node = stack.pop()
        k = kind(node)
        if k == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if k.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if k == "InMemoryTableScanExec":
            stack.append(node.relation())
        elif k == "InMemoryRelation":
            stack.append(node.cachedPlan())
        yield node
        stack += seq(node.children()) + seq(node.subqueries())


def kinds(plan) -> Counter:
    """How many nodes of each class ``nodes`` yields."""
    return Counter(kind(n) for n in nodes(plan))


def expressions(plan):
    """Yield every expression node of every plan node ``nodes`` yields."""
    for node in nodes(plan):
        for e in seq(node.expressions()):
            yield from tree(e)


def literal_aliases(plan) -> set[str]:
    """Columns the plan aliases to a constant (an ``Alias`` over a
    ``Literal``): a computed boolean that constant-folded, or was
    short-circuited to ``F.lit(True)``, reads this way."""
    return {
        e.name()
        for e in expressions(plan)
        if kind(e) == "Alias" and kind(e.child()) == "Literal"
    }


def subtree_bounded(root) -> bool:
    """A logical subtree is bounded iff it contains an Aggregate /
    GlobalLimit (its output keyspace, not the scan, is what flows on),
    or a Deduplicate whose dedup keys reference no SF-scaling key
    column (distinct order-status / calendar months / mod-m Bloom
    positions are domain-bounded).  Only the data-flow tree counts: an
    aggregate inside a subquery expression bounds nothing."""
    return any(
        kind(n) in ("Aggregate", "GlobalLimit")
        or (
            kind(n) == "Deduplicate"
            and not any(m in n.keys().toString() for m in SF_KEY_MARKERS)
        )
        for n in tree(root)
    )


def sf_scaling(root) -> bool:
    """The subtree references an SF-scaling TPC-H key and nothing
    bounds it (``subtree_bounded``)."""
    return any(m in root.toString() for m in SF_MARKERS) and not subtree_bounded(root)


def global_windows(analyzed) -> tuple[int, int]:
    """Count empty-partitionSpec Window nodes in an analyzed logical
    plan: ``(total, unbounded)``.  ``total`` is how many ``WindowExec:
    No Partition Defined`` warnings the query will emit at run time;
    ``unbounded`` counts the ones over an ``sf_scaling`` input (must be
    zero everywhere except GLOBAL_WINDOW_ALLOWED names)."""
    total = unbounded = 0
    for node in nodes(analyzed):
        if kind(node) == "Window" and node.partitionSpec().isEmpty():
            total += 1
            unbounded += sf_scaling(node.child())
    return total, unbounded
