"""Shared plan-shape rules: the bounded-subtree heuristic used by the
registry-wide lints (tests/test_plan_quality.py) AND by bench.py's
global-window warning attribution (VERDICT r8 item 6).

A ``Window`` with an empty partitionSpec serializes its whole input
through one task — Spark logs ``WindowExec: No Partition Defined``
per occurrence.  The repo allows that shape only over provably bounded
frames; this module is the single definition of "bounded" so the test
lint and the bench-tail attribution can never drift apart.
"""

from __future__ import annotations

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


def subtree_bounded(root) -> bool:
    """A logical subtree is bounded iff it contains an Aggregate /
    GlobalLimit (its output keyspace, not the scan, is what flows on),
    or a Deduplicate whose dedup keys reference no SF-scaling key
    column (distinct order-status / calendar months / mod-m Bloom
    positions are domain-bounded)."""
    stack = [root]
    while stack:
        n = stack.pop()
        kind = n.getClass().getSimpleName()
        if kind in ("Aggregate", "GlobalLimit"):
            return True
        if kind == "Deduplicate":
            if not any(m in n.keys().toString() for m in SF_KEY_MARKERS):
                return True
        cs = n.children()
        for i in range(cs.size()):
            stack.append(cs.apply(i))
    return False


def global_windows(analyzed) -> tuple[int, int]:
    """Count empty-partitionSpec Window nodes in an analyzed logical
    plan: ``(total, unbounded)``.  ``total`` is how many ``WindowExec:
    No Partition Defined`` warnings the query will emit at run time;
    ``unbounded`` counts the ones NOT justified by ``subtree_bounded``
    (must be zero everywhere except GLOBAL_WINDOW_ALLOWED names)."""
    total = unbounded = 0
    stack = [analyzed]
    while stack:
        node = stack.pop()
        if (
            node.getClass().getSimpleName() == "Window"
            and node.partitionSpec().isEmpty()
        ):
            total += 1
            sub = node.child().toString()
            if any(m in sub for m in SF_MARKERS) and not subtree_bounded(
                node.child()
            ):
                unbounded += 1
        cs = node.children()
        for i in range(cs.size()):
            stack.append(cs.apply(i))
    return total, unbounded


def physical_nodes(plan):
    """Yield every node of a physical plan, looking through AQE
    wrappers (their initial plan) and into each cached relation's plan
    (once per scan of it)."""
    stack = [plan]
    while stack:
        node = stack.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            stack.append(node.inputPlan())
            continue
        if kind == "InMemoryTableScanExec":
            stack.append(node.relation().cachedPlan())
        yield node
        cs = node.children()
        for i in range(cs.size()):
            stack.append(cs.apply(i))
