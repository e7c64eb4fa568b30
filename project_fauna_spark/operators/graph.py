"""Graph algorithms over relational edge lists.

Companion to ``dedup.dedup_connected_components`` (iterative min-label
propagation): here the classic *weighted iteration* algorithm —
PageRank — expressed as a bounded unrolled sequence of join+aggregate
rounds over an edge table derived from the warehouse.

Cross-engine exactness: PageRank is normally float-summed, which no
two engines reproduce bit-for-bit under parallel reduction.  This
implementation keeps ranks as scaled BIGINTs (1e9 = rank 1.0) and
distributes contributions with integer division — every operation is
exact, order-independent, and identical in Spark and DuckDB, so the
oracle checks VALUES, not just shape.  (At float precision the same
plan applies with decimal-accumulated sums.)

Scale design (100 TB):

* The edge list aggregates once (map-combined) to (src, dst, weight);
  each iteration is one shuffle join on src + one aggregate on dst —
  the standard distributed PageRank round.  Iterations are bounded
  (3), so the lazy plan stays shallow; a production loop would
  checkpoint every ~5 rounds to cut lineage, as
  ``dedup_connected_components`` does.
* Node and edge tables here are nation-level (tiny), but the plan
  never relies on that: no collect, no broadcast of ranks — rank
  updates flow through shuffles keyed on node id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from project_fauna_spark.cache import cached
from project_fauna_spark.io import load_table
from project_fauna_spark.plans.registry import register

_SCALE = 1_000_000_000  # rank 1.0 == 1e9 (integer PageRank scale)
_DAMP_NUM, _DAMP_DEN = 85, 100  # damping 0.85 as an exact ratio


@register(
    "graph_pagerank_trade",
    oracle=f"""
    WITH edges AS (
      SELECT c.c_nationkey AS src, s.s_nationkey AS dst
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE c.c_nationkey <> s.s_nationkey
      GROUP BY 1, 2
    ),
    outdeg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
    nodes AS (
      SELECT src AS node FROM edges UNION SELECT dst FROM edges
    ),
    r0 AS (SELECT node, CAST({_SCALE} AS BIGINT) AS r FROM nodes),
    r1 AS (
      SELECT n.node,
             (CAST({_SCALE} AS BIGINT) * ({_DAMP_DEN} - {_DAMP_NUM})) // {_DAMP_DEN}
             + ({_DAMP_NUM} * COALESCE(SUM(r0.r // od.d), 0)) // {_DAMP_DEN} AS r
      FROM nodes n
      LEFT JOIN edges e ON e.dst = n.node
      LEFT JOIN r0 ON r0.node = e.src
      LEFT JOIN outdeg od ON od.src = e.src
      GROUP BY n.node
    ),
    r2 AS (
      SELECT n.node,
             (CAST({_SCALE} AS BIGINT) * ({_DAMP_DEN} - {_DAMP_NUM})) // {_DAMP_DEN}
             + ({_DAMP_NUM} * COALESCE(SUM(r1.r // od.d), 0)) // {_DAMP_DEN} AS r
      FROM nodes n
      LEFT JOIN edges e ON e.dst = n.node
      LEFT JOIN r1 ON r1.node = e.src
      LEFT JOIN outdeg od ON od.src = e.src
      GROUP BY n.node
    ),
    r3 AS (
      SELECT n.node,
             (CAST({_SCALE} AS BIGINT) * ({_DAMP_DEN} - {_DAMP_NUM})) // {_DAMP_DEN}
             + ({_DAMP_NUM} * COALESCE(SUM(r2.r // od.d), 0)) // {_DAMP_DEN} AS r
      FROM nodes n
      LEFT JOIN edges e ON e.dst = n.node
      LEFT JOIN r2 ON r2.node = e.src
      LEFT JOIN outdeg od ON od.src = e.src
      GROUP BY n.node
    )
    SELECT node, CAST(r AS BIGINT) AS rank_scaled FROM r3
    """,
)
def graph_pagerank_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration PageRank over the nation-level trade graph
    (customer nation → supplier nation edges from order lineitems).

    Integer-exact: ranks are BIGINTs scaled by 1e9, contributions use
    integer division — bit-identical across engines, so the oracle
    verifies the iterative numeric result exactly.  Each iteration is
    the standard distributed round: join ranks to edges on src,
    aggregate contributions on dst."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    edges = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(l, o.o_orderkey == l.l_orderkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .select(F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst"))
        .distinct()
    )
    edges = cached(edges)
    outdeg = edges.groupBy("src").agg(F.count("*").alias("d"))
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    # All divisions use Spark's integral `div` (== DuckDB `//` for the
    # all-positive values here) — no doubles anywhere in the iteration.
    base = (_SCALE * (_DAMP_DEN - _DAMP_NUM)) // _DAMP_DEN
    # Attach each edge's out-degree ONCE before the loop instead of
    # re-joining outdeg inside every round: the per-round work drops
    # from two joins to one, and the (src, dst, d) frame is the one
    # that persists across rounds (r12 optimization; share = r div d
    # per edge is unchanged, so the integer fixpoint is identical).
    eout = cached(edges.join(outdeg, "src").select("src", "dst", "d"))
    ranks = nodes.select("node", F.lit(_SCALE).cast("long").alias("r"))
    for _ in range(3):
        contrib = (
            eout.join(ranks, eout.src == ranks.node)
            .select("dst", F.expr("r div d").alias("share"))
        )
        incoming = contrib.groupBy("dst").agg(F.sum("share").alias("inc"))
        ranks = (
            nodes.join(incoming, nodes.node == incoming.dst, "left")
            .select(
                "node",
                (
                    F.lit(base).cast("long")
                    + F.expr(
                        f"({_DAMP_NUM} * coalesce(inc, 0L)) div {_DAMP_DEN}"
                    )
                ).alias("r"),
            )
        )
    return ranks.select("node", F.col("r").alias("rank_scaled"))


@register(
    "graph_triangle_count",
    oracle="""
    WITH dedges AS (
      SELECT c.c_nationkey AS src, s.s_nationkey AS dst
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE c.c_nationkey <> s.s_nationkey
      GROUP BY 1, 2
    ),
    und AS (
      SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      FROM dedges GROUP BY 1, 2
    )
    SELECT e1.a AS node_a, e1.b AS node_b, e2.b AS node_c
    FROM und e1
    JOIN und e2 ON e2.a = e1.b
    JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle enumeration over the undirected nation trade graph —
    the clustering-coefficient primitive (community density, spam-ring
    detection on transaction graphs).

    Canonical ordered-edge join: undirected edges normalized to
    (min, max), triangles found as a < b < c wedge-close joins — each
    triangle emitted exactly once, no post-hoc dedup.  At 100 TB the
    same two hash joins apply with degree-ordered orientation (orient
    edges low-degree → high-degree) to bound wedge fan-out on skewed
    graphs; the nation graph here is keyspace-sized but the plan is
    the general one.
    """
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    edges = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(l, o.o_orderkey == l.l_orderkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .select(F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst"))
        .distinct()
    )
    und = edges.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).distinct()
    und = cached(und)
    e1 = und.select(F.col("a").alias("node_a"), F.col("b").alias("node_b"))
    e2 = und.select(F.col("a").alias("w_b"), F.col("b").alias("node_c"))
    e3 = und.select(F.col("a").alias("c_a"), F.col("b").alias("c_b"))
    return (
        e1.join(e2, e1.node_b == e2.w_b)
        .join(e3, (F.col("c_a") == F.col("node_a")) & (F.col("c_b") == F.col("node_c")))
        .select("node_a", "node_b", "node_c")
    )


@register(
    "graph_degree_distribution",
    oracle="""
    WITH dedges AS (
      SELECT c.c_nationkey AS src, s.s_nationkey AS dst
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE c.c_nationkey <> s.s_nationkey
      GROUP BY 1, 2
    ),
    deg AS (
      SELECT node, CAST(SUM(outd) AS BIGINT) AS out_degree,
             CAST(SUM(ind) AS BIGINT) AS in_degree
      FROM (
        SELECT src AS node, 1 AS outd, 0 AS ind FROM dedges
        UNION ALL
        SELECT dst AS node, 0 AS outd, 1 AS ind FROM dedges
      ) GROUP BY node
    )
    SELECT node, out_degree, in_degree, out_degree + in_degree AS total_degree
    FROM deg
    """,
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node in/out degree over the directed trade graph — the first
    diagnostic on any graph workload (skew here predicts hot keys in
    every downstream join; the degree-ordered orientation that
    ``graph_triangle_count`` cites reads exactly this table).

    One union + map-combined aggregate keyed by node — no joins at all.
    """
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    edges = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(l, o.o_orderkey == l.l_orderkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .select(F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst"))
        .distinct()
    )
    # ONE explode instead of unionAll(edges, edges): the union spelling
    # referenced the (uncached) 4-table join twice, executing it twice
    # (r12; the CC edge-build fix).  Same (node, outd, ind) multiset.
    both = edges.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("src").alias("node"),
                    F.lit(1).alias("outd"),
                    F.lit(0).alias("ind"),
                ),
                F.struct(
                    F.col("dst").alias("node"),
                    F.lit(0).alias("outd"),
                    F.lit(1).alias("ind"),
                ),
            )
        ).alias("e")
    ).select("e.node", "e.outd", "e.ind")
    return both.groupBy("node").agg(
        F.sum("outd").cast("long").alias("out_degree"),
        F.sum("ind").cast("long").alias("in_degree"),
        (F.sum("outd") + F.sum("ind")).cast("long").alias("total_degree"),
    )


@register(
    "graph_common_neighbors",
    oracle="""
    WITH e0 AS (
      SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      WHERE c.c_nationkey <> s.s_nationkey
    ),
    adj AS (
      SELECT src AS node, dst AS nb FROM e0
      UNION
      SELECT dst, src FROM e0
    ),
    deg AS (SELECT node, COUNT(*) AS d FROM adj GROUP BY node),
    inter AS (
      SELECT a.node AS node_a, b.node AS node_b, COUNT(*) AS n_common
      FROM adj a JOIN adj b ON a.nb = b.nb AND a.node < b.node
      GROUP BY a.node, b.node
    )
    SELECT node_a, node_b, n_common,
           CAST(n_common AS DOUBLE) / (da.d + db.d - n_common)
             AS neighbor_jaccard
    FROM inter
    JOIN deg da ON da.node = node_a
    JOIN deg db ON db.node = node_b
    """,
)
def graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction over the nation trade graph: common-neighbor
    count and neighbor-set Jaccard for every node pair sharing ≥1
    neighbor — the classic co-occurrence/link-prediction primitive.

    Same inverted-index shape as the shingle dedup: the self-join is
    EQUI on the shared neighbor (never all-pairs), the shuffle carries
    int keys, and the pair aggregate is map-combined.  At 100 TB the
    degree skew cap from the dedup path (drop hub nodes above a df
    threshold) applies verbatim if the graph has celebrity nodes.
    """
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    e0 = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(l, o.o_orderkey == l.l_orderkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .select(F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst"))
        .distinct()
    )
    # Symmetrize with ONE explode instead of union(e0, e0): the union
    # spelling references the 4-table join twice, so it executed twice
    # when `adj` first materialized (r12; same fix as the CC edge
    # build).  Identical row multiset → identical distinct set.
    adj = (
        e0.select(
            F.explode(
                F.array(
                    F.struct(F.col("src").alias("node"), F.col("dst").alias("nb")),
                    F.struct(F.col("dst").alias("node"), F.col("src").alias("nb")),
                )
            ).alias("e")
        )
        .select("e.node", "e.nb")
        .distinct()
    )
    adj = cached(adj)
    deg = adj.groupBy("node").agg(F.count("*").alias("d"))
    a = adj.select(F.col("node").alias("node_a"), "nb")
    b = adj.select(F.col("node").alias("node_b"), "nb")
    inter = (
        a.join(b, ["nb"])
        .filter(F.col("node_a") < F.col("node_b"))
        .groupBy("node_a", "node_b")
        .agg(F.count("*").alias("n_common"))
    )
    da = deg.select(F.col("node").alias("node_a"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("node_b"), F.col("d").alias("db"))
    return (
        inter.join(F.broadcast(da), "node_a")
        .join(F.broadcast(db), "node_b")
        .select(
            "node_a",
            "node_b",
            "n_common",
            (
                F.col("n_common").cast("double")
                / (F.col("da") + F.col("db") - F.col("n_common"))
            ).alias("neighbor_jaccard"),
        )
    )


# --------------------------------------------------------------------------
# graph_kcore_peel — who survives iterated minimum-degree pruning?
# --------------------------------------------------------------------------

_KCORE_K = 10
_KCORE_ROUNDS = 3


def _kcore_round_sql(src: str, k: int) -> str:
    """One peel: keep edges whose BOTH endpoints have degree ≥ k."""
    return f"""
    SELECT {src}.ck, {src}.sk FROM {src}
    JOIN (SELECT ck FROM {src} GROUP BY ck HAVING COUNT(*) >= {k}) kc
      USING (ck)
    JOIN (SELECT sk FROM {src} GROUP BY sk HAVING COUNT(*) >= {k}) ks
      USING (sk)
    """


@register(
    "graph_kcore_peel",
    oracle=f"""
    WITH e0 AS (
      SELECT DISTINCT o.o_custkey AS ck, l.l_suppkey AS sk
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    e1 AS ({_kcore_round_sql("e0", _KCORE_K)}),
    e2 AS ({_kcore_round_sql("e1", _KCORE_K)}),
    e3 AS ({_kcore_round_sql("e2", _KCORE_K)})
    SELECT 'customer' AS kind, ck AS key,
           CAST(COUNT(*) AS BIGINT) AS degree
    FROM e3 GROUP BY 1, 2
    UNION ALL
    SELECT 'supplier' AS kind, sk AS key,
           CAST(COUNT(*) AS BIGINT) AS degree
    FROM e3 GROUP BY 1, 2
    """,
)
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded k-core peeling (k = 10, 3 unrolled rounds) of the
    customer–supplier trading graph: iteratively drop every node with
    fewer than k distinct trading partners, recompute degrees, repeat —
    the classic core-decomposition loop that isolates the densely
    connected trading core (spam/fraud rings, power-user communities)
    from the thin periphery.  ``graph_degree_distribution`` reads raw
    degrees; the k-core is what's left after degree pruning CASCADES.

    Each round is the standard distributed peel: two map-combined
    degree aggregates on the current edge set + two semi-join filters
    keyed on the node ids — no collect, no broadcast of node sets, so
    the same plan runs on a billion-edge graph.  Rounds are bounded
    (3) to keep the lazy plan shallow and the oracle expressible as
    unrolled CTEs (the ``graph_pagerank_trade`` convention); a
    production loop iterates to fixpoint with a checkpoint every ~5
    rounds, exactly like ``dedup_connected_components``.
    """
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    e = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("ck"), F.col("l_suppkey").alias("sk"))
        .distinct()
    )
    for _ in range(_KCORE_ROUNDS):
        e = cached(e)
        ck_keep = (
            e.groupBy("ck").agg(F.count("*").alias("d")).filter(F.col("d") >= _KCORE_K)
        )
        sk_keep = (
            e.groupBy("sk").agg(F.count("*").alias("d")).filter(F.col("d") >= _KCORE_K)
        )
        e = e.join(ck_keep.select("ck"), "ck", "left_semi").join(
            sk_keep.select("sk"), "sk", "left_semi"
        )
    e = cached(e)
    return (
        e.groupBy("ck")
        .agg(F.count("*").alias("degree"))
        .select(F.lit("customer").alias("kind"), F.col("ck").alias("key"), "degree")
        .unionAll(
            e.groupBy("sk")
            .agg(F.count("*").alias("degree"))
            .select(
                F.lit("supplier").alias("kind"), F.col("sk").alias("key"), "degree"
            )
        )
    )


# --------------------------------------------------------------------------
# graph_reciprocity — is trade mutual?
# --------------------------------------------------------------------------


@register(
    "graph_reciprocity",
    oracle="""
    WITH edges AS (
      SELECT c.c_nationkey AS src, s.s_nationkey AS dst
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE c.c_nationkey <> s.s_nationkey
      GROUP BY 1, 2
    ),
    m AS (
      SELECT e.src, e.dst,
             EXISTS (SELECT 1 FROM edges r
                     WHERE r.src = e.dst AND r.dst = e.src) AS mutual
      FROM edges e
    )
    SELECT src AS node,
           CAST(COUNT(*) AS BIGINT) AS out_deg,
           CAST(SUM(CASE WHEN mutual THEN 1 ELSE 0 END) AS BIGINT)
             AS n_reciprocal,
           CAST(SUM(CASE WHEN mutual THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS reciprocity
    FROM m GROUP BY src
    """,
)
def graph_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation reciprocity of the directed trade graph (the
    ``graph_pagerank_trade`` edge set): of each nation's outgoing
    buy-from edges, how many are matched by a reverse edge — the
    mutual-relationship share that separates hub-and-spoke trade from
    balanced exchange (``q_nation_trade_balance`` weighs the VALUE
    imbalance; reciprocity is the pure topology version).

    The mutuality test is one edge self-join on the flipped key pair
    (mark-exists via left-semi-style aggregation), then a node-keyed
    rollup; the rate is ONE IEEE division of exact counts.  Scale:
    edges aggregate once map-combined; the flip join is keyed on
    (src, dst) — co-partitionable, never all-pairs.
    """
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    edges = cached(
        o.join(c, o.o_custkey == c.c_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .select(F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst"))
        .distinct()
    )
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    out = edges.groupBy("src").agg(F.count("*").alias("out_deg"))
    rec = (
        edges.intersect(rev)
        .groupBy("src")
        .agg(F.count("*").alias("n_rec"))
    )
    n_rec = F.coalesce(F.col("n_rec"), F.lit(0)).cast("long")
    return out.join(rec, "src", "left").select(
        F.col("src").alias("node"),
        "out_deg",
        n_rec.alias("n_reciprocal"),
        (n_rec.cast("double") / F.col("out_deg").cast("double")).alias(
            "reciprocity"
        ),
    )


# --------------------------------------------------------------------------
# graph_degree_assortativity — do hubs trade with hubs?
# --------------------------------------------------------------------------


@register(
    "graph_degree_assortativity",
    oracle="""
    WITH de AS (
      SELECT c.c_nationkey AS a, s.s_nationkey AS b
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE c.c_nationkey <> s.s_nationkey
      GROUP BY 1, 2
    ),
    und AS (
      SELECT LEAST(a, b) AS u, GREATEST(a, b) AS v FROM de GROUP BY 1, 2
    ),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS d
      FROM (SELECT u AS node FROM und UNION ALL SELECT v FROM und)
      GROUP BY node
    ),
    ends AS (
      SELECT du.d AS x, dv.d AS y FROM und
      JOIN deg du ON du.node = und.u
      JOIN deg dv ON dv.node = und.v
      UNION ALL
      SELECT dv.d, du.d FROM und
      JOIN deg du ON du.node = und.u
      JOIN deg dv ON dv.node = und.v
    ),
    m AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS np,
             SUM(CAST(x AS HUGEINT)) AS sx,
             SUM(CAST(y AS HUGEINT)) AS sy,
             SUM(CAST(x AS HUGEINT) * y) AS sxy,
             SUM(CAST(x AS HUGEINT) * x) AS sxx,
             SUM(CAST(y AS HUGEINT) * y) AS syy
      FROM ends
    )
    SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_nodes,
           CAST((SELECT COUNT(*) FROM und) AS BIGINT) AS n_edges,
           CASE WHEN np * sxx - sx * sx > 0 AND np * syy - sy * sy > 0
                THEN CAST(CAST(np * sxy - sx * sy AS VARCHAR) AS DOUBLE)
                  / (sqrt(CAST(CAST(np * sxx - sx * sx AS VARCHAR) AS DOUBLE))
                     * sqrt(CAST(CAST(np * syy - sy * sy AS VARCHAR)
                                 AS DOUBLE)))
           END AS assortativity
    FROM m
    """,
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the undirected nation trade graph: the
    Pearson correlation of endpoint degrees over all edges (each edge
    counted in both orientations, the standard Newman definition) —
    positive when hubs trade with hubs, negative for the
    hub-and-spoke topology most trade networks show
    (``graph_degree_distribution`` gives the degree histogram; this is
    the one-number MIXING pattern of those degrees).

    Degrees are exact integers, so the correlation rides the shared
    exact-moment contract (decimal/HUGEINT sums, one division, two
    IEEE sqrts).  Scale: edges aggregate map-combined, degrees are
    one node-keyed aggregate, the endpoint join is edge-keyed — the
    moment accumulators merge map-side, so the whole statistic is one
    pass over the edge list.
    """
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cu = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    su = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    de = (
        o.join(cu, o.o_custkey == cu.c_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(su, li.l_suppkey == su.s_suppkey)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .select(F.col("c_nationkey").alias("a"), F.col("s_nationkey").alias("b"))
        .distinct()
    )
    und = cached(
        de.select(
            F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
        ).distinct()
    )
    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    ends_base = (
        und.join(deg.select(F.col("node").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("d").alias("dv")), "v")
        .select(F.col("du").alias("x"), F.col("dv").alias("y"))
    )
    # ONE explode instead of unionAll(ends_base, reversed ends_base):
    # the union spelling ran the two degree joins twice (r12; the CC
    # edge-build fix).  Same (x, y) multiset.
    ends = ends_base.select(
        F.explode(
            F.array(
                F.struct(F.col("x"), F.col("y")),
                F.struct(F.col("y").alias("x"), F.col("x").alias("y")),
            )
        ).alias("e")
    ).select("e.x", "e.y")
    from project_fauna_spark.functions.moments import (
        int_pearson_moments,
        pearson_terms,
    )

    m = int_pearson_moments(ends, [])
    _, dx, dy, corr = pearson_terms()
    counts = und.agg(
        F.count("*").alias("n_edges"),
    ).crossJoin(deg.agg(F.count("*").alias("n_nodes")))
    return counts.crossJoin(
        m.select(F.when((dx > 0) & (dy > 0), corr).alias("assortativity"))
    ).select("n_nodes", "n_edges", "assortativity")
