"""Graph centrality: weighted PageRank as an iterative DataFrame plan.

The curation use at corpus scale: rank hosts/entities by link structure
(domain authority for web-crawl curation, supplier/customer importance in
a trade graph). Power iteration is the Pregel pattern — per round, one
join of the rank table onto the edge list and one groupBy(dst) — which at
cluster scale runs with the EDGE LIST hash-partitioned by ``dst`` ONCE and
cached: every subsequent round's groupBy(dst) reuses that partitioning (the
rank table,
|nodes| rows, is the small side), so k iterations cost k small shuffles of
rank-sized data, never k edge-list shuffles. ``localCheckpoint`` per round
truncates the growing lineage exactly like
operators.dedup.connected_components does.

FIXED-POINT INTEGER arithmetic throughout: ranks live in micro-units
(SCALE = 1e6) and every step is int64 multiply / floor-divide / sum —
integer sums are associative-commutative regardless of partial-aggregation
order, so the result is bit-identical on any cluster size AND in the
DuckDB oracle (which unrolls the same k iterations as CTEs from the same
constants). Floating-point PageRank cannot make that promise: the
per-node contribution sum would depend on partition order.

Semantics: per-node damped rank r'_v = ((100−85)·SCALE)/100 +
(85 · Σ_{u→v} (r_u · w_uv) div W_u) / 100, uniform init r = SCALE (the
"per-node units" normalization: ranks average ≈ SCALE, independent of
graph size). Floor-division drops < 1 micro-unit per edge per round —
deterministic truncation, same in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 1_000_000   # rank micro-units
DAMP_NUM = 85       # damping 0.85 as an integer rational
DAMP_DEN = 100
ITERS = 5

# Node tables broadcast per round (ranks into the edge join, recv into the
# rank rebuild) are (long, long) rows — ~8M rows is ~130 MB framed, well
# inside the driver/executor comfort band and far under the 8 GB /
# 512M-row broadcast cap. Above it the loop falls back to planner-chosen
# shuffle joins (r14, r13 verdict item 8): slower per round, but a
# 100 TB-node graph must never be collected to the driver — the same rule
# the connected-components loop applies to its label table
# (operators.dedup: pointer jumping never broadcasts labels).
PAGERANK_BCAST_MAX_NODES = 8_000_000


def pagerank(edges: DataFrame, iters: int = ITERS) -> DataFrame:
    """Weighted PageRank over directed ``edges(src, dst, w)``.

    Returns (node, rank) in micro-units after ``iters`` rounds, one row
    per node in src ∪ dst. Nodes with no in-edges keep their teleport-base
    rank and keep contributing; dangling nodes (no out-edges) receive but
    contribute nothing — their mass is dropped, not redistributed (the
    usual simplification; symmetrize the graph if you need conservation).

    Scale regimes: up to :data:`PAGERANK_BCAST_MAX_NODES` (8M) nodes, the
    per-round rank and receive tables broadcast — zero node-table
    shuffles per round. Above
    it they flow through planner-chosen shuffle joins instead: the
    integer arithmetic is partition-order-independent, so results are
    bit-identical in both regimes.

    Side effect at construction: choosing the regime runs ``nodes.count()``
    (one Spark job, which also materializes the node checkpoint), so
    merely building this frame, e.g. to ``explain`` it, executes work.
    """
    edges = edges.select("src", "dst", "w")
    outw = edges.groupBy("src").agg(F.sum("w").alias("w_out"))
    # Node universe = src ∪ dst: a node with out-edges but no in-edges
    # receives no contributions, but it must KEEP its teleport-base rank
    # and keep contributing — rebuilding ranks from the contribution
    # aggregate alone would silently drop it after round 1.
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)  # r13: round 1 materializes
    )
    ranks = nodes.select("node", F.lit(SCALE).alias("r"))
    base = ((DAMP_DEN - DAMP_NUM) * SCALE) // DAMP_DEN
    # Materialize the weighted edge list ONCE, hash-partitioned by dst —
    # every iteration broadcast-joins the (small) rank table onto it and
    # aggregates by dst. The checkpoint's PHYSICAL dst clustering means
    # the per-dst partial aggregation collapses each dst inside its own
    # partition, so the per-round exchange carries ≤ one row per node,
    # never the edge list — even though AQE drops the checkpoint's
    # partitioning METADATA and still plans the (node-sized) exchange
    # (r13 executed-plan audit; the pre-r13 comment claimed zero
    # shuffles). Without the checkpoint the fact-table edge derivation
    # would re-run per round.
    e = edges.join(outw, "src").repartition("dst").localCheckpoint(eager=False)
    # Size-gate the per-round node-table broadcasts (r14, r13 verdict
    # item 8): the count materializes the nodes checkpoint — work round 1
    # paid anyway — and decides the regime ONCE for the whole loop. Under
    # the gate, ranks and recv (≤ one row per node each, same size
    # regime) broadcast as before (r13: 10 SMJ → 0); over it, no
    # broadcast hints — the planner's shuffle joins are slower per round
    # but never stage a graph-sized table through the driver.
    small_nodes = nodes.count() <= PAGERANK_BCAST_MAX_NODES
    _b = F.broadcast if small_nodes else (lambda df: df)
    for it in range(1, iters + 1):
        contrib = (
            e.join(_b(ranks), e.src == ranks.node)
            .select(
                "dst",
                F.expr(f"(r * w) div w_out").alias("c"),
            )
        )
        recv = contrib.groupBy(F.col("dst").alias("node")).agg(
            F.sum("c").alias("s")
        )
        ranks = nodes.join(_b(recv), "node", "left").select(
            "node",
            F.expr(
                f"{base} + ({DAMP_NUM} * coalesce(s, 0)) div {DAMP_DEN}"
            ).alias("r"),
        )
        # Truncate lineage periodically, not per round: a checkpoint is a
        # full job barrier, and short loops run faster as ONE fused job;
        # only deep loops need the lineage cut.
        if it % 8 == 0 and it < iters:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks.select("node", F.col("r").alias("rank"))


def trade_graph_edges(lineitem: DataFrame, orders: DataFrame) -> DataFrame:
    """Symmetrized customer↔supplier trade graph from the fact tables:
    edge weight = number of lineitems between the pair. Node encoding:
    customer c → 2c, supplier s → 2s+1 (disjoint integer namespaces)."""
    pairs = (
        lineitem.select("l_orderkey", "l_suppkey")
        .join(orders.select("o_orderkey", "o_custkey"),
              lineitem.l_orderkey == orders.o_orderkey)
        .groupBy(
            (F.col("o_custkey") * 2).alias("cnode"),
            (F.col("l_suppkey") * 2 + 1).alias("snode"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    fwd = pairs.select(F.col("cnode").alias("src"), F.col("snode").alias("dst"), "w")
    rev = pairs.select(F.col("snode").alias("src"), F.col("cnode").alias("dst"), "w")
    return fwd.unionAll(rev)


def sql_trade_pagerank(top_k: int = 20, iters: int = ITERS) -> str:
    """DuckDB oracle: the SAME fixed-point iteration unrolled as ``iters``
    chained CTEs, from the same SCALE/DAMP constants."""
    base = ((DAMP_DEN - DAMP_NUM) * SCALE) // DAMP_DEN
    ctes = [
        f"""pairs AS (
  SELECT o.o_custkey * 2 AS cnode, l.l_suppkey * 2 + 1 AS snode,
         count(*) AS w
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2
)""",
        """edges AS (
  SELECT cnode AS src, snode AS dst, w FROM pairs
  UNION ALL
  SELECT snode AS src, cnode AS dst, w FROM pairs
)""",
        """outw AS (SELECT src, sum(w) AS w_out FROM edges GROUP BY src)""",
        """nodes AS (SELECT DISTINCT node FROM (
  SELECT src AS node FROM edges UNION ALL SELECT dst AS node FROM edges))""",
        f"""iter0 AS (SELECT node, CAST({SCALE} AS BIGINT) AS r FROM nodes)""",
    ]
    for k in range(1, iters + 1):
        ctes.append(
            f"""iter{k} AS (
  SELECT n.node,
         {base} + ({DAMP_NUM} * coalesce(rcv.s, 0)) // {DAMP_DEN} AS r
  FROM nodes n
  LEFT JOIN (
    SELECT e.dst AS node, sum((i.r * e.w) // o.w_out) AS s
    FROM edges e
    JOIN iter{k - 1} i ON e.src = i.node
    JOIN outw o ON o.src = e.src
    GROUP BY e.dst
  ) rcv ON rcv.node = n.node
)"""
        )
    return f"""
WITH {','.join(ctes)}
SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS entity,
       CAST(node // 2 AS BIGINT) AS entity_key,
       CAST(r AS BIGINT) AS rank_micro
FROM iter{iters}
ORDER BY rank_micro DESC, node LIMIT {top_k}
"""
