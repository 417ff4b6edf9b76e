"""Link-graph analytics: PageRank in exact fixed-point arithmetic.

Web-scale corpus curation ranks documents by link centrality before
filtering (Common Crawl publishes harmonic/PageRank centrality per
host; quality pipelines weight crawl frontiers with it).  This module
adds the iterative-graph member of the engine's operator families,
next to :func:`docdedup.duplicate_clusters`' pointer-doubling
connected components.

Determinism contract (the engine-wide rule — see k-means/PCA/
classifier): every per-iteration quantity is an *integer* — ranks are
fixed-point at ``scale`` (default 10^12), each node sends
``rank // outdeg`` along its out-edges, dangling mass redistributes as
``dang_total // n_nodes``, and damping applies as
``(num * x) // den``.  Integer sums are associative and commutative,
so the result is bit-identical under any partitioning, and a SQL
engine replays the exact recurrence (the oracle unrolls the
iterations as chained CTEs) — a value-match gate on an iterative
algorithm, no tolerance.

Scale notes (10^9+ nodes / 10^11 edges):

* Per iteration: one join of the rank table against the edge list on
  ``src`` and one map-side-combined groupBy on ``dst`` — the classic
  two-shuffle PageRank step.  On a real deployment the edge list is
  bucketed by ``src`` once (DISK layout, not per-job) so the join
  side never re-shuffles; here the edge/degree tables are cached and
  AQE handles skewed dst hubs.
* The dangling aggregate is a 1-row reduction broadcast back via a
  crossJoin — O(1) driver/executor state.
* Lineage is truncated with ``localCheckpoint`` every few iterations
  (the BPE lesson: a growing Catalyst tree, not the data, becomes the
  bottleneck in iterative plans).
* Driver state is two scalars (node count, iteration index) — no
  collect of per-node state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 10**12
DAMPING_NUM, DAMPING_DEN = 85, 100  # damping factor 0.85 as a ratio


def pagerank(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    *,
    iterations: int = 10,
) -> DataFrame:
    """Fixed-point PageRank over ``edges(src, dst)``.

    ``nodes`` (one ``node`` column) defaults to ``src ∪ dst``; pass it
    explicitly when isolated/dangling nodes exist outside the edge
    list.  Returns ``(node, rank)`` with ``rank`` the fixed-point
    integer (sum over nodes ≈ ``SCALE`` minus cumulative floor loss).

    Exact recurrence (all integer ops)::

        R0(v)  = SCALE // N
        send(u)   = R(u) // outdeg(u)            (u with out-edges)
        contrib(v)= Σ send(u) over edges u→v
        dang      = Σ R(u) over u without out-edges
        R'(v)  = (num * (SCALE // N)) // den  applied as (den-num)…
                 = ((den-num) * (SCALE // N)) // den
                   + (num * (contrib(v) + dang // N)) // den
    """
    if nodes is None:
        nodes = (
            edges.select(F.col("src").alias("node"))
            .unionAll(edges.select(F.col("dst").alias("node")))
            .distinct()
        )
    nodes = nodes.select("node").persist()
    n = nodes.count()  # scalar driver state, like the k-means k×dim
    deg = (
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).alias("outdeg"))
        .persist()
    )
    edges = edges.select("src", "dst").persist()

    base = SCALE // n
    teleport = ((DAMPING_DEN - DAMPING_NUM) * base) // DAMPING_DEN
    ranks = nodes.withColumn("rank", F.lit(base).cast("long"))

    for i in range(iterations):
        with_deg = ranks.join(deg, "node", "left")
        # `div` is true integer division on BIGINT (== floor for the
        # non-negative ranks this recurrence maintains); double `/`
        # with a cast can round across an integer boundary at large
        # quotients and would break bit-parity with the SQL oracle
        send = with_deg.filter(F.col("outdeg").isNotNull()).select(
            "node", F.expr("rank div outdeg").alias("send")
        )
        contrib = (
            send.join(edges, send.node == edges.src)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("send").alias("contrib"))
        )
        dang = with_deg.filter(F.col("outdeg").isNull()).agg(
            F.coalesce(F.sum("rank"), F.lit(0)).alias("dang")
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "node",
                F.expr(
                    f"{teleport}L + ({DAMPING_NUM}L * "
                    f"(coalesce(contrib, 0L) + (dang div {n}L))) "
                    f"div {DAMPING_DEN}L"
                ).alias("rank"),
            )
        )
        if (i + 1) % 3 == 0 and i + 1 < iterations:
            ranks = ranks.localCheckpoint()
    return ranks


def synth_link_graph(docs: DataFrame, n: int) -> DataFrame:
    """Deterministic pseudo-random link graph over dense doc ids.

    Test/benchmark edge synthesis (the same arithmetic replays as the
    SQL oracle's edge CTE): doc ``i`` links to ``(17i+1) % n`` and
    ``(29i+3) % n``, every third doc also to ``(13i+7) % n`` — varied
    outdegree, hub-ish collision structure — and every seventh doc
    emits nothing (a dangling node).  ``docs`` must carry a dense
    ``doc_id`` in ``[0, n)``.
    """
    i = F.col("doc_id").cast("long")
    e = docs.select(
        i.alias("src"),
        F.array(
            (i * 17 + 1) % n,
            (i * 29 + 3) % n,
            F.when(i % 3 == 0, (i * 13 + 7) % n),
        ).alias("dsts"),
    )
    return (
        e.select("src", F.explode("dsts").alias("dst"))
        .filter(F.col("dst").isNotNull() & (F.col("src") % 7 != 0))
    )

def triangle_counts(edges: DataFrame) -> DataFrame:
    """Exact per-node triangle counts + local clustering coefficient.

    Triangle counting is the standard structure probe on crawl link
    graphs (community density for quality weighting, spam-farm
    detection — dense bipartite cores have pathological clustering).
    The reference has no graph analytics; this extends the engine's
    link-graph family (pagerank) with the second classic.

    Algorithm — *degree orientation* (Chiba–Nishizeki / the MapReduce
    formulation of Suri & Vassilvitskii 2011):

    1. Canonicalize to undirected simple edges ``(u < v)``, distinct.
    2. Orient every edge from the endpoint with the smaller
       ``(degree, node)`` rank to the larger.  Each node's *oriented*
       out-degree is then ≤ O(√(2m)) amortized — a hub of degree 10⁷
       emits almost nothing; its low-degree neighbours own the edges.
    3. Wedges: self-join oriented edges on the source — fan-out per
       node is oriented-outdeg², bounded by (2).  This is THE reason
       the naive neighbour-join (fan-out deg², 10¹⁴ for one hub) is
       replaced; orientation is the 100 TB dial, no freq_cap needed.
    4. Close each wedge ``a→b, a→c (rank b < rank c)`` against the
       oriented edge ``b→c`` — every triangle is found exactly once,
       at its lowest-rank vertex.

    All counts are integers (bit-identical under any partitioning);
    the local clustering coefficient ``2·T_v / (deg_v·(deg_v−1))`` is
    ONE IEEE division of exact integers — deterministic across
    engines, so the SQL oracle value-matches with no tolerance.

    Returns ``(node, deg, triangles, lcc)`` for every node of the
    canonical graph (``lcc`` NULL when ``deg < 2``).
    """
    und = (
        edges.select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .persist()
    )
    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
        .persist()
    )
    # orient low (deg, node) -> high; carry the destination's rank so
    # the wedge join needs no extra degree lookup
    ranked = (
        und.join(deg.select(F.col("node").alias("u"), F.col("deg").alias("du")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("deg").alias("dv")), "v")
    )
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = ranked.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("b"),
        F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("db"),
    ).persist()
    o1 = oriented.select(F.col("a"), F.col("b"), F.col("db"))
    o2 = oriented.select(
        F.col("a").alias("a2"), F.col("b").alias("c"), F.col("db").alias("dc")
    )
    wedges = o1.join(o2, F.col("a") == F.col("a2")).filter(
        (F.col("db") < F.col("dc"))
        | ((F.col("db") == F.col("dc")) & (F.col("b") < F.col("c")))
    )
    closer = oriented.select(F.col("a").alias("b"), F.col("b").alias("c"))
    tris = wedges.join(closer, ["b", "c"]).select("a", "b", "c")
    per_node = (
        tris.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    return (
        deg.join(per_node, "node", "left")
        .select(
            "node",
            "deg",
            F.coalesce("triangles", F.lit(0)).alias("triangles"),
            F.when(
                F.col("deg") >= 2,
                (F.coalesce("triangles", F.lit(0)) * F.lit(2)).cast("double")
                / (F.col("deg") * (F.col("deg") - F.lit(1))).cast("double"),
            ).alias("lcc"),
        )
    )
