"""Graph analytics over relational inputs (SURVEY.md §2 extension;
complements the pairs→groups closure in :mod:`.dedup`).

Capability parity: graph surface of the reference (snapshot empty —
SURVEY.md §0.1).  Two shapes a data-curation stack actually runs:
degree statistics over an implicit co-occurrence graph (the "how
connected is my dedup graph" diagnostic) and PageRank over a small
aggregated graph (entity importance).

Scale posture: edges are GENERATED by bucket-blocked self-joins (never
all-pairs), degree/histogram are two map-side-combinable aggregates,
and PageRank's per-iteration join broadcasts the rank vector when the
vertex set is small (here: aggregated nation-level graph).  The
unbounded-vertex variant of PageRank belongs to the same
shuffle-per-iteration + periodic-checkpoint discipline as
``dedup.connected_components`` (dedup.py:342).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType

from pyspark_analytics_library_spark import conf
from pyspark_analytics_library_spark.registry import query
from pyspark_analytics_library_spark.sources.io import (
    fs_delete,
    iteration_scratch,
    load_tables,
    local_frame,
    materialize,
)


def co_occurrence_edges(
    df: DataFrame, entity: str, bucket_cols: list
) -> DataFrame:
    """Distinct undirected edges (a < b) between entities sharing a
    bucket.  Bucket-blocked: cost is Σ n_b² over buckets, not N² — the
    caller chooses buckets fine enough to bound n_b (SURVEY §2.8
    discipline, same as LSH band blocking).

    Shape: ONE aggregate collects each bucket's member set, then the
    pair expansion is a row-local double explode — no self-join at
    all.  A join formulation was measured at 9 exchanges because both
    join sides re-compute the distinct occurrence aggregate (Catalyst
    plans DataFrame reuse as two subplans, and the differing aliases
    defeat exchange reuse); this one runs the aggregate once and
    explodes inside the same stage.  The member arrays are
    bucket-sized — exactly the quantity the blocking already bounds —
    so no new memory term appears."""
    keys = [f"_b{i}" for i in range(len(bucket_cols))]
    members = (
        df.select(
            *[c.alias(k) for k, c in zip(keys, bucket_cols)],
            F.col(entity).alias("_e"),
        )
        .groupBy(*keys)
        .agg(F.collect_set("_e").alias("_m"))
    )
    return (
        members.select(F.explode("_m").alias("u"), F.col("_m"))
        .select("u", F.explode("_m").alias("v"))
        .filter(F.col("u") < F.col("v"))
        .distinct()
    )


def degrees(edges: DataFrame) -> DataFrame:
    """(node, degree) of every endpoint of an undirected (u, v) edge list.
    Both endpoints come from one row-local explode: a union of two
    selects over ``edges`` would re-execute the whole edge plan per
    branch (DataFrame reuse is not plan reuse)."""
    return (
        edges.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )


@query(
    "graph_degree_stats",
    oracle="""
    WITH occ AS (
        SELECT DISTINCT event_type, date_trunc('hour', ts) AS h, user_id
        FROM events
    ), edges AS (
        SELECT DISTINCT a.user_id AS u, b.user_id AS v
        FROM occ a JOIN occ b
          ON a.event_type = b.event_type AND a.h = b.h
         AND a.user_id < b.user_id
    ), deg AS (
        SELECT node, COUNT(*) AS degree FROM (
            SELECT u AS node, v FROM edges
            UNION ALL
            SELECT v AS node, u FROM edges
        ) GROUP BY node
    )
    SELECT degree, COUNT(*) AS n_nodes
    FROM deg GROUP BY degree ORDER BY degree
    """,
)
def q_graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the user co-activity graph (edge = two users
    active in the same event_type × hour bucket).

    The (type, hour) blocking bounds the self-join fan-out to the
    per-bucket population; degrees then need only two aggregates.  On
    a skewed corpus the hot bucket dominates Σn_b² — the mitigation is
    a finer time bucket (same code, different literal), exactly the
    LSH band-width dial.  The degree distribution itself is the
    standard health check before running closure on a dedup graph
    (a heavy-tailed degree histogram predicts giant components).
    """
    ev = load_tables(spark, sf_dir)["events"]
    edges = co_occurrence_edges(
        ev, "user_id", [F.col("event_type"), F.date_trunc("hour", F.col("ts"))]
    )
    return (
        degrees(edges)
        .groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy("degree")
    )


#: Damping factor and iteration count for the unrolled PageRank demo.
_PR_D = 0.85
_PR_ITERS = 3


def pagerank_step(
    ranks: DataFrame, edges: DataFrame, sources: DataFrame, n: int
) -> DataFrame:
    """One damped PageRank iteration with dangling-mass redistribution:
    rank flows along weighted out-edges, nodes keep (1-d)/N base mass,
    and the rank held by DANGLING nodes (no out-edges) is shared
    equally — without that term mass leaks every iteration and ranks
    stop summing to 1 (property-tested).  ``edges`` must carry
    (src, dst, share) with share = w(src,dst)/Σ_dst w and ``sources``
    the distinct src set; both are precomputed outside the loop.  The
    ranks side is vertex-count-sized, so every join broadcasts; each
    iteration is one broadcast join + one groupBy on dst + one
    scalar aggregate."""
    contrib = (
        edges.join(F.broadcast(ranks), edges.src == ranks.node)
        .select(edges.dst.alias("node_to"), (ranks.rank * edges.share).alias("c"))
        .groupBy("node_to")
        .agg(F.sum("c").alias("inflow"))
    )
    dangling = ranks.join(sources, ranks.node == sources.src, "left_anti").agg(
        F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm")
    )
    return (
        ranks.join(contrib, ranks.node == contrib.node_to, "left")
        .crossJoin(F.broadcast(dangling))
        .select(
            "node",
            (
                F.lit((1.0 - _PR_D) / n)
                + F.lit(_PR_D)
                * (F.coalesce(F.col("inflow"), F.lit(0.0)) + F.col("dm") / n)
            ).alias("rank"),
        )
    )


@query(
    "graph_pagerank_nations",
    oracle=f"""
    WITH edges_w AS (
        SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
               COUNT(*) AS w
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY src, dst
    ), edges AS (
        SELECT src, dst,
               CAST(w AS DOUBLE) / SUM(w) OVER (PARTITION BY src) AS share
        FROM edges_w
    ), nodes AS (
        SELECT DISTINCT n_nationkey AS node FROM nation
    ), n_cnt AS (SELECT COUNT(*) AS n FROM nodes),
    pr0 AS (
        SELECT node, 1.0 / n AS rank FROM nodes, n_cnt
    ),
    pr1 AS (
        SELECT nodes.node,
               (1 - {_PR_D}) / n + {_PR_D} * (COALESCE(SUM(pr0.rank * e.share), 0.0)
                   + (SELECT COALESCE(SUM(rank), 0.0) FROM pr0
                      WHERE node NOT IN (SELECT src FROM edges)) / n)
                   AS rank
        FROM nodes CROSS JOIN n_cnt
        LEFT JOIN edges e ON e.dst = nodes.node
        LEFT JOIN pr0 ON pr0.node = e.src
        GROUP BY nodes.node, n
    ),
    pr2 AS (
        SELECT nodes.node,
               (1 - {_PR_D}) / n + {_PR_D} * (COALESCE(SUM(pr1.rank * e.share), 0.0)
                   + (SELECT COALESCE(SUM(rank), 0.0) FROM pr1
                      WHERE node NOT IN (SELECT src FROM edges)) / n)
                   AS rank
        FROM nodes CROSS JOIN n_cnt
        LEFT JOIN edges e ON e.dst = nodes.node
        LEFT JOIN pr1 ON pr1.node = e.src
        GROUP BY nodes.node, n
    ),
    pr3 AS (
        SELECT nodes.node,
               (1 - {_PR_D}) / n + {_PR_D} * (COALESCE(SUM(pr2.rank * e.share), 0.0)
                   + (SELECT COALESCE(SUM(rank), 0.0) FROM pr2
                      WHERE node NOT IN (SELECT src FROM edges)) / n)
                   AS rank
        FROM nodes CROSS JOIN n_cnt
        LEFT JOIN edges e ON e.dst = nodes.node
        LEFT JOIN pr2 ON pr2.node = e.src
        GROUP BY nodes.node, n
    )
    SELECT node AS nationkey, ROUND(rank, 6) AS pagerank
    FROM pr3 ORDER BY nationkey
    """,
)
def q_graph_pagerank_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damped PageRank (d=0.85, 3 iterations) over the nation trade
    graph: supplier-nation → customer-nation edges weighted by line
    items shipped.

    The edge build is the expensive part (the same star join the
    composites push down); the iterations are broadcast-join steps
    over a 25-vertex rank vector — driver-side loop count is fixed, no
    convergence collect.  The oracle unrolls the same three iterations
    as CTEs, so this is a FULL-parity iterative-algorithm check, not a
    rows-only one.  Both engines sum ≤25 inflow terms per node —
    round(6) absorbs summation-order ulps.
    """
    t = load_tables(spark, sf_dir)
    edges_w = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    from pyspark.sql import Window

    out_w = Window.partitionBy("src")
    edges = edges_w.select(
        "src", "dst", (F.col("w").cast("double") / F.sum("w").over(out_w)).alias("share")
    )
    # Vertex-count-sized inputs: materialize counts once, keep the loop
    # in the driver but the DATA on executors (ranks never collected).
    nodes = t["nation"].select(F.col("n_nationkey").alias("node")).distinct()
    n = nodes.count()
    sources = edges_w.select("src").distinct()
    ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))
    for _ in range(_PR_ITERS):
        ranks = pagerank_step(ranks, edges, sources, n)
    return ranks.select(
        F.col("node").alias("nationkey"), F.round("rank", 6).alias("pagerank")
    ).orderBy("nationkey")


@query(
    "graph_triangles",
    oracle="""
    WITH occ AS (
        SELECT DISTINCT event_type, date_trunc('hour', ts) AS h, user_id
        FROM events
    ), edges AS (
        SELECT DISTINCT a.user_id AS u, b.user_id AS v
        FROM occ a JOIN occ b
          ON a.event_type = b.event_type AND a.h = b.h
         AND a.user_id < b.user_id
    ), deg AS (
        SELECT node, COUNT(*) AS degree FROM (
            SELECT u AS node FROM edges
            UNION ALL
            SELECT v AS node FROM edges
        ) GROUP BY node
    ), tri AS (
        SELECT COUNT(*) AS t
        FROM edges e1
        JOIN edges e2 ON e2.u = e1.v
        JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    ), w AS (
        SELECT CAST(SUM((degree * (degree - 1)) // 2) AS BIGINT) AS wedges
        FROM deg
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM edges) AS n_edges,
           w.wedges AS n_wedges,
           CAST(tri.t AS BIGINT) AS n_triangles,
           ROUND(3.0 * tri.t / w.wedges, 6) AS global_clustering
    FROM tri, w
    """,
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the user co-activity graph: edge count, wedge
    count (Σ d·(d−1)/2), triangle count, and the global clustering
    coefficient 3·T/W — the standard cohesion diagnostic before
    trusting transitive closure on a dedup graph (high clustering ⇒
    LSH candidate pairs corroborate each other; near-zero ⇒ the
    "components" are long fragile chains).

    Density-aware dispatch, same exact count on both paths:

    - **Dense / small graphs** (the fixture regime: 1.5k users at 53%
      edge density): collect the oriented edge list and count via a
      blockwise float64 boolean matmul, T = Σ (A[i:j]@A)∘A[i:j] over
      the π-ordered upper-triangular adjacency — the standard kernel
      for dense graphs, same guarded driver-materialization discipline
      as similarity.build_index.  Dispatch is bounded on BOTH axes:
      spark.analytics.graph.denseMatmulMaxVertices (default 4096) caps
      the adjacency matrix (~134 MB float64 at the cap) and
      spark.analytics.graph.denseMatmulMaxEdges (default 2,000,000)
      caps the driver-collected edge frame (~32 MB of id pairs at the
      cap) — a cap-sized dense graph would otherwise pull ~8M edge
      rows through the driver.  The block loop (1024 rows per block)
      never materializes the full A@A, so the worst-case working set
      is A plus two block-sized panels (~200 MB), not ~400 MB.
    - **Sparse / large**: the distributed adjacency-intersection
      join: orient every edge along the (degree, id) total order so
      out-degrees are O(√E), collect each vertex's out-neighborhood
      (≤ √(2E) ids by construction), and sum
      |N⁺(u) ∩ N⁺(v)| over oriented edges — each triangle a→b→c is
      counted exactly once, at edge (a, b), and no wedge row is ever
      materialized (the Σ C(d⁺,2) wedge-join formulation was measured
      3× slower, and the fixture's 834M wedges make it the wrong
      shape here).  The oriented edge list and the out-neighborhoods
      are materialized once to iteration scratch, and the adjacency is
      broadcast when Σ|N⁺| (= m) fits the broadcastNbrsMaxEdges cap —
      see the in-branch comment for the measured rationale.

    The triangle count is orientation-invariant, so the natural-order
    DuckDB oracle counts the identical set; wedge totals come straight
    from the degree aggregate, and the one ratio divides identical
    BIGINTs on both engines.
    """
    ev = load_tables(spark, sf_dir)["events"]
    edges = co_occurrence_edges(
        ev, "user_id", [F.col("event_type"), F.date_trunc("hour", F.col("ts"))]
    )
    return triangle_census(spark, edges)


def triangle_census(spark: SparkSession, edges: DataFrame) -> DataFrame:
    """Census of an undirected (u, v) edge list — see q_graph_triangles
    for the density-aware dispatch contract.

    The edge list is typically the expensive part of the caller's plan
    (here a DISTINCT co-occurrence self-join: ~1 s of the dense row's
    2.8 s at sf0.1), so the edge plan executes exactly ONCE: it is
    materialized to iteration scratch up front, and every downstream
    consumer (degree aggregate; the dense path's pair collect; the
    sparse path's orientation write) reads the materialized parquet
    with exact size stats.  Edge count, wedge count, and the summary
    scalars derive driver-side from the collected degree table.

    Scratch contract (BOTH paths): the census
    materializes to iteration scratch, which on a CLUSTER master
    requires ``spark.analytics.scratchDir`` (any Hadoop-visible URI) or
    a configured checkpoint dir — the census raises eagerly before the
    first job otherwise, exactly like the connected-components loop.
    Only scalars leave the census (the triangle sum is collected inside
    it as one row), so the whole scratch generation is deleted on every
    exit — return, work-cap refusal or failure — and the returned 1-row
    summary frame is backed purely by driver-local literals."""
    scratch = iteration_scratch(spark)
    try:
        return _triangle_census_impl(spark, edges, scratch)
    finally:
        fs_delete(spark, scratch)


def _triangle_census_impl(
    spark: SparkSession, edges: DataFrame, scratch: str
) -> DataFrame:
    import numpy as np

    edges = materialize(edges, os.path.join(scratch, "edges"))
    deg = degrees(edges)
    deg_pd = deg.toPandas()  # vertex-count-sized, like PageRank's counts
    d = deg_pd["degree"]
    n_vertices = len(deg_pd)
    # Degree sum counts each edge twice — the exact edge count with no
    # extra job, so the dense/sparse dispatch is free.
    m_edges = int(d.sum()) // 2 if n_vertices else 0
    cap = conf.get(spark, "spark.analytics.graph.denseMatmulMaxVertices")
    edge_cap = conf.get(spark, "spark.analytics.graph.denseMatmulMaxEdges")
    if n_vertices <= cap and m_edges <= edge_cap:
        # Orientation along the (degree, id) total order IS rank order,
        # so orienting driver-side (min rank → row, max rank → column)
        # yields the same upper-triangular adjacency as the distributed
        # e_dir build without re-running the edge plan through two
        # degree joins.
        order = deg_pd.sort_values(["degree", "node"]).reset_index(drop=True)
        rank = {node: i for i, node in enumerate(order["node"])}
        ep = edges.toPandas()
        ru = ep["u"].map(rank).to_numpy()
        rv = ep["v"].map(rank).to_numpy()
        A = np.zeros((n_vertices, n_vertices), dtype=np.float64)
        A[np.minimum(ru, rv), np.maximum(ru, rv)] = 1.0
        t = 0
        for i0 in range(0, n_vertices, 1024):
            blk = A[i0 : i0 + 1024]
            t += int(((blk @ A) * blk).sum())
        wedges = int((d * (d - 1) // 2).sum())
        return _census_summary(spark, m_edges, wedges, t)

    # ----- sparse / large: distributed adjacency-intersection path -----
    # Edge and wedge totals come from the ALREADY-collected degree
    # table — free driver-side scalars, exactly like the dense path.
    # A lazy formulation measured 420 s on a 7.9M-edge graph: every
    # downstream aggregate re-executed the caller's edge-generation
    # plan, and the sort-merge triangle join shuffled |N⁺(u)|+|N⁺(v)|
    # neighbor-array elements PER EDGE ROW (Σ_e ≈ 7.5e9 elements
    # ≈ 60 GB).  Hence:
    #
    # 1. Orientation joins the degree table as a LOCAL broadcast frame
    #    (vertex-count-sized and already on the driver from the
    #    dispatch decision); everything here reads the edge parquet.
    # 2. The oriented edge list is materialized to the same scratch
    #    generation; both its consumers (the out-neighborhood aggregate
    #    and the probe side of the intersection join) read the parquet
    #    with exact size stats.  The out-neighborhood aggregate itself
    #    stays lazy — see the note at its definition below.
    # 3. When Σ|N⁺| — which equals m_edges exactly — fits
    #    spark.analytics.graph.broadcastNbrsMaxEdges (default 5e7,
    #    ~400 MB of ids), the adjacency is BROADCAST and the triangle
    #    count collapses into one shuffle-free pipelined stage:
    #    scan e_dir → two broadcast hash joins → array_intersect →
    #    partial sum.  Measured on the probe graph: 420 s → ~40 s.
    #    Past the cap (true cluster scale) the sort-merge formulation
    #    below still applies unchanged — there the array-carry shuffle
    #    is the textbook cost of the intersection join, amortized by
    #    cluster parallelism rather than a single box.

    # Fail fast on a census this formulation cannot finish.  The
    # sparse path's cost is the adjacency-intersection
    # work W = Σ_e (|N⁺(src)|+|N⁺(dst)|); with out-degrees bounded by
    # min(d_v, √(2m)) under the (degree, id) orientation, W ≤
    # Σ_v d_v·min(d_v, √(2m)) — computable for FREE from the degree
    # table already on the driver, before any scratch write.  Worst
    # case seen at sf≈1: ts-identical copies densify the co-activity
    # graph quadratically to 53 % density at 15 k vertices (~6e7 edges,
    # W ≈ 9.5e11) — intractable for both branches AND for the
    # wedge-join oracle; without the cap the census runs for hours.
    # Measured calibration for the default cap of 1e11:
    # W ≈ 3.1e10 (7.89 M-edge sf1 graph) ran 87–338 s on one box —
    # the cap admits ~3× that and refuses clearly beyond.  The bound
    # is skew-sharp: a 1 M-edge hub-and-spoke graph scores W ≈ 2.8e9
    # (tractable, correctly admitted) where a naive Σ d² would
    # false-trip at 1e12.  On a cluster, raise
    # spark.analytics.graph.sparseMaxWork roughly linearly with cores.
    import math

    work_cap = conf.get(spark, "spark.analytics.graph.sparseMaxWork")
    d_np = d.to_numpy(dtype="float64")
    work = float((d_np * np.minimum(d_np, math.sqrt(2.0 * max(m_edges, 1)))).sum())
    if work > work_cap:
        raise ValueError(
            f"graph_triangles: projected adjacency-intersection work "
            f"{work:.3g} (n={n_vertices} vertices, m={m_edges} edges, "
            f"density {2.0 * m_edges / max(n_vertices * (n_vertices - 1), 1):.3f}) "
            f"exceeds spark.analytics.graph.sparseMaxWork={work_cap:.3g}.  "
            "A graph this dense at this size has no tractable exact census "
            "in either branch (ledgered worst case: SCALE.md round-15 sf≈1 "
            "sweep — a 53%-dense 15k-vertex co-activity graph, W≈9.5e11, "
            "where even the wedge-join oracle is intractable).  Options: "
            "sample edges and extrapolate the clustering coefficient, "
            "pre-filter the co-occurrence buckets that densify the graph, "
            "or raise the cap linearly with cluster cores after sizing the "
            "job (W≈3.1e10 measured 87–338 s on one 32-thread box)."
        )

    wedges = int((d * (d - 1) // 2).sum())
    deg_local = local_frame(spark, deg_pd, deg.schema)
    ed = (
        edges.join(
            F.broadcast(
                deg_local.select(F.col("node").alias("u"), F.col("degree").alias("du"))
            ),
            "u",
        ).join(
            F.broadcast(
                deg_local.select(F.col("node").alias("v"), F.col("degree").alias("dv"))
            ),
            "v",
        )
    )
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    e_dir = materialize(
        ed.select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        ),
        os.path.join(scratch, "e_dir"),
    )
    # Explicit repartition: the materialized edge file is compact
    # (~8 B/row columnar), so maxPartitionBytes would hand the whole
    # intersection stage to one or two scan tasks — the probe's other
    # single-task bottleneck.  A round-robin spread of the skinny
    # (src, dst) rows is cheap and sizes the stage to the session's
    # shuffle parallelism.
    e_dir = e_dir.repartition(int(spark.conf.get("spark.sql.shuffle.partitions", "200")))
    # The out-neighborhood aggregate stays LAZY: it has exactly one
    # physical consumer — the single broadcast relation / reused
    # exchange both join sides share (_sparse_triangle_sum_frame) — so
    # writing the array-heavy nbrs table would be a pure
    # materialization tax (1.53 vs 1.11 s for the intersection stage at
    # sf0.1).
    nbrs = e_dir.groupBy("src").agg(F.collect_set("dst").alias("nb"))
    bcast_cap = conf.get(spark, "spark.analytics.graph.broadcastNbrsMaxEdges")
    tri = _sparse_triangle_sum_frame(
        e_dir, nbrs, m_edges <= bcast_cap, e_dir.schema["dst"].dataType
    )
    t = int(tri.collect()[0]["t"] or 0)
    return _census_summary(spark, m_edges, wedges, t)


def _sparse_triangle_sum_frame(
    e_dir: DataFrame, nbrs: DataFrame, broadcast_adjacency: bool, v_type
) -> DataFrame:
    """Per-edge adjacency-intersection count as a 1-row (t) frame.

    The adjacency is hinted ONCE, on the shared ``nbrs`` frame, and
    aliased for the two join sides.  Both joins key on the exchange's
    first output column, so the plans canonicalize identically and a
    SINGLE broadcast hash relation is built and shipped for both —
    ReuseExchange statically with AQE off, the AQE stage cache at
    runtime otherwise.  A per-side ``F.broadcast`` would risk ~2×
    on-wire/in-memory right at the broadcastNbrsMaxEdges cap; this
    formulation plus the ReusedExchange plan test pins the
    single-relation invariant the cap's sizing assumes."""
    if broadcast_adjacency:
        nbrs = F.broadcast(nbrs)
    nbrs_u = nbrs.select(F.col("src").alias("u"), F.col("nb").alias("nu"))
    nbrs_v = nbrs.select(F.col("src").alias("v"), F.col("nb").alias("nv"))
    return (
        e_dir.join(nbrs_u, F.col("src") == F.col("u"))
        .join(nbrs_v, F.col("dst") == F.col("v"), "left")
        .select(
            F.size(
                F.array_intersect(
                    F.col("nu"),
                    # Empty-array literal typed from the actual node-id
                    # column: the census accepts any id type, and a
                    # hard-coded bigint here would fail analysis exactly
                    # when a non-bigint graph crosses the dense caps.
                    F.coalesce(
                        F.col("nv"),
                        F.array().cast(ArrayType(v_type)),
                    ),
                )
            ).alias("k")
        )
        .agg(F.sum("k").alias("t"))
    )


def _census_summary(
    spark: SparkSession, m_edges: int, wedges: int, t: int
) -> DataFrame:
    """The shared 1-row summary both census paths return — built from
    driver-side scalars only, so it is never backed by scratch files."""
    ddl = "n_edges long, n_wedges long, n_triangles long"
    summary = local_frame(spark, [(m_edges, wedges, t)], ddl)
    return summary.select(
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.round(
            3.0 * F.col("n_triangles") / F.col("n_wedges"), 6
        ).alias("global_clustering"),
    )
