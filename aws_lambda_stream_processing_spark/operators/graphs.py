"""Graph operators over relationally-derived graphs (SURVEY.md §2,
round 2): triangle census and fixed-point PageRank on the part
co-occurrence graph (parts are connected iff some order contains both),
plus the recursive-CTE SQL surface. Complements the label-propagation
connected components already in `llm/dedup.py` (q_llm_dedup_cc).

Reference identity per SURVEY §0 [T1 README.md:3-4]; algorithms are the
public definitions (node-iterator triangle counting, PageRank as in the
original Brin/Page formulation with damping 0.85).

Exactness discipline: PageRank runs in FIXED-POINT integer arithmetic
(scale 10^12, floor division) — float PageRank sums neighbor
contributions in nondeterministic order, so its low bits are not
engine-portable; the integer iteration is bit-exact on both engines and
converges the same way (the quantization error is < N/SCALE per step).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aws_lambda_stream_processing_spark.registry import (
    app_memo,
    query,
    release_local_checkpoint,
    track_cache,
    tracked_local_checkpoint,
)
from aws_lambda_stream_processing_spark.tables import load_table


def _part_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct undirected co-occurrence edges (u < v): two parts are
    adjacent iff they appear in the same order. Built by aggregating
    each order's part set (ONE shuffle on l_orderkey) and emitting the
    in-array combinations with nested higher-order transforms — NOT a
    fact-table self-join: the join form shuffles lineitem twice and
    measured 8.9 s vs 3.6 s for this form at sf0.1 (same 1.196M edges).
    The pair explosion is bounded by (lines per order choose 2), a small
    constant per order, and the distinct output by (part vocabulary)²,
    not fact-table size. The oracle keeps the self-join formulation —
    same relation, independent derivation.

    CACHED per (application, sf_dir): four graph queries (triangles,
    pagerank, degree_dist, bfs) each need the same ~1.2M-edge relation,
    and building it costs ~4 s at sf0.1, so a suite would pay ~16 s
    without the memo. Family-scoped: it lives while consecutive graph
    queries share it and is released by the registry janitor on the
    first non-graph build (the r6 aged-suite tail traced to
    session-lifetime cached blocks)."""

    def build() -> DataFrame:
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey"
        )
        return (
            li.groupBy("l_orderkey")
            .agg(F.array_sort(F.collect_set("l_partkey")).alias("ps"))
            .select(
                F.explode(
                    F.expr(
                        "flatten(transform(ps, (x, i) -> "
                        "transform(slice(ps, i + 2, size(ps)), "
                        "y -> struct(x AS u, y AS v))))"
                    )
                ).alias("e")
            )
            .select("e.u", "e.v")
            .distinct()
            .cache()
        )

    return app_memo(spark, ("part_edges", sf_dir), build, scope="graphs")


def _degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(node, degree) over the bidirectional co-occurrence adjacency —
    the probe-selection relation that six graph rungs each recomputed
    with their own graph-sized shuffle (r12 audit: ~1-1.5 s apiece at
    sf0.1). Same family-scoped memo as _part_edges: built once per
    (application, sf_dir), vocabulary-sized (one row per part), and
    janitor-released with the graph family."""

    def build() -> DataFrame:
        half = _part_edges(spark, sf_dir)
        return (
            half.select(F.col("u").alias("node"))
            .unionAll(half.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("degree"))
            .cache()
        )

    return app_memo(spark, ("degrees", sf_dir), build, scope="graphs")


_EDGES_SQL = """
    SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
"""


@query(
    "q_graph_edges_build",
    oracle=f"""
    WITH e AS ({_EDGES_SQL}),
    ends AS (
      SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e
    ),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS deg
      FROM ends GROUP BY node
    )
    SELECT CAST(SUM(deg) / 2 AS BIGINT) AS n_edges,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(MIN(deg) AS BIGINT) AS min_degree,
           CAST(MAX(deg) AS BIGINT) AS max_degree
    FROM deg
    """,
    category="2.C",
)
def q_graph_edges_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-family BUILD rung — owns the shared materializations every
    other graph query reads warm, so per-query bench numbers stay
    honest (r7 verdict item 4: the ~14 s _part_edges + quotient-BFS
    build landed on whichever graph query happened to run first each
    round, tripping false >2x flags that needed manual adjudication
    every bench).

    Registered FIRST in the graphs family (file order = registration
    order), it (1) builds and pins the part co-occurrence edge relation
    (_part_edges — the ~1.2M-edge memo four operators share), (2)
    materializes the sparsified quotient BFS path-count artifact R(s,
    v, d, sig) that stress-centrality and eccentricity read, and (3)
    returns an exact-oracle summary of the edge relation (edge/node
    counts + degree extrema, with sum(deg)=2|E| as the built-in
    consistency identity). The family-scoped janitor releases all
    pinned artifacts on the first non-graph build, unchanged.

    This is the standard warehouse posture at 100 TB: a derived graph
    is a MATERIALIZED artifact with its own build job and freshness
    accounting, not something every analytics query re-derives; the
    summary row is the build's audit record. One shuffle on l_orderkey
    for the set-combination edge build, one bounded degree agg — the
    oracle recomputes the relation via the independent self-join
    formulation."""
    e = _part_edges(spark, sf_dir)
    # Materialize the stress/eccentricity BFS artifact under this
    # rung's clock (eager localCheckpoints inside) — its readers then
    # time their own analytics, not the shared build.
    _quotient_bfs(spark, sf_dir)
    ends = e.select(F.col("u").alias("node")).unionAll(
        e.select(F.col("v").alias("node"))
    )
    deg = ends.groupBy("node").agg(F.count("*").cast("long").alias("deg"))
    return deg.agg(
        (F.sum("deg") / 2).cast("long").alias("n_edges"),
        F.count("*").cast("long").alias("n_nodes"),
        F.min("deg").cast("long").alias("min_degree"),
        F.max("deg").cast("long").alias("max_degree"),
    )


def _triangle_count(e: DataFrame) -> DataFrame:
    """1-row n_triangles over the u<v-oriented edge relation, shared by
    q_graph_triangles and q_graph_clustering_coeff.

    Ordered edge enumeration: with every edge stored once as u < v, the
    join e1(u,v) |> e2(v,w) |> probe e3(u,w) emits each triangle exactly
    once (u < v < w by construction) — no /6 correction. Both build
    sides are the same vocabulary-sized edge relation, broadcast, so the
    whole census is ONE no-shuffle 32-task stage: scan → broadcast
    wedge-expand → broadcast probe → partial count.

    The probe key is PACKED into a single int64 (u << 32 | w): Spark's
    long-keyed broadcast relation (LongHashedRelation) probes ~3x faster
    than the generic two-column UnsafeRow path, and the select down to
    the one packed long drops the wedge stream from a 4-col row copy to
    8 bytes/row. Measured at sf0.1 (1.196M edges, 49.3M wedges): 5.2 s
    (two-col generic keys, width 8) → 1.6-3.1 s packed (width 16).
    Packing is collision-free while node ids < 2^32 — part keys here;
    for wider id spaces drop back to the two-column key.

    Degree-ordered orientation (r4 ask) was re-measured and REJECTED
    with numbers for THIS graph: degrees are near-uniform (sf0.1:
    20k nodes, median d=119, max 222), so orienting lower-degree →
    higher-degree shrinks the wedge stream only 49.3M → 41.1M (17%) —
    the degree-attach joins cost more than that. On a power-law graph
    the same rewrite is the right upgrade; the packed-key fix is
    orientation-independent and composes with it.

    Scale shape: distributed edge-iterator — two equi hash joins on
    node keys. At 100 TB the broadcasts become shuffle joins on the
    same keys (pre-bucket edges by u; AQE skew split for hub nodes);
    the packed-key trick and topology are unchanged."""
    ek = e.select((F.shiftleft(F.col("u"), 32) + F.col("v")).alias("k"))
    e2 = e.select(F.col("u").alias("mu"), F.col("v").alias("w"))
    return (
        e.repartition(16)
        .join(F.broadcast(e2), F.col("mu") == F.col("v"))
        .select((F.shiftleft(F.col("u"), 32) + F.col("w")).alias("k"))
        .join(F.broadcast(ek), "k")
        .agg(F.count("*").alias("n_triangles"))
    )


@query(
    "q_graph_triangles",
    oracle=f"""
    WITH edges AS ({_EDGES_SQL}),
    tri AS (
      SELECT 1 FROM edges e1
      JOIN edges e2 ON e2.u = e1.v
      JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM edges) AS n_edges,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM tri) AS n_triangles
    """,
    category="2.C",
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle census of the part co-occurrence graph — ordered
    edge enumeration with packed int64 probe keys; algorithm, measured
    numbers, and the degree-orientation rejection are documented on
    `_triangle_count` (shared with q_graph_clustering_coeff)."""
    e = _part_edges(spark, sf_dir)
    edges_n = e.agg(F.count("*").alias("n_edges"))
    return edges_n.crossJoin(F.broadcast(_triangle_count(e)))


_PR_SCALE = 10**12
_PR_ITERS = 3


def _pagerank_oracle() -> str:
    """Chained-CTE integer PageRank for DuckDB (// is floor division;
    Spark side uses `div` — identical on the positive values here)."""
    body = f"""
    WITH edges_half AS ({_EDGES_SQL}),
    edges AS (
      SELECT u, v FROM edges_half
      UNION ALL
      SELECT v AS u, u AS v FROM edges_half
    ),
    deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY u),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg),
    pr0 AS (
      SELECT deg.u AS node, {_PR_SCALE} // n.n_nodes AS pr
      FROM deg CROSS JOIN n
    )"""
    prev = "pr0"
    for i in range(1, _PR_ITERS + 1):
        body += f""",
    c{i} AS (
      SELECT e.v AS node,
             CAST(SUM(p.pr // deg.d) AS BIGINT) AS contrib
      FROM edges e
      JOIN {prev} p ON p.node = e.u
      JOIN deg ON deg.u = e.u
      GROUP BY e.v
    ),
    pr{i} AS (
      SELECT c.node,
             ({_PR_SCALE} * 15) // (100 * n.n_nodes)
             + (85 * c.contrib) // 100 AS pr
      FROM c{i} c CROSS JOIN n
    )"""
        prev = f"pr{i}"
    body += f"""
    SELECT node, pr FROM {prev}
    ORDER BY pr DESC, node
    LIMIT 10
    """
    return body


@query("q_graph_pagerank", oracle=_pagerank_oracle(), category="2.C")
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, {iters} fixed iterations) on the
    symmetrized part co-occurrence graph, in fixed-point integer
    arithmetic at scale 10^12: pr' = (0.15*S)//N + (85*sum(pr//deg))//100
    with floor division throughout. Summing integers is
    order-independent, so the result is bit-exact on any engine and any
    partitioning — the property float PageRank lacks. Top-10 by rank,
    node tiebreak.

    Scale shape: each iteration is one equi join (pr |> edges, both
    partitioned by node) + one hash agg on the target node — the classic
    distributed PageRank step. The degree table joins on the same key, so
    a bucketed layout pays one shuffle total; the symmetric graph has no
    dangling-mass correction to carry. Iteration count is fixed (an
    analytics snapshot, not a convergence loop), so the plan is a static
    {iters}-stage chain — no driver-side loop state beyond plan
    construction, no collect().""".format(iters=_PR_ITERS)
    half = _part_edges(spark, sf_dir)
    # The co-occurrence graph is vocabulary-sized (<= |parts|^2 edges,
    # ~20k here) while the session's shuffle width is sized for the fact
    # tables — running the 3-iteration join chain at fact-table width
    # costs ~10 stage launches of pure overhead. Coalesce the tiny graph
    # to a handful of partitions; at a 100 TB part vocabulary you'd raise
    # this (or bucket by node) but the iteration topology is unchanged.
    edges = (
        half.union(half.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .coalesce(8)
        .cache()
    )
    track_cache(edges.unpersist)  # query-local: janitor frees it next build
    # deg is node-sized and referenced by every iteration; without the
    # (lazy — the rung is plan-gated MUST_BE_LAZY) cache each iteration's
    # plan subtree re-aggregates the 2.4M-row edge relation (r12 plan
    # audit: 15 Exchanges, 3 of them re-derivations of deg). Janitor
    # frees it when the next query builds, like `edges`.
    deg = edges.groupBy("u").agg(F.count("*").alias("d")).cache()
    track_cache(deg.unpersist)
    n = deg.agg(F.count("*").alias("n_nodes"))
    pr = (
        deg.crossJoin(F.broadcast(n))
        .select(
            F.col("u").alias("node"),
            F.expr(f"{_PR_SCALE} div n_nodes").alias("pr"),
        )
    )
    for _ in range(_PR_ITERS):
        # Attach the degree to the NODE-sized rank table first (guide
        # §2.3: join small with small before touching the big side),
        # then send one broadcast share table into the edge relation —
        # the r11 form joined edges⋈pr and then ⋈deg again, paying two
        # edge-sized broadcast-join passes per iteration. `pr div d` is
        # the identical integer expression, so the contribution multiset
        # (and every downstream sum) is bit-for-bit unchanged.
        share = (
            pr.join(deg, pr["node"] == deg["u"])
            .select(pr["node"].alias("src"), F.expr("pr div d").alias("share"))
        )
        contrib = (
            edges.join(F.broadcast(share), edges["u"] == share["src"])
            .select(F.col("v").alias("node"), "share")
            .groupBy("node")
            .agg(F.sum("share").alias("contrib"))
        )
        pr = contrib.crossJoin(F.broadcast(n)).select(
            "node",
            F.expr(
                f"({_PR_SCALE} * 15) div (100 * n_nodes)"
                " + (85 * contrib) div 100"
            ).alias("pr"),
        )
    return pr.orderBy(F.desc("pr"), "node").limit(10)


@query(
    "q_sql_recursive_cte",
    oracle="""
    WITH RECURSIVE anc AS (
      SELECT p_partkey AS node, p_partkey AS ancestor, 0 AS depth
      FROM part WHERE p_partkey >= (SELECT MAX(p_partkey) - 3 FROM part)
      UNION ALL
      SELECT node, ancestor // 2 AS ancestor, depth + 1 AS depth
      FROM anc WHERE ancestor > 0
    )
    SELECT node, ancestor, depth FROM anc
    ORDER BY node, depth
    """,
    category="2.A",
)
def q_sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4 WITH RECURSIVE): ancestor chains in the
    implicit binary tree parent(k) = k//2 — the BOM/org-hierarchy
    traversal shape — for the four highest part keys (anchor bound via a
    scalar subquery, so the frontier stays 4 nodes at every SF). Floor division on
    non-negative keys is identical between Spark's `div` and DuckDB's
    `//`; depth is bounded by log2(maxkey) so the recursion terminates in
    ~8 rounds. Each round is one filter+project over the frontier — the
    same iterative-join shape as the PageRank chain but driven by the
    engine's recursion operator instead of an unrolled plan."""
    load_table(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql(
        """
        WITH RECURSIVE anc AS (
          SELECT p_partkey AS node, p_partkey AS ancestor, 0 AS depth
          FROM part WHERE p_partkey >= (SELECT MAX(p_partkey) - 3 FROM part)
          UNION ALL
          SELECT node, ancestor div 2 AS ancestor, depth + 1 AS depth
          FROM anc WHERE ancestor > 0
        )
        SELECT node, ancestor, depth FROM anc
        ORDER BY node, depth
        """
    )


@query(
    "q_graph_degree_dist",
    oracle=f"""
    WITH edges AS ({_EDGES_SQL}),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS degree
      FROM (SELECT u AS node FROM edges
            UNION ALL
            SELECT v AS node FROM edges)
      GROUP BY node
    )
    SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_parts
    FROM deg GROUP BY degree ORDER BY degree
    """,
    category="2.C",
)
def q_graph_degree_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the part co-occurrence graph — the first
    diagnostic on any relationally-derived graph (skew here predicts
    hot-key trouble in every downstream graph op: a power-law tail means
    PageRank/triangles need salting). Both directions of each undirected
    edge count once toward their endpoint, one hash agg per level:
    edges → degrees → histogram. The histogram domain is bounded by the
    max degree, so the second agg collapses map-side; the only real
    shuffle is the degree count, keyed by node. Exact integers
    throughout."""
    deg = _degrees(spark, sf_dir)
    return (
        deg.groupBy("degree")
        .agg(F.count("*").alias("n_parts"))
        .orderBy("degree")
    )


@query(
    "q_graph_bfs_3hop",
    oracle=f"""
    WITH half AS ({_EDGES_SQL}),
    edges AS (
      SELECT u, v FROM half UNION ALL SELECT v, u FROM half
    ),
    src AS (SELECT MIN(u) AS s FROM edges),
    r0 AS (SELECT s AS node FROM src),
    r1 AS (
      SELECT node FROM r0
      UNION SELECT e.v FROM edges e JOIN r0 ON e.u = r0.node
    ),
    r2 AS (
      SELECT node FROM r1
      UNION SELECT e.v FROM edges e JOIN r1 ON e.u = r1.node
    ),
    r3 AS (
      SELECT node FROM r2
      UNION SELECT e.v FROM edges e JOIN r2 ON e.u = r2.node
    ),
    allp AS (SELECT DISTINCT u AS node FROM edges)
    SELECT 0 AS dist, CAST((SELECT COUNT(*) FROM r0) AS BIGINT) AS n_parts
    UNION ALL SELECT 1, (SELECT COUNT(*) FROM r1) - (SELECT COUNT(*) FROM r0)
    UNION ALL SELECT 2, (SELECT COUNT(*) FROM r2) - (SELECT COUNT(*) FROM r1)
    UNION ALL SELECT 3, (SELECT COUNT(*) FROM r3) - (SELECT COUNT(*) FROM r2)
    UNION ALL SELECT -1, (SELECT COUNT(*) FROM allp)
                         - (SELECT COUNT(*) FROM r3)
    ORDER BY dist
    """,
    category="2.C",
)
def q_graph_bfs_3hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Level-synchronous BFS, 3 unrolled hops from the minimum-id part:
    how much of the co-occurrence graph is within k hops (dist = -1
    counts the still-unreached remainder) — the reachability probe that
    sizes any traversal before you run it. Each hop is one equi join of
    the delta frontier against the bidirectional edge list — exactly
    Pregel's superstep as relational algebra; 3 fixed rounds keep the
    plan static (the q_graph_pagerank unrolling discipline).

    Each level's DELTA frontier (newly discovered nodes only) is found
    by a broadcast ANTI join against the union of prior frontiers (node
    sets are part-vocabulary sized, far below the fact table) and
    pinned with a localCheckpoint — lineage truncation makes each
    level's edge-join run EXACTLY once (the r3 cache/exceptAll chain
    re-derived upstream levels inside every downstream job: 5 eager
    count() actions + 2 extra shuffles per hop; a cache-only rewrite of
    this form still re-executed ~110 stages). The histogram then falls
    out of ONE final action: groupBy(dist).count() over the dist-labeled
    frontier union plus the anti-joined unreached complement. The
    per-level checkpoints materialize only node-id sets; the anti join
    runs BEFORE the dedup shuffle so distinct() sees only unseen nodes.
    Counts are exact; all pinned blocks are released before returning
    (the result is a local DataFrame)."""
    half = _part_edges(spark, sf_dir)
    edges = half.unionAll(
        half.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).coalesce(8).cache()
    src = edges.agg(F.min("u").alias("node")).localCheckpoint()
    frontiers = [src]  # frontiers[k] = nodes first reached at dist k
    try:
        seen = src
        for _ in range(3):
            frontier = (
                edges.join(
                    F.broadcast(
                        frontiers[-1].withColumnRenamed("node", "u")
                    ),
                    "u",
                )
                .select(F.col("v").alias("node"))
                .join(F.broadcast(seen), "node", "left_anti")
                .distinct()
                .localCheckpoint()
            )
            frontiers.append(frontier)
            seen = seen.unionAll(frontier)
        labeled = frontiers[0].withColumn("dist", F.lit(0))
        for k, fr in enumerate(frontiers[1:], start=1):
            labeled = labeled.unionAll(fr.withColumn("dist", F.lit(k)))
        per_level = labeled.groupBy("dist").agg(F.count("*").alias("n"))
        unreached = (
            edges.select(F.col("u").alias("node"))
            .distinct()
            .join(F.broadcast(seen), "node", "left_anti")
            .groupBy(F.lit(-1).alias("dist"))
            .agg(F.count("*").alias("n"))
        )
        # ONE action for the whole histogram (levels + complement).
        got = {
            r["dist"]: r["n"]
            for r in per_level.unionAll(unreached).collect()
        }
        rows = [(k, got.get(k, 0)) for k in (-1, 0, 1, 2, 3)]
        return spark.createDataFrame(sorted(rows), "dist int, n_parts long")
    finally:
        # release EVERY pinned intermediate (round-2 advice: leaked
        # frames accumulate in executor storage across a suite run).
        for fr in frontiers:
            release_local_checkpoint(fr)
        edges.unpersist()


@query(
    "q_graph_common_neighbors",
    oracle=f"""
    WITH half AS ({_EDGES_SQL}),
    adj AS (
      SELECT u AS node, v AS nbr FROM half
      UNION ALL
      SELECT v AS node, u AS nbr FROM half
    ),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS degree
      FROM adj GROUP BY node
    ),
    probes AS (
      SELECT node AS probe FROM deg
      ORDER BY degree DESC, node LIMIT 20
    ),
    pn AS (
      SELECT p.probe, a.nbr AS z
      FROM probes p JOIN adj a ON a.node = p.probe
    ),
    cand AS (
      SELECT pn.probe, a.nbr AS cand,
             CAST(COUNT(*) AS BIGINT) AS cn
      FROM pn JOIN adj a ON a.node = pn.z
      WHERE a.nbr <> pn.probe
        AND NOT EXISTS (SELECT 1 FROM adj x
                        WHERE x.node = pn.probe AND x.nbr = a.nbr)
      GROUP BY pn.probe, a.nbr
    ),
    ranked AS (
      SELECT probe, cand, cn,
             row_number() OVER (PARTITION BY probe
                                ORDER BY cn DESC, cand) AS rk
      FROM cand
    )
    SELECT probe, cand, cn, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= 5
    ORDER BY probe, rk
    """,
    category="2.C",
)
def q_graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbors link prediction (Liben-Nowell & Kleinberg) on the
    part co-occurrence graph: for the 20 highest-degree probe nodes
    (deterministic ties: node id), the 5 strongest NON-adjacent
    candidates by shared-neighbor count. The two-hop expansion joins the
    bounded probe-neighbor set (|probes| x max-degree rows) against the
    adjacency — never adjacency x adjacency; existing links drop via a
    left-anti join; ranks are integer-ordered (cn desc, id) so no float
    enters the ordering. Probe selection is a TakeOrdered top-k (per-
    partition heads merged on the driver), not a global sort. The final
    window partitions by probe — 20 bounded partitions by construction
    (candidates <= probe's 2-hop ball, degree-bounded)."""
    edges = _part_edges(spark, sf_dir)
    adj = edges.select(F.col("u").alias("node"), F.col("v").alias("nbr")).unionAll(
        edges.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    )
    deg = _degrees(spark, sf_dir)
    probes = (
        deg.orderBy(F.desc("degree"), "node")
        .limit(20)
        .select(F.col("node").alias("probe"))
    )
    pn = adj.join(
        F.broadcast(probes), adj.node == F.col("probe")
    ).select("probe", F.col("nbr").alias("z"))
    # broadcast the BOUNDED probe-neighbor side (|probes| x max-degree
    # rows), never the data-scaled adjacency: auto-broadcast picked adj
    # (under the byte threshold at this SF), which built a graph-sized
    # hash relation serially per query and cannot survive 100x (§3.1)
    hop2 = (
        F.broadcast(pn).join(adj, pn.z == adj.node)
        .where(F.col("nbr") != F.col("probe"))
        .select("probe", F.col("nbr").alias("cand"))
    )
    # existing-link suppression only needs probe-incident edges: rows of
    # adj with node outside the probe panel can never match the anti
    # join's (probe, cand) key, so pre-filter to the bounded slice and
    # broadcast it (§3.2 — pre-filter the big side before it moves)
    linked = (
        adj.join(F.broadcast(probes), adj.node == F.col("probe"))
        .select("probe", F.col("nbr").alias("cand"))
    )
    cand = (
        hop2.join(F.broadcast(linked), ["probe", "cand"], "left_anti")
        .groupBy("probe", "cand")
        .agg(F.count("*").alias("cn"))
    )
    w = Window.partitionBy("probe").orderBy(F.desc("cn"), "cand")
    return (
        cand.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= 5)
        .select("probe", "cand", "cn", "rk")
        .orderBy("probe", "rk")
    )


@query(
    "q_graph_adamic_adar",
    oracle=f"""
    WITH half AS ({_EDGES_SQL}),
    adj AS (
      SELECT u AS node, v AS nbr FROM half
      UNION ALL
      SELECT v AS node, u AS nbr FROM half
    ),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS degree
      FROM adj GROUP BY node
    ),
    probes AS (
      SELECT node AS probe FROM deg
      ORDER BY degree DESC, node LIMIT 10
    ),
    pn AS (
      SELECT p.probe, a.nbr AS z
      FROM probes p JOIN adj a ON a.node = p.probe
    ),
    cand AS (
      SELECT pn.probe, a.nbr AS cand,
             CAST(COUNT(*) AS BIGINT) AS cn,
             floor(CAST(SUM(
                 CASE WHEN d.degree >= 2
                      THEN CAST(floor(1e12 / ln(CAST(d.degree AS DOUBLE))
                                      + 0.5) AS BIGINT) END
               ) AS DOUBLE) / 10000.0 + 0.5) / 100000000.0 AS aa
      FROM pn
      JOIN adj a ON a.node = pn.z
      JOIN deg d ON d.node = pn.z
      WHERE a.nbr <> pn.probe
        AND NOT EXISTS (SELECT 1 FROM adj x
                        WHERE x.node = pn.probe AND x.nbr = a.nbr)
      GROUP BY pn.probe, a.nbr
    ),
    ranked AS (
      SELECT probe, cand, cn, aa,
             row_number() OVER (PARTITION BY probe
                                ORDER BY cn DESC, cand) AS rk
      FROM cand
    )
    SELECT probe, cand, cn, aa, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= 5
    ORDER BY probe, rk
    """,
    category="2.C",
)
def q_graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link score over the same probe-based candidate set as
    q_graph_common_neighbors: AA(p,x) = sum over shared neighbors z of
    1/ln(deg z) — rare shared neighbors weigh more. deg(z) attaches to
    the bounded probe-neighbor set BEFORE the two-hop join (broadcasting
    the data-scaled degree table would not survive 100x). ln is
    transcendental, so ranking stays on exact integers (cn desc, id) and
    AA is reported as a DECIMAL-summed, floor-8dp VALUE only — a 1-ulp
    ln drift can never reorder rows (law 18). Degree-1 neighbors are
    excluded from AA (ln 1 = 0), counted in cn."""
    edges = _part_edges(spark, sf_dir)
    adj = edges.select(F.col("u").alias("node"), F.col("v").alias("nbr")).unionAll(
        edges.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    )
    deg = _degrees(spark, sf_dir)
    probes = (
        deg.orderBy(F.desc("degree"), "node")
        .limit(10)
        .select(F.col("node").alias("probe"))
    )
    pn = (
        adj.join(F.broadcast(probes), adj.node == F.col("probe"))
        .select("probe", F.col("nbr").alias("z"))
        .join(deg, F.col("z") == deg.node)
        .select("probe", "z", "degree")
    )
    # fixed-point 1e12 AA terms: 1/ln(d) is ONE division of identical
    # doubles, floor(x*1e12+0.5) is deterministic, and int64 sums are
    # exact AND fast — decimal accumulators pay per-row object
    # arithmetic (§8 law 9; measured 20.2 s → 10.2 s cold / 5.0 s with
    # the edge relation already cached, sf0.1, 2.4M candidate rows).
    aa_term = F.when(
        F.col("degree") >= 2,
        F.floor(
            F.lit(1.0e12) / F.log(F.col("degree").cast("double"))
            + F.lit(0.5)
        ).cast("long"),
    )
    # broadcast the bounded probe-neighbor side and pre-filter the
    # anti-join build side to probe-incident edges — the
    # q_graph_common_neighbors discipline (§3.1/§3.2): auto-broadcast
    # otherwise ships the whole adjacency twice per query
    hop2 = (
        F.broadcast(pn).join(adj, pn.z == adj.node)
        .where(F.col("nbr") != F.col("probe"))
        .select("probe", F.col("nbr").alias("cand"), aa_term.alias("t"))
    )
    linked = (
        adj.join(F.broadcast(probes), adj.node == F.col("probe"))
        .select("probe", F.col("nbr").alias("cand"))
    )
    cand = (
        hop2.join(F.broadcast(linked), ["probe", "cand"], "left_anti")
        .groupBy("probe", "cand")
        .agg(
            F.count("*").alias("cn"),
            (
                F.floor(
                    F.sum("t").cast("double") / 10000.0 + F.lit(0.5)
                )
                / 100000000.0
            ).alias("aa"),
        )
    )
    w = Window.partitionBy("probe").orderBy(F.desc("cn"), "cand")
    return (
        cand.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= 5)
        .select("probe", "cand", "cn", "aa", "rk")
        .orderBy("probe", "rk")
    )


@query(
    "q_graph_clustering_coeff",
    oracle=f"""
    WITH edges AS ({_EDGES_SQL}),
    tri AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
      FROM edges e1
      JOIN edges e2 ON e2.u = e1.v
      JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS d
      FROM (SELECT u AS node FROM edges
            UNION ALL SELECT v AS node FROM edges)
      GROUP BY node
    ),
    w AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
             CAST(SUM(d) AS BIGINT) // 2 AS n_edges,
             CAST(SUM(d * (d - 1)) AS BIGINT) // 2 AS n_wedges
      FROM deg
    )
    SELECT w.n_nodes, w.n_edges, w.n_wedges, t.n_triangles,
           floor(3.0 * t.n_triangles / w.n_wedges * 100000000.0 + 0.5)
             / 100000000.0 AS global_cc
    FROM w CROSS JOIN tri t
    """,
    category="2.C",
)
def q_graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global clustering coefficient (transitivity) of the part
    co-occurrence graph: C = 3 x triangles / wedges — "how often do two
    co-purchased parts also co-purchase each other?". Triangles reuse the
    ordered-enumeration join (each counted once, u<v<w); wedges fold in
    closed form from the degree table (sum d(d-1)/2 — exact int64, no
    path enumeration). ONE division of exact integers, floor-8dp.
    Scale: the same packed-key broadcast-join census as
    q_graph_triangles (see `_triangle_count` for the plan shape and
    measured 5.2 → 1.6-3.1 s packed-key numbers) over the SHARED
    cached edge relation; the wedge side is a single degree agg."""
    e = _part_edges(spark, sf_dir)
    tri = _triangle_count(e)
    nodes = e.select(F.col("u").alias("node")).unionAll(
        e.select(F.col("v").alias("node"))
    )
    deg = nodes.groupBy("node").agg(F.count("*").alias("d"))
    w = deg.agg(
        F.count("*").alias("n_nodes"),
        (F.sum("d") / 2).cast("long").alias("n_edges"),
        (F.sum(F.col("d") * (F.col("d") - 1)) / 2).cast("long").alias(
            "n_wedges"
        ),
    )
    return w.crossJoin(F.broadcast(tri)).select(
        "n_nodes", "n_edges", "n_wedges", "n_triangles",
        (
            F.floor(
                3.0 * F.col("n_triangles") / F.col("n_wedges") * 100000000.0
                + F.lit(0.5)
            )
            / 100000000.0
        ).alias("global_cc"),
    )


@query(
    "q_graph_assortativity",
    oracle=f"""
    WITH half AS ({_EDGES_SQL}),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS d
      FROM (SELECT u AS node FROM half
            UNION ALL SELECT v AS node FROM half)
      GROUP BY node
    ),
    pairs AS (
      SELECT du.d AS x, dv.d AS y
      FROM half e JOIN deg du ON du.node = e.u
                  JOIN deg dv ON dv.node = e.v
      UNION ALL
      SELECT dv.d AS x, du.d AS y
      FROM half e JOIN deg du ON du.node = e.u
                  JOIN deg dv ON dv.node = e.v
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS m,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM pairs
    )
    SELECT m, floor((CAST(m AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sx)
                    / (CAST(m AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    * 1000000.0 + 0.5) / 1000000.0 AS assortativity
    FROM m
    """,
    category="2.C",
)
def q_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman 2002): the Pearson correlation of
    degrees across edge endpoints — "do popular parts co-occur with
    popular parts?" (positive: social-network-like hubs-with-hubs;
    negative: hub-and-spoke). Each undirected edge contributes BOTH
    orientations, making the pair set symmetric, so r collapses to
    (m Sxy - Sx^2)/(m Sxx - Sx^2) over three exact int64 moments — one
    IEEE tree, floor-6dp. The symmetry is exploited on the COMPUTE side
    too (r3 verdict #3): the moments of the symmetric pair multiset are
    exactly m = 2h, Sx = Σ(x+y), Sxx = Σ(x²+y²), Sxy = 2Σxy over the
    h half-edges, so the degree equi-joins execute ONCE on a single
    orientation instead of materializing both — identical integers,
    half the join work. Scale: two equi-joins attach endpoint degrees
    (node-keyed, same co-partitioning as every other op on this graph),
    one agg; no window, no all-pairs."""
    e = _part_edges(spark, sf_dir)
    nodes = e.select(F.col("u").alias("node")).unionAll(
        e.select(F.col("v").alias("node"))
    )
    deg = nodes.groupBy("node").agg(F.count("*").alias("d"))
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("xu"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("xv"))
    j = e.join(du, "u").join(dv, "v")
    m = j.agg(
        (F.count("*") * 2).alias("m"),
        F.sum(F.col("xu") + F.col("xv")).alias("sx"),
        F.sum(
            F.col("xu") * F.col("xu") + F.col("xv") * F.col("xv")
        ).alias("sxx"),
        (F.sum(F.col("xu") * F.col("xv")) * 2).alias("sxy"),
    )
    md = F.col("m").cast("double")
    sxd = F.col("sx").cast("double")
    r = (md * F.col("sxy") - sxd * F.col("sx")) / (
        md * F.col("sxx") - sxd * F.col("sx")
    )
    return m.select(
        "m",
        (F.floor(r * 1000000.0 + F.lit(0.5)) / 1000000.0).alias(
            "assortativity"
        ),
    )


_LPA_ITERS = 3
_LPA_PIN_EVERY = 4  # lineage-pin cadence for deep LPA runs (see _lpa_labels)
# deterministic sparsifier: the raw co-occurrence graph is so dense
# (median degree ~119) that min-label flooding converges to one giant
# community in ~2 hops; keeping ~9% of edges by a fixed hash keeps the
# 3-iteration label landscape non-degenerate at every SF
_LPA_EDGE_PRED = "(u * 31 + v) % 11 = 0"


def _lpa_oracle() -> str:
    body = f"""
    WITH half0 AS ({_EDGES_SQL}),
    half AS (SELECT u, v FROM half0 WHERE {_LPA_EDGE_PRED}),
    edges AS (
      SELECT u, v FROM half
      UNION ALL
      SELECT v AS u, u AS v FROM half
    ),
    l0 AS (SELECT DISTINCT u AS node, u AS lbl FROM edges)"""
    prev = "l0"
    for i in range(1, _LPA_ITERS + 1):
        body += f""",
    m{i} AS (
      SELECT e.v AS node, MIN(p.lbl) AS minl
      FROM edges e JOIN {prev} p ON p.node = e.u
      GROUP BY e.v
    ),
    l{i} AS (
      SELECT n.node,
             LEAST(n.lbl, COALESCE(m.minl, n.lbl)) AS lbl
      FROM {prev} n LEFT JOIN m{i} m ON m.node = n.node
    )"""
        prev = f"l{i}"
    body += f"""
    SELECT lbl AS community, CAST(COUNT(*) AS BIGINT) AS n_members
    FROM {prev}
    GROUP BY 1
    ORDER BY n_members DESC, community
    LIMIT 20
    """
    return body


@query("q_graph_lpa_communities", oracle=_lpa_oracle(), category="2.C")
def q_graph_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation community detection (r5 verdict stretch 9a),
    min-label variant over {iters} FIXED iterations: every node starts
    labeled with its own id; each round it adopts the minimum of its
    own label and its neighbors' labels. Integer min is associative,
    commutative, and tie-free, so the result is bit-exact on any
    engine and any partitioning — the q_graph_pagerank discipline, with
    MIN replacing the fixed-point sum. The graph is the part
    co-occurrence relation deterministically sparsified to ~9% of edges
    ((u*31+v) % 11 = 0): the raw graph's ~119 median degree floods one
    giant min-label community in two hops, while the sparsified
    3-iteration landscape keeps a real community-size distribution.
    Output: top-20 communities by size (community = min node id seen
    within {iters} hops).

    Scale shape: each iteration is one equi join (labels |> edges on
    the source node) + one MIN hash-agg on the target node + a
    left-join merge — identical topology to the PageRank step, so the
    same bucketed-layout argument applies at 100 TB; the unrolled plan
    is a static {iters}-stage chain with no driver-side loop state and
    no collect().""".format(iters=_LPA_ITERS)
    lab = _lpa_labels_shared(spark, sf_dir)
    return (
        lab.groupBy(F.col("lbl").alias("community"))
        .agg(F.count("*").alias("n_members"))
        .orderBy(F.desc("n_members"), "community")
        .limit(20)
    )


def _lpa_labels_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The converged LPA label relation, shared by
    q_graph_lpa_communities and q_graph_modularity (family-scoped memo
    per (application, sf_dir), like _part_edges). LAZY caches only —
    lpa_communities is in the zero-jobs-at-build gate, so the memo must
    not run jobs; the first driver materialization fills both caches
    and the second consumer reads them warm."""

    def build() -> tuple[DataFrame, DataFrame]:
        half = _part_edges(spark, sf_dir).where(F.expr(_LPA_EDGE_PRED))
        edges = (
            half.union(
                half.select(F.col("v").alias("u"), F.col("u").alias("v"))
            )
            .coalesce(8)
            .cache()
        )
        return _lpa_labels(edges, _LPA_ITERS).cache(), edges

    return app_memo(spark, ("lpa_labels", sf_dir), build, scope="graphs")[0]


def _lpa_labels(edges: DataFrame, iters: int) -> DataFrame:
    """The unrolled min-label propagation chain with a lineage guard.

    Every _LPA_PIN_EVERY-th round (never the last) is localCheckpoint-
    pinned, the k-core discipline — EXCEPT that at the query's shipped
    depth (3 < _LPA_PIN_EVERY rounds) no pin fires at all, keeping the
    build fully lazy: under AQE, even eager=False checkpointing calls
    .rdd, which materializes every upstream shuffle stage at BUILD time
    (measured: 16 jobs for the 3-round chain) and would break the
    zero-jobs-until-collect contract the registry's lazy builders keep.
    The guard exists so a deeper run (iters > _LPA_PIN_EVERY) bounds
    Catalyst's re-analysis cost instead of compounding a 2^rounds
    left-join lineage — tests/test_plans.py drives this path directly
    and asserts the pin engages."""
    lab = edges.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    )
    for i in range(iters):
        neigh = (
            edges.join(lab, lab["node"] == edges["u"])
            .groupBy(edges["v"])
            .agg(F.min("lbl").alias("minl"))
            .select(F.col("v").alias("node"), "minl")
        )
        lab = lab.join(neigh, "node", "left").select(
            "node",
            F.least(F.col("lbl"), F.coalesce("minl", "lbl")).alias("lbl"),
        )
        if (i + 1) % _LPA_PIN_EVERY == 0 and (i + 1) < iters:
            lab = tracked_local_checkpoint(lab, eager=False)
    return lab


def _modularity_oracle() -> str:
    """LPA label chain (same unroll as _lpa_oracle) + the Newman
    modularity of the resulting partition in pure integer arithmetic:
    Q = (4m·Σ_c m_c − Σ_c d_c²) / (4m²), emitted as round-half-up ppm
    via sign · ((|num|·10⁶ + den/2) div den) — den = 4m² is always even
    and every intermediate fits int64 (m ≈ 1.1e5 sparsified edges →
    |num|·10⁶ < 2^56), so no float touches the result."""
    body = f"""
    WITH half0 AS ({_EDGES_SQL}),
    half AS (SELECT u, v FROM half0 WHERE {_LPA_EDGE_PRED}),
    edges AS (
      SELECT u, v FROM half
      UNION ALL
      SELECT v AS u, u AS v FROM half
    ),
    l0 AS (SELECT DISTINCT u AS node, u AS lbl FROM edges)"""
    prev = "l0"
    for i in range(1, _LPA_ITERS + 1):
        body += f""",
    m{i} AS (
      SELECT e.v AS node, MIN(p.lbl) AS minl
      FROM edges e JOIN {prev} p ON p.node = e.u
      GROUP BY e.v
    ),
    l{i} AS (
      SELECT n.node,
             LEAST(n.lbl, COALESCE(m.minl, n.lbl)) AS lbl
      FROM {prev} n LEFT JOIN m{i} m ON m.node = n.node
    )"""
        prev = f"l{i}"
    body += f""",
    deg AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS deg
            FROM edges GROUP BY u),
    dc AS (
      SELECT l.lbl, CAST(SUM(d.deg) AS BIGINT) AS dsum
      FROM deg d JOIN {prev} l USING (node) GROUP BY l.lbl
    ),
    parts AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM half) AS m,
             (SELECT CAST(COUNT(*) AS BIGINT)
              FROM half h
              JOIN {prev} a ON a.node = h.u
              JOIN {prev} b ON b.node = h.v AND b.lbl = a.lbl) AS intra,
             (SELECT CAST(SUM(dsum * dsum) AS BIGINT) FROM dc) AS sds,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM dc) AS n_communities
    )
    SELECT m, intra AS intra_edges, n_communities,
           CAST(CASE WHEN 4 * m * intra - sds >= 0
                THEN (ABS(4 * m * intra - sds) * 1000000 + 2 * m * m)
                     // (4 * m * m)
                ELSE -((ABS(4 * m * intra - sds) * 1000000 + 2 * m * m)
                     // (4 * m * m)) END AS BIGINT) AS modularity_ppm
    FROM parts
    """
    return body


@query("q_graph_modularity", oracle=_modularity_oracle(), category="2.C")
def q_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity Q of the LPA partition — the quality metric
    that tells you whether the communities q_graph_lpa_communities
    found are real structure or noise: Q = Σ_c [m_c/m − (d_c/2m)²],
    i.e. intra-community edge mass against the degree-preserving random
    expectation. Reuses the exact _lpa_labels chain (min-label, 3 fixed
    iterations, bit-exact on any engine), then needs only one edge pass
    (intra count via two label joins), one degree agg, and one
    community agg — all integer. The result is emitted as
    round-half-up ppm with pure int64 arithmetic (no float division:
    sign · ((|4m·Σm_c − Σd_c²|·10⁶ + 2m²) div 4m²)), so the oracle
    hash-matches bit-for-bit.

    Scale: labels are node-sized, degree sums community-sized; the only
    corpus-scale work is the two equi-joins of edges with labels — the
    same topology as one LPA round, so the 100 TB argument carries."""
    half = _part_edges(spark, sf_dir).where(F.expr(_LPA_EDGE_PRED))
    edges = half.union(
        half.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    # labels feed THREE consumers (degree sums + both sides of the
    # intra join) — read them from the family-scoped LAZY cache shared
    # with q_graph_lpa_communities: without a pin the 3-round LPA chain
    # re-executes per consumer (measured 53 s at sf0.1); with the memo,
    # in-suite runs after lpa_communities read the labels warm.
    lab = _lpa_labels_shared(spark, sf_dir)
    deg = edges.groupBy("u").agg(F.count("*").alias("deg"))
    dc = deg.join(lab, deg["u"] == lab["node"]).groupBy("lbl").agg(
        F.sum("deg").alias("dsum")
    )
    la = lab.select(F.col("node").alias("u"), F.col("lbl").alias("lu"))
    lb = lab.select(F.col("node").alias("v"), F.col("lbl").alias("lv"))
    intra = (
        half.join(la, "u")
        .join(lb, "v")
        .where(F.col("lu") == F.col("lv"))
        .agg(F.count("*").alias("intra"))
    )
    stats = dc.agg(
        F.sum(F.col("dsum") * F.col("dsum")).alias("sds"),
        F.count("*").alias("n_communities"),
    )
    m_row = half.agg(F.count("*").alias("m"))
    num = 4 * F.col("m") * F.col("intra") - F.col("sds")
    ppm = F.when(
        num >= 0, F.expr("(abs(4*m*intra - sds) * 1000000 + 2*m*m) div (4*m*m)")
    ).otherwise(
        -F.expr("(abs(4*m*intra - sds) * 1000000 + 2*m*m) div (4*m*m)")
    )
    return (
        m_row.crossJoin(intra)
        .crossJoin(stats)
        .select(
            "m",
            F.col("intra").alias("intra_edges"),
            "n_communities",
            ppm.cast("long").alias("modularity_ppm"),
        )
    )


_RICH_CLUB_KS = (32, 64, 128, 256)


def _rich_club_oracle() -> str:
    per_k = []
    for k in _RICH_CLUB_KS:
        per_k.append(f"""
      SELECT {k} AS k,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM deg WHERE deg > {k})
               AS n_nodes,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM he
              WHERE du > {k} AND dv > {k}) AS n_edges""")
    sel = " UNION ALL ".join(per_k)
    return f"""
    WITH e AS ({_EDGES_SQL}),
    ends AS (SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e),
    deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg
            FROM ends GROUP BY node),
    he AS (
      SELECT a.deg AS du, b.deg AS dv
      FROM e JOIN deg a ON a.node = e.u JOIN deg b ON b.node = e.v
    ),
    rc AS ({sel})
    SELECT k, n_nodes, n_edges,
           CAST(CASE WHEN n_nodes < 2 THEN 0
                ELSE (4 * n_edges * 1000000 + n_nodes * (n_nodes - 1))
                     // (2 * n_nodes * (n_nodes - 1)) END AS BIGINT)
             AS density_ppm
    FROM rc ORDER BY k
    """


@query("q_graph_rich_club", oracle=_rich_club_oracle(), category="2.C")
def q_graph_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient curve φ(k): for degree thresholds k ∈
    {32,64,128,256}, the edge density among nodes of degree > k — a
    rising curve means the hubs of the co-occurrence graph wire to each
    other ('rich club'), which changes partitioning strategy at scale
    (hub-hub edges are the skew). One degree agg + ONE pass over the
    edge relation with both endpoint degrees joined (all four
    thresholds as conditional sums — no per-k scans), density as
    round-half-up ppm in pure int64: (4·E·10⁶ + N(N−1)) div (2·N(N−1)),
    N<2 → 0. Max magnitude 4·1.2e6·10⁶ < 2^53 — exact, no float.

    Scale: degrees broadcast into the edge join; output is
    |thresholds| rows."""
    e = _part_edges(spark, sf_dir)
    ends = e.select(F.col("u").alias("node")).unionAll(
        e.select(F.col("v").alias("node"))
    )
    deg = ends.groupBy("node").agg(F.count("*").alias("deg"))
    he = (
        e.join(
            F.broadcast(deg.select(F.col("node").alias("u"),
                                   F.col("deg").alias("du"))), "u")
        .join(
            F.broadcast(deg.select(F.col("node").alias("v"),
                                   F.col("deg").alias("dv"))), "v")
    )
    edge_aggs = he.agg(*[
        F.sum(
            ((F.col("du") > k) & (F.col("dv") > k)).cast("long")
        ).alias(f"e{k}")
        for k in _RICH_CLUB_KS
    ])
    node_aggs = deg.agg(*[
        F.sum((F.col("deg") > k).cast("long")).alias(f"n{k}")
        for k in _RICH_CLUB_KS
    ])
    wide = edge_aggs.crossJoin(node_aggs)
    stacked = wide.selectExpr(
        "stack({}, {}) AS (k, n_nodes, n_edges)".format(
            len(_RICH_CLUB_KS),
            ", ".join(f"{k}, n{k}, e{k}" for k in _RICH_CLUB_KS),
        )
    )
    ppm = F.when(F.col("n_nodes") < 2, F.lit(0)).otherwise(
        F.expr(
            "(4 * n_edges * 1000000 + n_nodes * (n_nodes - 1))"
            " div (2 * n_nodes * (n_nodes - 1))"
        )
    )
    return stacked.select(
        F.col("k").cast("long").alias("k"),
        "n_nodes",
        "n_edges",
        ppm.cast("long").alias("density_ppm"),
    ).orderBy("k")


_KCORE_K = 8
_KCORE_ITERS = 4


def _kcore_oracle() -> str:
    body = f"""
    WITH half0 AS ({_EDGES_SQL}),
    half AS (SELECT u, v FROM half0 WHERE {_LPA_EDGE_PRED}),
    e0 AS (
      SELECT u, v FROM half
      UNION ALL
      SELECT v AS u, u AS v FROM half
    )"""
    selects = []
    prev = "e0"
    for i in range(1, _KCORE_ITERS + 1):
        body += f""",
    d{i} AS (SELECT u, COUNT(*) AS d FROM {prev} GROUP BY u),
    k{i} AS (SELECT u FROM d{i} WHERE d >= {_KCORE_K}),
    e{i} AS (
      SELECT e.u, e.v FROM {prev} e
      JOIN k{i} a ON a.u = e.u
      JOIN k{i} b ON b.u = e.v
    ),
    s{i} AS (
      SELECT {i} AS iteration,
             CAST(COUNT(DISTINCT u) AS BIGINT) AS n_nodes,
             CAST(COUNT(*) / 2 AS BIGINT) AS n_edges
      FROM e{i}
    )"""
        selects.append(f"SELECT * FROM s{i}")
        prev = f"e{i}"
    body += "\n    " + "\n    UNION ALL ".join(selects)
    body += "\n    ORDER BY iteration"
    return body


@query("q_graph_kcore", oracle=_kcore_oracle(), category="2.C")
def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling ({iters} FIXED iterations at k={k}): repeatedly
    drop nodes of degree < k and restrict the graph to survivors; the
    fixed-iteration trajectory (surviving nodes and undirected edges
    per peel) approximates the k-core from above and is exactly
    reproducible on any engine — peeling is confluent (the survivor
    set after i synchronized rounds is order-independent), integer
    counts end to end, no floats anywhere. Runs on the same
    deterministically sparsified co-occurrence graph as
    q_graph_lpa_communities (~9% of edges) so the peel actually
    removes mass at every SF instead of terminating in one round on
    the dense raw graph (median degree ~119 > any useful k).

    Scale shape per iteration: ONE degree hash-agg on the node key +
    two semi-joins re-keyed on the same node id — the identical
    node-partitioned topology as the PageRank/LPA steps, so one
    bucketed layout serves the whole unrolled chain at 100 TB; no
    driver loop state, no collect. The directed both-orientations
    encoding makes degree = COUNT(*) per source and lets each
    semi-join reuse the u-partitioning.""".format(
        iters=_KCORE_ITERS, k=_KCORE_K
    )
    half = _part_edges(spark, sf_dir).where(F.expr(_LPA_EDGE_PRED))
    edges = (
        half.union(half.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .coalesce(8)
        .cache()
    )
    track_cache(edges.unpersist)  # query-local: janitor frees it next build
    cur = edges
    # r13 (§2.4 remove shuffles outright): the per-iteration stats used
    # count_distinct("u") over the EDGE relation — a second node-keyed
    # shuffle per peel on top of the degree agg the peel itself needs.
    # The degree relation already holds both numbers: its row count IS
    # the distinct-node count and sum(d)/2 IS the undirected edge count
    # (both orientations stored). Checkpointing the node-sized degree
    # relation lets the next peel's keep-filter and this peel's stats
    # share ONE aggregation: 8 node-keyed shuffles -> 5 for the
    # 4-iteration trajectory. Identical rows (n_nodes = |groups|,
    # n_edges = sum over groups / 2 = |cur| / 2, always even).
    deg = tracked_local_checkpoint(
        cur.groupBy("u").agg(F.count("*").alias("d")), eager=False
    )
    stats = []
    for i in range(1, _KCORE_ITERS + 1):
        keep = deg.where(F.col("d") >= _KCORE_K).select("u")
        cur = cur.join(keep, "u", "semi").join(
            keep.select(F.col("u").alias("v")), "v", "semi"
        )
        cur = tracked_local_checkpoint(cur, eager=False)
        deg = tracked_local_checkpoint(
            cur.groupBy("u").agg(F.count("*").alias("d")), eager=False
        )
        stats.append(
            deg.agg(
                F.lit(i).alias("iteration"),
                F.count("*").alias("n_nodes"),
                # coalesce: an emptied graph must report 0 edges (the
                # count(*)/2 form's value), not sum-over-nothing NULL
                (F.coalesce(F.sum("d"), F.lit(0)) / 2)
                .cast("bigint")
                .alias("n_edges"),
            )
        )
    out = stats[0]
    for s in stats[1:]:
        out = out.unionAll(s)
    return out.orderBy("iteration")


@query(
    "q_graph_jaccard_linkpred",
    oracle=f"""
    WITH half AS ({_EDGES_SQL}),
    adj AS (
      SELECT u AS node, v AS nbr FROM half
      UNION ALL
      SELECT v AS node, u AS nbr FROM half
    ),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS degree
      FROM adj GROUP BY node
    ),
    probes AS (
      SELECT node AS probe, degree AS dp FROM deg
      ORDER BY degree DESC, node LIMIT 10
    ),
    pn AS (
      SELECT p.probe, p.dp, a.nbr AS z
      FROM probes p JOIN adj a ON a.node = p.probe
    ),
    cand AS (
      SELECT pn.probe, a.nbr AS cand,
             MIN(pn.dp) AS dp,
             CAST(COUNT(*) AS BIGINT) AS cn
      FROM pn
      JOIN adj a ON a.node = pn.z
      WHERE a.nbr <> pn.probe
        AND NOT EXISTS (SELECT 1 FROM adj x
                        WHERE x.node = pn.probe AND x.nbr = a.nbr)
      GROUP BY pn.probe, a.nbr
    ),
    scored AS (
      SELECT c.probe, c.cand, c.cn,
             floor(CAST(c.cn AS DOUBLE)
                   / CAST(c.dp + d.degree - c.cn AS DOUBLE)
                   * 1000000 + 0.5) / 1000000 AS jaccard
      FROM cand c JOIN deg d ON d.node = c.cand
    ),
    ranked AS (
      SELECT probe, cand, cn, jaccard,
             row_number() OVER (PARTITION BY probe
                                ORDER BY cn DESC, cand) AS rk
      FROM scored
    )
    SELECT probe, cand, cn, jaccard, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= 5
    ORDER BY probe, rk
    """,
    category="2.C",
)
def q_graph_jaccard_linkpred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood-Jaccard link prediction — the normalized sibling of
    q_graph_common_neighbors / q_graph_adamic_adar over the SAME bounded
    10-probe candidate set: J(p, x) = |N(p) ∩ N(x)| / |N(p) ∪ N(x)|
    = cn / (deg p + deg x - cn). Every operand is an exact int64
    (shared-neighbor count, two degrees), so the score is ONE IEEE
    division, floor-6dp, and — the AA discipline (law 18) — ranking
    stays on exact integers (cn desc, cand id); Jaccard is reported as
    a VALUE only, so a 1-ulp drift can never reorder rows. deg(cand)
    attaches AFTER candidate aggregation (candidate set is
    probe-bounded, the join is broadcast-sized); deg(probe) rides the
    probe list. Scale: identical 2-hop-from-probes shape as AA — work
    is probes x degree², never graph²."""
    edges = _part_edges(spark, sf_dir)
    adj = edges.select(
        F.col("u").alias("node"), F.col("v").alias("nbr")
    ).unionAll(edges.select(F.col("v").alias("node"), F.col("u").alias("nbr")))
    deg = _degrees(spark, sf_dir)
    probes = (
        deg.orderBy(F.desc("degree"), "node")
        .limit(10)
        .select(F.col("node").alias("probe"), F.col("degree").alias("dp"))
    )
    pn = adj.join(F.broadcast(probes), adj.node == F.col("probe")).select(
        "probe", "dp", F.col("nbr").alias("z")
    )
    # broadcast the bounded probe-neighbor side and pre-filter the
    # anti-join build side to probe-incident edges — the
    # q_graph_common_neighbors discipline (§3.1/§3.2)
    hop2 = (
        F.broadcast(pn).join(adj, pn.z == adj.node)
        .where(F.col("nbr") != F.col("probe"))
        .select("probe", "dp", F.col("nbr").alias("cand"))
    )
    linked = (
        adj.join(
            F.broadcast(probes.select("probe")),
            adj.node == F.col("probe"),
        )
        .select("probe", F.col("nbr").alias("cand"))
    )
    cand = (
        hop2.join(F.broadcast(linked), ["probe", "cand"], "left_anti")
        .groupBy("probe", "cand")
        .agg(F.min("dp").alias("dp"), F.count("*").alias("cn"))
    )
    dcand = deg.select(
        F.col("node").alias("cand"), F.col("degree").alias("dc")
    )
    scored = cand.join(dcand, "cand").select(
        "probe",
        "cand",
        "cn",
        (
            F.floor(
                F.col("cn").cast("double")
                / (F.col("dp") + F.col("dc") - F.col("cn")).cast("double")
                * 1000000.0
                + F.lit(0.5)
            )
            / 1000000.0
        ).alias("jaccard"),
    )
    w = Window.partitionBy("probe").orderBy(F.desc("cn"), "cand")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= 5)
        .select("probe", "cand", "cn", "jaccard", "rk")
        .orderBy("probe", "rk")
    )


@query(
    "q_graph_harmonic_centrality",
    oracle=f"""
    WITH half AS ({_EDGES_SQL}),
    adj AS (
      SELECT u AS node, v AS nbr FROM half
      UNION ALL
      SELECT v AS node, u AS nbr FROM half
    ),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS degree
      FROM adj GROUP BY node
    ),
    probes AS (
      SELECT node AS probe FROM deg
      ORDER BY degree DESC, node LIMIT 20
    ),
    d1 AS (
      SELECT p.probe, a.nbr AS node
      FROM probes p JOIN adj a ON a.node = p.probe
      GROUP BY 1, 2
    ),
    s1 AS (
      SELECT probe, node FROM d1
      UNION SELECT probe, probe FROM probes
    ),
    d2 AS (
      SELECT d1.probe, a.nbr AS node
      FROM d1 JOIN adj a ON a.node = d1.node
      WHERE NOT EXISTS (SELECT 1 FROM s1
                        WHERE s1.probe = d1.probe AND s1.node = a.nbr)
      GROUP BY 1, 2
    ),
    s2 AS (SELECT probe, node FROM s1 UNION SELECT probe, node FROM d2),
    d3 AS (
      SELECT d2.probe, a.nbr AS node
      FROM d2 JOIN adj a ON a.node = d2.node
      WHERE NOT EXISTS (SELECT 1 FROM s2
                        WHERE s2.probe = d2.probe AND s2.node = a.nbr)
      GROUP BY 1, 2
    ),
    cnt AS (
      SELECT p.probe,
             (SELECT COUNT(*) FROM d1 WHERE d1.probe = p.probe) AS n1,
             (SELECT COUNT(*) FROM d2 WHERE d2.probe = p.probe) AS n2,
             (SELECT COUNT(*) FROM d3 WHERE d3.probe = p.probe) AS n3
      FROM probes p
    )
    SELECT probe, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           CAST(n3 AS BIGINT) AS n3,
           floor((n1 + n2 / 2.0 + n3 / 3.0) * 1000000.0 + 0.5)
             / 1000000.0 AS harmonic
    FROM cnt ORDER BY probe
    """,
    category="2.C",
)
def q_graph_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated harmonic centrality HC_3(p) = Σ_{{d(p,u)<=3}} 1/d(p,u)
    for the 20 highest-degree probes — the centrality that, unlike
    closeness, is defined on disconnected graphs (unreached nodes
    contribute 0, no infinite distance to patch). Multi-source BFS as
    BITSET algebra: each probe owns one bit of a 20-bit mask, the
    frontier/seen state is ONE row per node (node, mask) — never the
    (probe, node) pair relation, which peaks at panel x vocabulary
    rows. A hop is edges ⋈ broadcast(frontier) then bit_or(mask) per
    neighbor (map-side-combined hash agg, whole-stage codegen), and
    the per-probe visited filter is `propagated & ~seen` — a scalar
    bitwise op against the broadcast seen map instead of a pair-keyed
    anti-join. Per-level counts fall out as 20 conditional popcount
    sums stacked to (rank, n_d). Pair-frontier form measured 6.1 s
    solo best-of-2 at sf0.1; this bitset form 3.9 s — and both pay the
    shared ~3.6 s `_part_edges` materialization, so the BFS itself
    went ~2.5 s → ~0.3 s. Same 20-row output.
    State per level is <= vocabulary rows and localCheckpointed (tiny
    blocks), released before returning. Exact distances truncate at 3;
    the harmonic sum n1 + n2/2 + n3/3 is one deterministic double
    expression (fixed operand order, round-half-up at 1e-6 — the
    repo's float-emission convention). At 100 TB probes stay a bounded
    panel (<= 64 bits per mask word; wider panels shard the mask into
    an array of words), state scales with vocabulary, never fact-table
    rows, and each hop is the same broadcast join Pregel would
    schedule."""
    half = _part_edges(spark, sf_dir)
    edges = half.unionAll(
        half.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).coalesce(8).cache()
    deg = _degrees(spark, sf_dir)
    w = Window.orderBy(F.desc("degree"), "node")
    probes = (
        deg.orderBy(F.desc("degree"), "node")
        .limit(20)
        .select(
            F.col("node").alias("probe"),
            (F.row_number().over(w) - 1).alias("rank"),
        )
        .localCheckpoint()
    )
    pins = [probes]
    try:
        # node -> mask of probes whose BFS has reached it.
        seen = probes.select(
            F.col("probe").alias("node"),
            F.expr("shiftleft(1L, rank)").alias("mask"),
        )
        frontier = seen
        counts = []  # per-level 20-row (rank, n_d) frames
        for dist in (1, 2, 3):
            propagated = (
                edges.join(
                    F.broadcast(frontier.withColumnRenamed("node", "u")),
                    "u",
                )
                .groupBy(F.col("v").alias("node"))
                .agg(F.expr("bit_or(mask)").alias("pmask"))
            )
            frontier = (
                propagated.join(
                    F.broadcast(seen.withColumnRenamed("mask", "smask")),
                    "node",
                    "left",
                )
                .select(
                    "node",
                    F.expr(
                        "pmask & ~coalesce(smask, 0L)"
                    ).alias("mask"),
                )
                .filter(F.col("mask") != 0)
                .localCheckpoint()
            )
            pins.append(frontier)
            seen = (
                seen.withColumnRenamed("mask", "smask")
                .join(frontier, "node", "full")
                .select(
                    "node",
                    F.expr(
                        "coalesce(smask, 0L) | coalesce(mask, 0L)"
                    ).alias("mask"),
                )
                .localCheckpoint()
            )
            pins.append(seen)
            counts.append(
                frontier.agg(
                    *[
                        F.sum(
                            F.shiftright("mask", p).bitwiseAND(1)
                        ).alias(f"b{p}")
                        for p in range(20)
                    ]
                ).select(
                    F.expr(
                        "stack(20, "
                        + ", ".join(f"{p}, b{p}" for p in range(20))
                        + f") AS (rank, n{dist})"
                    )
                )
            )
        hc = probes
        for c in counts:
            hc = hc.join(F.broadcast(c), "rank", "left")
        hc = hc.select(
            "probe",
            *[F.coalesce(f"n{d}", F.lit(0)).alias(f"n{d}") for d in (1, 2, 3)],
        ).select(
            "probe",
            "n1",
            "n2",
            "n3",
            (
                F.floor(
                    (
                        F.col("n1")
                        + F.col("n2") / 2.0
                        + F.col("n3") / 3.0
                    )
                    * 1000000.0
                    + F.lit(0.5)
                )
                / 1000000.0
            ).alias("harmonic"),
        )
        # ONE action; the result is a 20-row local frame, so every pin
        # can be released before returning.
        rows = hc.orderBy("probe").collect()
        return spark.createDataFrame(rows, hc.schema)
    finally:
        for fr in pins:
            release_local_checkpoint(fr)
        edges.unpersist()


# Engine-portable walk hash: products stay below 2^63 for part-key ids
# (< ~2e5 even at sf0.1 x 100), so non-ANSI Spark and overflow-raising
# DuckDB compute identical values (the q_llm_bigram_pmi discipline).
_WALK_HASH = (
    "(cur * 2654435761 + nxt * 40503 + step * 97) % 1000000007"
)


@query(
    "q_graph_random_walk",
    oracle=f"""
    WITH half AS ({_EDGES_SQL}),
    adj AS (
      SELECT u AS node, v AS nbr FROM half
      UNION ALL
      SELECT v AS node, u AS nbr FROM half
    ),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS degree
      FROM adj GROUP BY node
    ),
    probes AS (
      SELECT node AS walk_id FROM deg
      ORDER BY degree DESC, node LIMIT 20
    ),
    w0 AS (SELECT walk_id, walk_id AS node FROM probes),
    s1 AS (
      SELECT walk_id, nbr AS node FROM (
        SELECT w0.walk_id, a.nbr,
               row_number() OVER (
                 PARTITION BY w0.walk_id
                 ORDER BY (w0.node * 2654435761 + a.nbr * 40503 + 1 * 97)
                          % 1000000007, a.nbr) AS rk
        FROM w0 JOIN adj a ON a.node = w0.node
      ) WHERE rk = 1
    ),
    s2 AS (
      SELECT walk_id, nbr AS node FROM (
        SELECT s1.walk_id, a.nbr,
               row_number() OVER (
                 PARTITION BY s1.walk_id
                 ORDER BY (s1.node * 2654435761 + a.nbr * 40503 + 2 * 97)
                          % 1000000007, a.nbr) AS rk
        FROM s1 JOIN adj a ON a.node = s1.node
      ) WHERE rk = 1
    ),
    s3 AS (
      SELECT walk_id, nbr AS node FROM (
        SELECT s2.walk_id, a.nbr,
               row_number() OVER (
                 PARTITION BY s2.walk_id
                 ORDER BY (s2.node * 2654435761 + a.nbr * 40503 + 3 * 97)
                          % 1000000007, a.nbr) AS rk
        FROM s2 JOIN adj a ON a.node = s2.node
      ) WHERE rk = 1
    )
    SELECT walk_id, 0 AS step, node FROM w0
    UNION ALL SELECT walk_id, 1, node FROM s1
    UNION ALL SELECT walk_id, 2, node FROM s2
    UNION ALL SELECT walk_id, 3, node FROM s3
    ORDER BY walk_id, step
    """,
    category="2.C",
)
def q_graph_random_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-seeded random walks — how a reproducible
    node2vec/DeepWalk training corpus is sampled DISTRIBUTED: the walk
    never calls a stateful RNG (which would make the corpus depend on
    task placement); the next hop from node n at step k is the
    neighbor minimizing an engine-portable integer hash of
    (n, neighbor, step), so any executor, any retry, any engine
    re-derives the identical path. One 3-step walk per top-20-degree
    probe; ALL walks advance together — step k is ONE broadcast join
    of the 20-row walk head against the adjacency relation plus a
    per-walk argmin (row_number over hash, neighbor tiebreak), the
    multi-source frontier shape of q_graph_harmonic_centrality. Hash
    products stay below 2^63 for part-key ids (the bigram-PMI overflow
    discipline), so wrap-silent Spark and raise-on-overflow DuckDB
    agree exactly. At 100 TB: heads are (n_walks) rows, the join is
    against the same shared edge relation, and walk count scales
    embarrassingly."""
    half = _part_edges(spark, sf_dir)
    adj = half.unionAll(
        half.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = _degrees(spark, sf_dir)
    probes = (
        deg.orderBy(F.desc("degree"), "node")
        .limit(20)
        .select(F.col("node").alias("walk_id"))
    )
    # each step's head is a (n_walks)-row frame pinned with a tracked
    # localCheckpoint: the union below otherwise re-executes every
    # PRIOR step's adjacency join per branch (step k's lineage nests k
    # joins, so the 4-branch union did 1+2+3 extra join passes plus a
    # deg/probes recompute per branch — the q_graph_bfs_3hop lineage
    # discipline, §2.4 "don't compute things you throw away")
    head = tracked_local_checkpoint(
        probes.select("walk_id", F.col("walk_id").alias("node"))
    )
    out = head.select("walk_id", F.lit(0).alias("step"), "node")
    for k in (1, 2, 3):
        w = Window.partitionBy("walk_id").orderBy("score", "nbr")
        head = tracked_local_checkpoint(
            adj.join(
                F.broadcast(head.withColumnRenamed("node", "u")), "u"
            )
            .select(
                "walk_id",
                F.col("u").alias("cur"),
                F.col("v").alias("nbr"),
            )
            .withColumn(
                "score",
                (
                    F.col("cur") * F.lit(2654435761)
                    + F.col("nbr") * F.lit(40503)
                    + F.lit(k * 97)
                )
                % F.lit(1000000007),
            )
            .withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") == 1)
            .select("walk_id", F.col("nbr").alias("node"))
        )
        out = out.unionByName(
            head.select("walk_id", F.lit(k).alias("step"), "node")
        )
    return out.orderBy("walk_id", "step")


_SCC_PANEL = 120  # node panel bound: parts with p_partkey <= this
_SCC_DOUBLINGS = 7  # 2^7 = 128 >= panel, so closure is total


@query(
    "q_graph_scc",
    oracle=f"""
    WITH RECURSIVE pl AS (
        SELECT l_orderkey AS o, l_partkey AS p, l_linenumber AS ln
        FROM lineitem WHERE l_partkey <= {_SCC_PANEL}
    ),
    edges AS (
        SELECT DISTINCT a.p AS u, b.p AS v
        FROM pl a JOIN pl b ON a.o = b.o AND a.ln < b.ln AND a.p <> b.p
    ),
    nodes AS (
        SELECT u AS n FROM edges UNION SELECT v FROM edges
    ),
    reach AS (
        SELECT u, v FROM edges
        UNION
        SELECT r.u, e.v
        FROM reach r JOIN edges e ON r.v = e.u
        WHERE r.u <> e.v
    ),
    mutual AS (
        SELECT a.u AS n, a.v AS m
        FROM reach a JOIN reach b ON a.u = b.v AND a.v = b.u
    ),
    scc AS (
        SELECT nodes.n,
               CAST(LEAST(nodes.n, COALESCE(MIN(mutual.m), nodes.n))
                    AS BIGINT) AS scc_id
        FROM nodes LEFT JOIN mutual ON nodes.n = mutual.n
        GROUP BY nodes.n
    )
    SELECT scc_id, CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(MAX(n) AS BIGINT) AS max_node
    FROM scc GROUP BY scc_id ORDER BY scc_id
    """,
    category="2.C",
)
def q_graph_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRONGLY CONNECTED COMPONENTS on a DIRECTED graph — the one
    graph family member the undirected suite (CC via union-find,
    k-core, LPA) cannot express: direction matters, and mutual
    reachability is the equivalence. The graph: part u → part v iff
    some order lists u on an earlier line than v (a real precedence
    relation; 2-cycles appear exactly when two parts swap order
    across orders). The node set is PANEL-BOUNDED (p_partkey <=
    {_SCC_PANEL}, the house bounded-panel discipline), so after the
    one data-scaled stage — the distinct precedence-edge derivation
    from lineitem, a corpus-sized join that stays distributed — the
    edge relation is <= panel² rows BY CONSTRUCTION and the closure
    runs driver-side over a structurally bounded collect (the
    _quotient_bfs / r8 bounded-collect class): iterative Tarjan SCC,
    exactly the mutual-reachability equivalence the prior form
    computed with {_SCC_DOUBLINGS} repeated-squaring join rounds
    (R <- R ∪ R∘R). Those rounds were 7 eager
    join+distinct+localCheckpoint Spark jobs over a <=14k-row
    relation — pure scheduling overhead (r12: 5.6-6.9 s of build vs
    ~0.3 s for the collect + local closure at sf0.1, identical
    output). scc_id = min node id over the mutual class. At 100
    TB the same code runs per bounded entity neighborhood (the
    closure is quadratic in the PANEL, never the corpus); unbounded
    SCC needs the label-forwarding loop q_llm_dedup_cc uses for its
    undirected twin. Oracle: DuckDB recursive-CTE closure — a
    different, natively-recursive derivation of the same relation."""
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_partkey") <= _SCC_PANEL
    ).select(
        F.col("l_orderkey").alias("o"),
        F.col("l_partkey").alias("p"),
        F.col("l_linenumber").alias("ln"),
    )
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.o") == F.col("b.o"))
            & (F.col("a.ln") < F.col("b.ln"))
            & (F.col("a.p") != F.col("b.p")),
        )
        .select(F.col("a.p").alias("u"), F.col("b.p").alias("v"))
        .distinct()
    )
    # bounded collect: <= panel*(panel-1) rows by construction
    half = edges.collect()
    adj: dict[int, list[int]] = {}
    node_set: set[int] = set()
    for row in half:
        u, v = int(row.u), int(row.v)
        adj.setdefault(u, []).append(v)
        node_set.add(u)
        node_set.add(v)
    # iterative Tarjan over the bounded panel: exact SCC partition ==
    # the mutual-reachability equivalence of the closure form
    index: dict[int, int] = {}
    low: dict[int, int] = {}
    on_stack: set[int] = set()
    stack: list[int] = []
    comps: list[list[int]] = []
    counter = [0]
    for root in sorted(node_set):
        if root in index:
            continue
        work = [(root, iter(adj.get(root, ())))]
        index[root] = low[root] = counter[0]
        counter[0] += 1
        stack.append(root)
        on_stack.add(root)
        while work:
            node, it = work[-1]
            advanced = False
            for nxt in it:
                if nxt not in index:
                    index[nxt] = low[nxt] = counter[0]
                    counter[0] += 1
                    stack.append(nxt)
                    on_stack.add(nxt)
                    work.append((nxt, iter(adj.get(nxt, ()))))
                    advanced = True
                    break
                if nxt in on_stack:
                    low[node] = min(low[node], index[nxt])
            if advanced:
                continue
            work.pop()
            if work:
                parent = work[-1][0]
                low[parent] = min(low[parent], low[node])
            if low[node] == index[node]:
                comp = []
                while True:
                    w = stack.pop()
                    on_stack.discard(w)
                    comp.append(w)
                    if w == node:
                        break
                comps.append(comp)
    rows = sorted(
        (min(comp), len(comp), max(comp)) for comp in comps
    )
    # explicit ORDER BY (r12 ADVICE): the sorted local list happens to
    # survive createDataFrame in order, but the ordered-output contract
    # should not rest on that implementation detail — free on a
    # <= panel-sized relation.
    return spark.createDataFrame(
        rows, "scc_id long, n_nodes long, max_node long"
    ).orderBy("scc_id")


@query(
    "q_graph_dyad_census",
    oracle=f"""
    WITH pl AS (
        SELECT l_orderkey AS o, l_partkey AS p, l_linenumber AS ln
        FROM lineitem WHERE l_partkey <= {_SCC_PANEL}
    ),
    edges AS (
        SELECT DISTINCT a.p AS u, b.p AS v
        FROM pl a JOIN pl b ON a.o = b.o AND a.ln < b.ln AND a.p <> b.p
    ),
    nodes AS (SELECT u AS n FROM edges UNION SELECT v FROM edges),
    pairs AS (
        SELECT e.u AS lo, e.v AS hi FROM edges e WHERE e.u < e.v
        UNION
        SELECT e.v, e.u FROM edges e WHERE e.v < e.u
    ),
    typed AS (
        SELECT p.lo, p.hi,
               CASE WHEN EXISTS (SELECT 1 FROM edges e
                                 WHERE e.u = p.lo AND e.v = p.hi)
                     AND EXISTS (SELECT 1 FROM edges e
                                 WHERE e.u = p.hi AND e.v = p.lo)
                    THEN 'M' ELSE 'A' END AS kind
        FROM pairs p
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM nodes) AS n_nodes,
           CAST(SUM(CASE WHEN kind = 'M' THEN 1 ELSE 0 END) AS BIGINT)
               AS mutual,
           CAST(SUM(CASE WHEN kind = 'A' THEN 1 ELSE 0 END) AS BIGINT)
               AS asymmetric,
           CAST((SELECT COUNT(*) * (COUNT(*) - 1) // 2 FROM nodes)
                - COUNT(*) AS BIGINT) AS null_dyads
    FROM typed
    """,
    category="2.C",
)
def q_graph_dyad_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYAD CENSUS (Holland-Leinhardt M/A/N) on the directed
    precedence graph — the first-order structure report for any
    directed relation, and the reciprocity measurement SCC builds on:
    Mutual dyads (both directions present — exactly the 2-cycles that
    seed q_graph_scc's nontrivial components), Asymmetric (one
    direction), Null (neither, by complement against C(n,2) — never
    materialized). Same panel-bounded edge relation as SCC (shared
    derivation, independent census). The census is ONE self-join of
    the canonicalized pair list against the reversed edge set — at
    scale the M/A split shuffles only the EDGE list (null dyads are
    arithmetic), so the census costs a dedup + one join regardless
    of how sparse the graph is; reciprocity = M/(M+A) follows on the
    driver for free."""
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_partkey") <= _SCC_PANEL
    ).select(
        F.col("l_orderkey").alias("o"),
        F.col("l_partkey").alias("p"),
        F.col("l_linenumber").alias("ln"),
    )
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.o") == F.col("b.o"))
            & (F.col("a.ln") < F.col("b.ln"))
            & (F.col("a.p") != F.col("b.p")),
        )
        .select(F.col("a.p").alias("u"), F.col("b.p").alias("v"))
        .distinct()
    )
    n_nodes = (
        edges.select(F.col("u").alias("n"))
        .union(edges.select("v"))
        .distinct()
        .agg(F.count("*").cast("long").alias("n_nodes"))
    )
    pairs = edges.select(
        F.least("u", "v").alias("lo"), F.greatest("u", "v").alias("hi")
    ).distinct()
    rev = edges.select(
        F.col("v").alias("lo2"), F.col("u").alias("hi2")
    )
    mutual_pairs = (
        pairs.join(
            edges.alias("f"),
            (F.col("lo") == F.col("f.u")) & (F.col("hi") == F.col("f.v")),
            "left_semi",
        )
        .join(
            rev.alias("g"),
            (F.col("lo") == F.col("g.lo2"))
            & (F.col("hi") == F.col("g.hi2")),
            "left_semi",
        )
    )
    m = mutual_pairs.agg(F.count("*").cast("long").alias("mutual"))
    tot = pairs.agg(F.count("*").cast("long").alias("n_pairs"))
    return (
        n_nodes.crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(tot))
        .select(
            "n_nodes",
            "mutual",
            (F.col("n_pairs") - F.col("mutual")).cast("long")
            .alias("asymmetric"),
            (
                F.col("n_nodes") * (F.col("n_nodes") - 1) / 2
                - F.col("n_pairs")
            ).cast("long").alias("null_dyads"),
        )
    )


_STRESS_BUCKETS = 64  # quotient-graph node panel (partkey % buckets)
_STRESS_LEVELS = 6  # BFS unroll depth; measured max ecc 3 at every SF


def _quotient_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparsified quotient co-occurrence edges (u < v, hash-kept ~11%)
    shared by the stress-centrality / eccentricity pair: built via the
    _part_edges per-order set-combination form — distinct (order,
    bucket) first (<= 4 buckets/order), then in-array pair explosion —
    NOT a fact self-join (the join form shuffles lineitem twice; the set
    form measured 3.6 s vs 8.9 s on the full part graph and the quotient
    is strictly cheaper). Memoized per (application, sf_dir),
    family-scoped janitor release."""

    def build() -> DataFrame:
        li = load_table(spark, sf_dir, "lineitem").select(
            F.col("l_orderkey").alias("o"),
            (F.col("l_partkey") % _STRESS_BUCKETS).alias("p"),
        )
        return (
            li.groupBy("o")
            .agg(F.array_sort(F.collect_set("p")).alias("ps"))
            .select(
                F.explode(
                    F.expr(
                        "flatten(transform(ps, (x, i) -> "
                        "transform(slice(ps, i + 2, size(ps)), "
                        "y -> struct(x AS u, y AS v))))"
                    )
                ).alias("e")
            )
            .select("e.u", "e.v")
            .distinct()
            .where((F.col("u") * 31 + F.col("v") * 17) % 9 == 3)
            .cache()
        )

    return app_memo(spark, ("quotient_edges", sf_dir), build, scope="graphs")


def _quotient_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS path-count table R(s, v, d, sig) over the sparsified quotient
    graph — the docstrings' "reusable artifact": stress reads (d, sig),
    eccentricity reads d; built once per (application, sf_dir),
    family-scoped. Computed DRIVER-SIDE over a structurally bounded
    collect (r8 verdict item 6): the quotient panel has <= _STRESS_BUCKETS
    nodes BY CONSTRUCTION (partkey % 64), so the half-edge relation is <=
    B(B-1)/2 = 2016 rows at ANY corpus size — the same bounded-collect
    class as the IVF/PQ training samples. The r8 distributed form (6
    levels x broadcast-join + group + anti-join + eager localCheckpoint)
    spent 15.8 s of pure scheduling overhead on a 64-node graph; the
    Python BFS is exact-identical (per-level sigma sums, first-visit
    distance, unseen-only expansion) and costs milliseconds. R itself is
    <= B^2 rows, emitted as a LocalTableScan the stress/eccentricity
    readers re-read for free. Distributed BFS at data scale lives where
    the data is unbounded: q_graph_bfs_3hop / harmonic_centrality."""

    def build() -> DataFrame:
        half = _quotient_edges(spark, sf_dir).collect()  # bounded: <= 2016
        adj: dict[int, list[int]] = {}
        for row in half:
            u, v = int(row.u), int(row.v)
            adj.setdefault(u, []).append(v)
            adj.setdefault(v, []).append(u)
        out: list[tuple[int, int, int, int]] = []
        for s in sorted(adj):
            dist = {s: 0}
            out.append((s, s, 0, 1))
            frontier = {s: 1}
            for lvl in range(1, _STRESS_LEVELS + 1):
                nxt: dict[int, int] = {}
                for v, sig in frontier.items():
                    for w in adj[v]:
                        nxt[w] = nxt.get(w, 0) + sig
                frontier = {w: c for w, c in nxt.items() if w not in dist}
                for w, c in frontier.items():
                    dist[w] = lvl
                    out.append((s, w, lvl, c))
                if not frontier:
                    break
        return spark.createDataFrame(
            out, "s bigint, v bigint, d int, sig bigint"
        )

    return app_memo(spark, ("quotient_bfs", sf_dir), build, scope="graphs")


def _stress_oracle(k: int = _STRESS_LEVELS) -> str:
    """Generated unrolled-level BFS path-counting oracle: level k's
    frontier is a GROUP BY over the PREVIOUS frontier × edges (sigma
    sums), visited-set exclusion via NOT EXISTS against the union so
    far — aggregation per level is legal because the levels are
    ordinary chained CTEs, not a recursive member (the DTW generated-
    oracle trick applied to BFS). A level-(k+1) frontier row trips an
    error() guard: the unroll depth is an ASSERTED bound, never a
    silent truncation."""
    ctes = []
    for i in range(1, k + 2):
        prev_f = "r0" if i == 1 else f"f{i - 1}"
        prev_r = f"r{i - 1}"
        ctes.append(
            f"f{i} AS MATERIALIZED (SELECT r.s, e.v, {i} AS d, "
            f"CAST(SUM(r.sig) AS BIGINT) AS sig "
            f"FROM {prev_f} r JOIN es e ON r.v = e.u "
            f"WHERE NOT EXISTS (SELECT 1 FROM {prev_r} x "
            f"WHERE x.s = r.s AND x.v = e.v) "
            f"GROUP BY r.s, e.v)"
        )
        if i <= k:
            ctes.append(
                f"r{i} AS MATERIALIZED (SELECT * FROM r{i - 1} "
                f"UNION ALL SELECT * FROM f{i})"
            )
    chain = ",\n    ".join(ctes)
    return f"""
    WITH pl AS (
        SELECT l_orderkey AS o, l_partkey % {_STRESS_BUCKETS} AS p
        FROM lineitem
    ),
    e0 AS (
        SELECT DISTINCT a.p AS u, b.p AS v
        FROM pl a JOIN pl b ON a.o = b.o AND a.p < b.p
    ),
    es AS MATERIALIZED (
        SELECT u, v FROM e0 WHERE (u * 31 + v * 17) % 9 = 3
        UNION ALL
        SELECT v, u FROM e0 WHERE (u * 31 + v * 17) % 9 = 3
    ),
    nodes AS (SELECT DISTINCT u AS n FROM es),
    r0 AS MATERIALIZED (
        SELECT n AS s, n AS v, 0 AS d, CAST(1 AS BIGINT) AS sig
        FROM nodes
    ),
    {chain},
    guard AS (
        SELECT CASE WHEN COUNT(*) > 0
                    THEN CAST(error(
                      'stress BFS unroll depth {k} exceeded')
                      AS BIGINT)
                    ELSE 0 END AS z
        FROM f{k + 1}
    )
    SELECT a.v AS node,
           CAST(SUM(a.sig * b.sig) + MAX(g.z) AS BIGINT) AS stress
    FROM r{k} a
    JOIN r{k} b ON a.v = b.s AND a.d > 0 AND b.d > 0 AND a.s < b.v
    JOIN r{k} c ON c.s = a.s AND c.v = b.v AND c.d = a.d + b.d
    CROSS JOIN guard g
    GROUP BY a.v
    ORDER BY node
    """


@query(
    "q_graph_stress_centrality",
    oracle=_stress_oracle(),
    category="2.C",
)
def q_graph_stress_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRESS CENTRALITY (Shimbel) — exact shortest-path-THROUGH
    counting, the all-integer sibling of betweenness (betweenness
    divides per-pair by sigma_st, making the sum a float whose
    distributed accumulation order the shuffle owns; stress keeps the
    raw count sigma_sv * sigma_vt over shortest-path-composing pairs,
    so every value is an exact int64 and the rung stays bit-exact on
    any partitioning — choose the statistic to FIT the execution
    model). Graph: the hash-contracted co-occurrence quotient
    (partkey % 64 super-nodes — the quotient keeps the panel FIXED
    at every SF where a raw-key panel goes degenerate: measured,
    top-64-frequent parts give ecc 7 and 6 components at sf0.1),
    hash-sparsified to ~11% so shortest paths are nontrivial
    (unsparsified the quotient is COMPLETE at sf>=0.01 and stress is
    vacuously zero — also measured). BFS path-counting runs
    {levels} unrolled levels (measured max ecc 3 at every SF, 2x
    headroom), each ONE join + hash agg + anti-join, frontier-from-
    frontier so work per level is O(frontier), with per-level
    localCheckpoint; the level-{guard} frontier must be EMPTY —
    asserted by the oracle's error() guard and the plan-gate test,
    never silently truncated. The stress assembly is the triple join
    R(s,mid) x R(mid,t) x R(s,t) on d1+d2=d — quadratic in the
    PANEL, constant in the corpus. Oracle: the same DP as generated
    chained CTEs (the DTW trick applied to BFS — per-level GROUP BY
    is legal in ordinary CTEs where a recursive member forbids
    it)."""
    r = _quotient_bfs(spark, sf_dir)
    ra = r.alias("a")
    rb = r.alias("b")
    rc = r.alias("c")
    return (
        ra.join(
            rb,
            (F.col("a.v") == F.col("b.s"))
            & (F.col("a.d") > 0)
            & (F.col("b.d") > 0)
            & (F.col("a.s") < F.col("b.v")),
        )
        .join(
            rc,
            (F.col("c.s") == F.col("a.s"))
            & (F.col("c.v") == F.col("b.v"))
            & (F.col("c.d") == F.col("a.d") + F.col("b.d")),
        )
        .groupBy(F.col("a.v").alias("node"))
        .agg(
            F.sum(F.col("a.sig") * F.col("b.sig")).cast("long")
            .alias("stress")
        )
        .orderBy("node")
    )


q_graph_stress_centrality.__doc__ = q_graph_stress_centrality.__doc__.format(
    levels=_STRESS_LEVELS, guard=_STRESS_LEVELS + 1
)


def _ecc_oracle(k: int = _STRESS_LEVELS) -> str:
    """Unrolled-level BFS distance oracle over the same sparsified
    quotient graph as stress centrality (distances only — no sigma),
    with the same level-(k+1) emptiness guard."""
    ctes = []
    for i in range(1, k + 2):
        prev_f = "r0" if i == 1 else f"f{i - 1}"
        prev_r = f"r{i - 1}"
        ctes.append(
            f"f{i} AS MATERIALIZED (SELECT DISTINCT r.s, e.v, {i} AS d "
            f"FROM {prev_f} r JOIN es e ON r.v = e.u "
            f"WHERE NOT EXISTS (SELECT 1 FROM {prev_r} x "
            f"WHERE x.s = r.s AND x.v = e.v))"
        )
        if i <= k:
            ctes.append(
                f"r{i} AS MATERIALIZED (SELECT * FROM r{i - 1} "
                f"UNION ALL SELECT * FROM f{i})"
            )
    chain = ",\n    ".join(ctes)
    return f"""
    WITH pl AS (
        SELECT l_orderkey AS o, l_partkey % {_STRESS_BUCKETS} AS p
        FROM lineitem
    ),
    e0 AS (
        SELECT DISTINCT a.p AS u, b.p AS v
        FROM pl a JOIN pl b ON a.o = b.o AND a.p < b.p
    ),
    es AS MATERIALIZED (
        SELECT u, v FROM e0 WHERE (u * 31 + v * 17) % 9 = 3
        UNION ALL
        SELECT v, u FROM e0 WHERE (u * 31 + v * 17) % 9 = 3
    ),
    nodes AS (SELECT DISTINCT u AS n FROM es),
    r0 AS MATERIALIZED (
        SELECT n AS s, n AS v, 0 AS d FROM nodes
    ),
    {chain},
    guard AS (
        SELECT CASE WHEN COUNT(*) > 0
                    THEN CAST(error(
                      'eccentricity BFS unroll depth {k} exceeded')
                      AS BIGINT)
                    ELSE 0 END AS z
        FROM f{k + 1}
    ),
    ecc AS (
        SELECT r.s AS node,
               CAST(MAX(r.d) + MAX(g.z) AS BIGINT) AS ecc,
               CAST(COUNT(*) AS BIGINT) AS n_reach
        FROM r{k} r CROSS JOIN guard g
        GROUP BY r.s
    )
    SELECT node, ecc, n_reach,
           CAST(MIN(ecc) OVER () AS BIGINT) AS radius,
           CAST(MAX(ecc) OVER () AS BIGINT) AS diameter
    FROM ecc
    ORDER BY node
    """


@query(
    "q_graph_eccentricity",
    oracle=_ecc_oracle(),
    category="2.C",
)
def q_graph_eccentricity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ECCENTRICITY / RADIUS / DIAMETER — the distance-profile report
    over the stress-centrality graph (same hash-contracted, hash-
    sparsified quotient; shared derivation, independent metrics):
    per node its eccentricity max_t d(n,t) and reachable-set size
    (the graph is deliberately disconnected at ~11% sparsification,
    so n_reach varies and ecc is per-COMPONENT — exactly how the
    metric behaves on real co-occurrence graphs), plus component-
    blind radius and diameter as window aggregates over the node
    panel. Same 6-level frontier-from-frontier BFS with per-level
    localCheckpoint and the level-7 emptiness contract (oracle
    error() guard); distances are small exact ints, MAX/MIN are
    associative — bit-exact anywhere. At 100 TB the BFS table is the
    reusable artifact: eccentricity, stress, harmonic centrality,
    and reachability all read the same R(s,v,d) relation — compute
    it once per graph snapshot, answer the family from it."""
    r = _quotient_bfs(spark, sf_dir)
    ecc = r.groupBy(F.col("s").alias("node")).agg(
        F.max("d").cast("long").alias("ecc"),
        F.count("*").cast("long").alias("n_reach"),
    )
    w = Window.partitionBy()
    return ecc.select(
        "node",
        "ecc",
        "n_reach",
        F.min("ecc").over(w).cast("long").alias("radius"),
        F.max("ecc").over(w).cast("long").alias("diameter"),
    ).orderBy("node")
