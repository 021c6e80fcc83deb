"""SQL-text front door + reshaping operators: the engine is not only a
DataFrame API — `spark.sql` over registered views is a first-class entry
point (Catalyst path is identical, §3.2), and pivot/unpivot cover the
wide↔long reshaping a reporting layer needs.

Parity notes: the TPC-H-Q3-shaped query and the correlated subquery run
as SQL TEXT on the Spark side too, proving parser+analyzer coverage, not
just the DataFrame builder. Spark pivot emits grouping key + one column
per pivot value; the oracle mirrors with conditional aggregation (DuckDB
PIVOT's column naming differs — the values are what's checked).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_lambda_stream_processing_spark.registry import app_memo, query
from aws_lambda_stream_processing_spark.tables import load_table

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


def _register(spark: SparkSession, sf_dir: str, *tables: str) -> None:
    for t in tables:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


@query(
    "q_sql_tpch_q3",
    oracle="""
    SELECT l.l_orderkey,
           ROUND(SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                          AS BIGINT)) / 100.0, 2) AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c, orders o, lineitem l
    WHERE c.c_mktsegment = 'BUILDING'
      AND c.c_custkey = o.o_custkey
      AND l.l_orderkey = o.o_orderkey
      AND o.o_orderdate < TIMESTAMP '1995-03-15'
      AND l.l_shipdate > TIMESTAMP '1995-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o.o_orderdate, l.l_orderkey
    LIMIT 10
    """,
    category="2.A",
)
def q_sql_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping-priority) submitted as SQL TEXT — the parser/
    analyzer front door over registered views, same Catalyst pipeline as
    the DataFrame API from the unresolved plan onward. Revenue sums exact
    integer hundredths-of-cents so the top-10 cut is engine-stable."""
    _register(spark, sf_dir, "customer", "orders", "lineitem")
    return spark.sql(
        """
        SELECT l.l_orderkey,
               -- divide by a DOUBLE: bigint / decimal-literal yields
               -- DECIMAL in Spark, which type-mismatches the oracle
               ROUND(SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount)
                                    * 100) AS BIGINT))
                     / CAST(100 AS DOUBLE), 2) AS revenue,
               o.o_orderdate, o.o_orderpriority
        FROM customer c, orders o, lineitem l
        WHERE c.c_mktsegment = 'BUILDING'
          AND c.c_custkey = o.o_custkey
          AND l.l_orderkey = o.o_orderkey
          AND o.o_orderdate < TIMESTAMP '1995-03-15'
          AND l.l_shipdate > TIMESTAMP '1995-03-15'
        GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
        ORDER BY revenue DESC, o.o_orderdate, l.l_orderkey
        LIMIT 10
        """
    )


@query(
    "q_sql_correlated_subquery",
    oracle="""
    SELECT c.c_custkey, c.c_nationkey
    FROM customer c
    WHERE c.c_acctbal > (SELECT AVG(c2.c_acctbal) FROM customer c2
                         WHERE c2.c_nationkey = c.c_nationkey)
    """,
    category="2.C",
)
def q_sql_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (customers above their nation's average
    balance), as SQL text. Catalyst decorrelates this into an aggregate +
    join (§4) — no per-row re-execution; the plan is a broadcast join
    against the 25-row per-nation average."""
    _register(spark, sf_dir, "customer")
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_nationkey
        FROM customer c
        WHERE c.c_acctbal > (SELECT AVG(c2.c_acctbal) FROM customer c2
                             WHERE c2.c_nationkey = c.c_nationkey)
        """
    )


_PIVOT_ORACLE_COLS = ",\n           ".join(
    f"CAST(count_if(event_type = '{t}') AS BIGINT) AS {t}"
    for t in EVENT_TYPES
)


@query(
    "q_pivot",
    oracle=f"""
    SELECT user_id,
           {_PIVOT_ORACLE_COLS}
    FROM events GROUP BY user_id
    """,
    category="2.D",
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long → wide): per-user event counts, one column per event
    type. Pivot values are declared explicitly — at 100 TB you never let
    the engine scan for the distinct value set first."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .pivot("event_type", EVENT_TYPES)
        .count()
        .na.fill(0, EVENT_TYPES)
    )


@query(
    "q_unpivot",
    oracle="""
    WITH wide AS (
      SELECT user_id,
             CAST(count_if(event_type = 'click') AS BIGINT) AS click,
             CAST(count_if(event_type = 'view') AS BIGINT) AS view
      FROM events GROUP BY user_id
    )
    SELECT user_id, metric, n
    FROM wide UNPIVOT (n FOR metric IN (click, view))
    """,
    category="2.D",
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot / melt (wide → long): the inverse reshaping, via the native
    unpivot operator (a projection + explode under the hood — no shuffle
    beyond the feeding aggregate)."""
    e = load_table(spark, sf_dir, "events")
    wide = (
        e.groupBy("user_id")
        .agg(
            F.count_if(F.col("event_type") == "click").alias("click"),
            F.count_if(F.col("event_type") == "view").alias("view"),
        )
    )
    return wide.unpivot(
        ids=["user_id"],
        values=["click", "view"],
        variableColumnName="metric",
        valueColumnName="n",
    )


@query(
    "q_sample_seeded",
    oracle="""
    WITH per_type AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_source
      FROM events GROUP BY event_type
    ),
    strata AS (
      SELECT event_type, n_source FROM per_type
      UNION ALL
      SELECT '(all)' AS event_type, CAST(COUNT(*) AS BIGINT) AS n_source
      FROM events
    )
    SELECT event_type, n_source,
           true AS rate_in_ci,
           CAST(0 AS BIGINT) AS subset_violations,
           CAST(0 AS BIGINT) AS dup_violations,
           true AS seed_replay_stable
    FROM strata ORDER BY event_type
    """,
    category="2.B",
)
def q_sample_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded Bernoulli sample (10%) certified by deterministic
    CERTIFICATES instead of the sampled rows themselves (r9 verdict ask:
    the weak-rung playbook applied to the last weak rung). The sample is
    engine-RNG — the concrete row set is reproducible within one Spark
    build (fixed seed, per-split XORShift) but not across engines — so
    the hashed output carries only properties every correct 10% Bernoulli
    sample must satisfy, each computed from the REAL sample by a real
    distributed check, never assumed:

      rate_in_ci        — per event_type (and overall '(all)' row), the
                          achieved sample count lies within a 6-sigma
                          binomial CI around 0.1*n_source (+1 continuity
                          slack; violation odds ~1e-9 per stratum, so the
                          certificate is deterministic-true for any sane
                          RNG while still falsifying a broken sampler).
      subset_violations — sampled event_ids not present in the source
                          (left-anti join against the scan; exact 0).
      dup_violations    — sampled rows minus distinct sampled event_ids
                          (Bernoulli is without replacement; exact 0).
      seed_replay_stable— the per-stratum (count, XOR of xxhash64(event_id))
                          pair of the sample MATCHES an independently
                          constructed second sample at the same seed —
                          the certificate of the "seeded" contract
                          itself: a nondeterministically seeded sampler
                          (or one whose RNG stream depends on anything
                          but seed+split) moves it.

    Certificate strength, stated honestly (r10 ADVICE): this oracle is
    an INVARIANT certificate, not a value certificate — subset/dup
    violations are structurally 0 for any sample() that returns a
    subset of its input (the frames derive from the same scan), and the
    6-sigma rate band is near-tautological for a working RNG, so of the
    five columns only n_source (exact per-stratum source counts) and
    rate_in_ci carry cross-engine information against a mis-rated
    sampler, and seed_replay_stable carries the within-engine
    determinism claim. An engine-RNG row set has no cross-engine exact
    value oracle; this is the strongest deterministic contract the rung
    admits, and the registry's "exact oracle" claim for it means
    exactly this certificate. (Caveat on the replay pair: if Catalyst
    collapses the two identically-seeded sample subtrees into one
    reused exchange the comparison is trivially true by plan; the two
    builders below project different column orders before sampling to
    keep the subtrees distinct, and the pair still certifies the public
    API contract either way.)

    The 100 TB story is unchanged: sample() is a scan-local coin flip
    (no shuffle), and the certificate aggregates shuffle 5 types + one
    anti-join on 8-byte keys — the audit you'd actually run to trust a
    sampled corpus-statistics job."""
    e = load_table(spark, sf_dir, "events")
    s = e.sample(fraction=0.1, seed=42).select(
        "event_id", "user_id", "event_type"
    )
    # Independent second build at the same seed for the replay
    # certificate: distinct projection order keeps the subtree from
    # being plan-deduplicated with s; sample() rides the same scan
    # splits, so seed+split determinism ⇒ identical row set.
    s2 = e.select("event_type", "event_id").sample(
        fraction=0.1, seed=42
    )

    def certs(group_col):
        src = (
            e.groupBy(group_col.alias("event_type"))
            .agg(F.count("*").alias("n_source"))
        )
        smp = (
            s.groupBy(group_col.alias("event_type"))
            .agg(
                F.count("*").alias("n_sample"),
                F.count_distinct("event_id").alias("n_distinct"),
                F.bit_xor(F.xxhash64("event_id")).alias("id_hash"),
            )
        )
        replay = (
            s2.groupBy(group_col.alias("event_type"))
            .agg(
                F.count("*").alias("n_replay"),
                F.bit_xor(F.xxhash64("event_id")).alias("replay_hash"),
            )
        )
        anti = (
            s.join(e.select("event_id"), "event_id", "left_anti")
            .groupBy(group_col.alias("event_type"))
            .agg(F.count("*").alias("viol"))
        )
        return (
            src.join(smp, "event_type", "left")
            .join(replay, "event_type", "left")
            .join(anti, "event_type", "left")
            .select(
                "event_type",
                F.col("n_source").cast("long").alias("n_source"),
                (
                    F.abs(
                        F.coalesce("n_sample", F.lit(0))
                        - 0.1 * F.col("n_source")
                    )
                    <= 6.0 * F.sqrt(0.1 * 0.9 * F.col("n_source")) + 1.0
                ).alias("rate_in_ci"),
                F.coalesce("viol", F.lit(0)).cast("long").alias(
                    "subset_violations"
                ),
                (
                    F.coalesce("n_sample", F.lit(0))
                    - F.coalesce("n_distinct", F.lit(0))
                ).cast("long").alias("dup_violations"),
                (
                    (
                        F.coalesce("n_sample", F.lit(0))
                        == F.coalesce("n_replay", F.lit(0))
                    )
                    & (
                        F.coalesce("id_hash", F.lit(0))
                        == F.coalesce("replay_hash", F.lit(0))
                    )
                ).alias("seed_replay_stable"),
            )
        )

    per_type = certs(F.col("event_type"))
    overall = certs(F.lit("(all)"))
    return per_type.unionByName(overall).orderBy("event_type")


_Q5_BODY = """
SELECT n.n_name,
       ROUND(SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                      AS BIGINT)) / {hundred}, 2) AS revenue,
       COUNT(*) AS n_lines
FROM customer c, orders o, lineitem l, supplier s, nation n, region r
WHERE c.c_custkey = o.o_custkey
  AND l.l_orderkey = o.o_orderkey
  AND l.l_suppkey = s.s_suppkey
  AND c.c_nationkey = s.s_nationkey
  AND s.s_nationkey = n.n_nationkey
  AND n.n_regionkey = r.r_regionkey
  AND r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n.n_name
"""


@query(
    "q_sql_tpch_q5",
    oracle=_Q5_BODY.format(hundred="100.0"),
    category="2.A",
)
def q_sql_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local-supplier volume) as SQL TEXT: a 6-way star join with
    the local-supplier correlation (c_nationkey = s_nationkey), region/date
    selection, and exact integer-cents revenue. Catalyst's join ordering +
    broadcast selection handle the dims; the same text (modulo the BIGINT/
    literal division type quirk) runs on both engines. The shape Q5 tests —
    dims broadcast, facts shuffle once on the orderkey chain — is exactly
    the 100 TB plan."""
    _register(
        spark, sf_dir,
        "customer", "orders", "lineitem", "supplier", "nation", "region",
    )
    return spark.sql(_Q5_BODY.format(hundred="CAST(100 AS DOUBLE)"))


# --- TPC-H Q10 / Q18 shapes (round 2) --------------------------------------

# Both run the SAME text on Spark and DuckDB except the BIGINT/literal
# division quirk (Spark types bigint/100.0 as DECIMAL; DuckDB as DOUBLE),
# parameterized exactly like _Q5_BODY via {hundred}.

_Q10_BODY = """
    SELECT c.c_custkey, c.c_name,
           ROUND(SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                          AS BIGINT)) / {hundred}, 2) AS revenue,
           c.c_acctbal, n.n_name
    FROM customer c, orders o, lineitem l, nation n
    WHERE c.c_custkey = o.o_custkey
      AND l.l_orderkey = o.o_orderkey
      AND o.o_orderdate >= TIMESTAMP '1995-10-01'
      AND o.o_orderdate < TIMESTAMP '1996-01-01'
      AND l.l_returnflag = 'R'
      AND c.c_nationkey = n.n_nationkey
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
"""


@query(
    "q_sql_tpch_q10",
    oracle=_Q10_BODY.format(hundred="100.0"),
    category="2.A",
)
def q_sql_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned-item reporting) as SQL TEXT: fact-fact join
    orders x lineitem on orderkey with a quarter date cut and returnflag
    filter, customer + nation dims broadcast, exact integer-cents revenue,
    engine-stable top-20 (revenue desc, custkey tiebreak). The 100 TB
    plan: both date + returnflag predicates push to the parquet scans,
    the only wide exchange is the orderkey join."""
    _register(spark, sf_dir, "customer", "orders", "lineitem", "nation")
    return spark.sql(_Q10_BODY.format(hundred="CAST(100 AS DOUBLE)"))


_Q18_BODY = """
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
           o.o_totalprice,
           CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS total_qty
    FROM customer c, orders o, lineitem l
    WHERE o.o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey
        HAVING SUM(CAST(l_quantity AS BIGINT)) > 180
    )
      AND c.c_custkey = o.o_custkey
      AND o.o_orderkey = l.l_orderkey
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
             o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 100
"""


@query(
    "q_sql_tpch_q18",
    oracle=_Q18_BODY.format(),
    category="2.A",
)
def q_sql_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customer) as SQL TEXT: IN-subquery over a
    grouped HAVING aggregate — Catalyst rewrites it to a left-semi join
    against the aggregated lineitem, which re-uses the same orderkey
    partitioning as the main join (one exchange family). l_quantity is
    integral-valued (domain 1-50) so BIGINT sums are exact on both
    engines; ordering ties broken by orderkey for a stable top-100."""
    _register(spark, sf_dir, "customer", "orders", "lineitem")
    return spark.sql(_Q18_BODY)


_LATERAL_BODY = """
    SELECT o.o_orderkey, t.l_linenumber, t.l_extendedprice
    FROM orders o,
    LATERAL (SELECT l_linenumber, l_extendedprice FROM lineitem l
             WHERE l.l_orderkey = o.o_orderkey
             ORDER BY l_extendedprice DESC, l_linenumber LIMIT 2) t
    WHERE o.o_orderkey < 1000
"""


@query(
    "q_join_lateral",
    oracle=_LATERAL_BODY,
    category="2.C",
)
def q_join_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with per-row ORDER BY ... LIMIT (top-2
    lineitems per order) — the modern SQL form of top-k-per-group.
    Catalyst decorrelates the lateral into a join + windowed group limit
    rather than re-executing the subquery per outer row; the fully
    deterministic ORDER BY (price DESC, linenumber) makes the cut
    engine-stable. Same text runs on both engines."""
    _register(spark, sf_dir, "orders", "lineitem")
    return spark.sql(_LATERAL_BODY)


_Q14_BODY = """
    SELECT ROUND(
             {hundred} * SUM(CASE WHEN p.p_type = 'PROMO'
                              THEN CAST(round(l.l_extendedprice
                                              * (1 - l.l_discount) * 100)
                                        AS BIGINT)
                              ELSE 0 END)
             / SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                        AS BIGINT)),
             4) AS promo_revenue_pct
    FROM lineitem l, part p
    WHERE l.l_partkey = p.p_partkey
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1996-02-01'
"""


@query(
    "q_sql_tpch_q14",
    oracle=_Q14_BODY.format(hundred="100.0"),
    category="2.A",
)
def q_sql_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): promo share of one month's revenue.
    Both the conditional and total revenue sums are exact integer
    hundredths-of-cents, so the single percentage division is one IEEE op
    on identical integers — no float-sum drift despite the CASE. The
    month predicate pushes to the lineitem scan; part joins on partkey
    (broadcast at these SFs, shuffle-hash at 100 TB)."""
    _register(spark, sf_dir, "lineitem", "part")
    return spark.sql(_Q14_BODY.format(hundred="CAST(100 AS DOUBLE)"))


_Q19_BODY = """
    SELECT COUNT(*) AS n_lines,
           SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                    AS BIGINT)) / {hundred} AS revenue
    FROM lineitem l, part p
    WHERE l.l_partkey = p.p_partkey
      AND (
            (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
             AND l.l_quantity >= 1 AND l.l_quantity <= 20)
         OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30
             AND l.l_quantity >= 10 AND l.l_quantity <= 35)
         OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 50
             AND l.l_quantity >= 20 AND l.l_quantity <= 50)
      )
"""


@query(
    "q_sql_tpch_q19",
    oracle=_Q19_BODY.format(hundred="100.0"),
    category="2.A",
)
def q_sql_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue, disjunction of conjunctive
    brand/size/quantity baskets — adapted to this corpus's part columns):
    the OR-of-ANDs predicate is the classic pushdown/join-predicate
    splitting test — Catalyst must keep the join on partkey an equi hash
    join and evaluate the disjunction as a post-join filter (or push the
    per-side conjuncts down), never degrade to a nested loop. Revenue in
    exact integer cents; one scalar output row."""
    _register(spark, sf_dir, "lineitem", "part")
    return spark.sql(_Q19_BODY.format(hundred="CAST(100 AS DOUBLE)"))


_Q12_BODY = """
    SELECT l.l_returnflag,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o, lineitem l
    WHERE o.o_orderkey = l.l_orderkey
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l.l_returnflag
    ORDER BY l.l_returnflag
"""


@query(
    "q_sql_tpch_q12",
    oracle=_Q12_BODY,
    category="2.A",
)
def q_sql_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping-mode priority split — adapted: returnflag
    stands in for the absent l_shipmode): fact-fact orderkey join with a
    year cut and two conditional counts. Integer counts → exact; the
    year predicate pushes to the lineitem scan so the join input is
    pre-filtered — the Q12 plan property that matters at 100 TB."""
    _register(spark, sf_dir, "orders", "lineitem")
    return spark.sql(_Q12_BODY)


_Q4_BODY = """
    SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-04-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate)
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
"""


@query(
    "q_sql_tpch_q4",
    oracle=_Q4_BODY,
    category="2.A",
)
def q_sql_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order-priority checking — adapted: "some line
    shipped after the order date" stands in for the absent
    commitdate<receiptdate lateness test): correlated EXISTS over the
    fact table. Catalyst rewrites to a LEFT SEMI hash join on orderkey
    with the quarter cut pushed to the orders scan — the semi join
    dedups lineitem matches on the build side, so multi-line orders
    count once. Integer counts -> exact."""
    _register(spark, sf_dir, "orders", "lineitem")
    return spark.sql(_Q4_BODY)


_Q6_BODY = """
    SELECT SUM(CAST(round(l_extendedprice * l_discount * 100) AS BIGINT))
           / {hundred} AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
"""


@query(
    "q_sql_tpch_q6",
    oracle=_Q6_BODY.format(hundred="100.0"),
    category="2.A",
)
def q_sql_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): pure scan-filter-aggregate,
    no join — the canonical predicate-pushdown + whole-stage-codegen
    benchmark. All three range predicates push to the parquet scan
    (shipdate min/max prunes row groups at 100 TB); revenue is summed in
    exact integer hundredths-of-cents so the single scalar matches the
    oracle bit-for-bit. The BETWEEN on the double discount column
    compares identical parquet doubles to identical literals in both
    engines -> no boundary drift."""
    _register(spark, sf_dir, "lineitem")
    return spark.sql(_Q6_BODY.format(hundred="CAST(100 AS DOUBLE)"))


_Q13_BODY = """
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (
      SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
      FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY c.c_custkey
    ) per_cust
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
"""


@query(
    "q_sql_tpch_q13",
    oracle=_Q13_BODY,
    category="2.A",
)
def q_sql_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer order-count distribution — comment filter
    dropped with the absent o_comment column): LEFT OUTER join so
    zero-order customers survive into the c_count=0 bucket, then a
    second aggregation over the counts. COUNT(o.o_orderkey) counts
    non-null matches only — the outer-join-then-count-child-column
    semantics that naive COUNT(*) gets wrong. Both aggs are hash aggs
    with map-side partials; the first shuffles on custkey (same key as
    the join -> single exchange), the second on the tiny count domain."""
    _register(spark, sf_dir, "customer", "orders")
    return spark.sql(_Q13_BODY)


_Q17_BODY = """
    SELECT SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT))
           / {seven} AS avg_yearly
    FROM lineitem l, part p
    WHERE p.p_partkey = l.l_partkey
      AND p.p_brand = 'Brand#2'
      AND l.l_quantity < (SELECT 0.2 * AVG(l2.l_quantity) FROM lineitem l2
                          WHERE l2.l_partkey = l.l_partkey)
"""


@query(
    "q_sql_tpch_q17",
    oracle=_Q17_BODY.format(seven="700.0"),
    category="2.A",
)
def q_sql_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue): correlated scalar AVG
    subquery per partkey. Catalyst decorrelates into a per-partkey
    aggregate joined back on partkey — one extra hash agg + equi join,
    not per-row re-execution. Exactness: l_quantity values are integral
    doubles, so each partkey's SUM is exact and AVG is a single IEEE
    division on identical operands in both engines; the 0.2* threshold
    is one more deterministic float op. Revenue in exact integer cents;
    single scalar out."""
    _register(spark, sf_dir, "lineitem", "part")
    return spark.sql(_Q17_BODY.format(seven="CAST(700 AS DOUBLE)"))


_Q21_BODY = """
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM supplier s, lineitem l1, orders o
    WHERE s.s_suppkey = l1.l_suppkey
      AND o.o_orderkey = l1.l_orderkey
      AND o.o_orderstatus = 'F'
      AND l1.l_shipdate > o.o_orderdate + INTERVAL '60' DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o.o_orderdate
                                            + INTERVAL '60' DAY)
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 20
"""


@query(
    "q_sql_tpch_q21",
    oracle=_Q21_BODY,
    category="2.A",
)
def q_sql_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting — adapted:
    "shipped >60 days after the order date" stands in for the absent
    receiptdate>commitdate lateness test): the hardest decorrelation in
    the TPC-H suite — EXISTS (another supplier touched the order) AND
    NOT EXISTS (any OTHER supplier was also late), the latter correlated
    to BOTH l1 (orderkey, suppkey<>) and o (the lateness cutoff).
    Catalyst plans semi + anti hash joins on orderkey with the non-equi
    conjuncts as join residuals — no nested-loop fallback. Ties in
    numwait are broken by s_name for a stable LIMIT."""
    _register(spark, sf_dir, "supplier", "lineitem", "orders")
    return spark.sql(_Q21_BODY)


_Q22_BODY = """
    SELECT CAST(c.c_nationkey % 5 AS INTEGER) AS cntrycode,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           SUM(CAST(round(c.c_acctbal * 100) AS BIGINT))
           / {hundred} AS totacctbal
    FROM customer c
    WHERE CAST(round(c.c_acctbal * 100) AS BIGINT) >
          (SELECT SUM(CAST(round(c2.c_acctbal * 100) AS BIGINT))
                  / CAST(COUNT(*) AS DOUBLE)
           FROM customer c2 WHERE c2.c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '1999-01-01')
    GROUP BY CAST(c.c_nationkey % 5 AS INTEGER)
    ORDER BY cntrycode
"""


@query(
    "q_sql_tpch_q22",
    oracle=_Q22_BODY.format(hundred="100.0"),
    category="2.A",
)
def q_sql_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global-sales-opportunity — adapted: nationkey%5
    stands in for the absent phone-prefix country code, and "no orders
    since 1999" for "never ordered" — every customer in this corpus has
    at least one order, so the spec's unrestricted NOT EXISTS would be
    vacuously empty): uncorrelated scalar AVG threshold + NOT EXISTS
    anti join against recent orders. The
    threshold compares exact integer cents against a single deterministic
    division (exact BIGINT sum / count), so the above-average cut cannot
    drift between engines; the anti join is a broadcast/shuffled hash
    anti on custkey. Balance totals in exact integer cents."""
    _register(spark, sf_dir, "customer", "orders")
    return spark.sql(_Q22_BODY.format(hundred="CAST(100 AS DOUBLE)"))


# --- TPC-H completion: Q2/Q7/Q8/Q9/Q11/Q15/Q16/Q20 (round 2) ---------------
#
# The corpus ships no partsupp table, so the four queries that need one
# (Q2, Q9, Q11, Q20 — and Q16's pair set) derive a stand-in CTE from
# lineitem: ps_supplycost := MIN(extendedprice) in exact integer cents,
# ps_availqty := SUM(quantity) (integral doubles -> exact BIGINT). The CTE
# text is IDENTICAL on both engines, so the derived table cannot drift; at
# 100 TB it is one extra hash agg on (partkey, suppkey) — the same shuffle
# key the consuming joins use, so Catalyst reuses the exchange. All eight
# bodies run VERBATIM on Spark and DuckDB (divisions go through
# CAST(... AS DOUBLE) to dodge Spark's decimal-literal typing).

_PARTSUPP_SELECT = """
  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
         MIN(CAST(round(l_extendedprice * 100) AS BIGINT)) AS ps_supplycost_c,
         CAST(SUM(l_quantity) AS BIGINT) AS ps_availqty
  FROM lineitem GROUP BY l_partkey, l_suppkey
"""

_PARTSUPP_CTE = f"""
WITH partsupp AS ({_PARTSUPP_SELECT})
"""

# The cached derived-partsupp DataFrame. Four TPC-H rungs (q2, q9, q11,
# q20) each rebuild the same corpus-wide (partkey, suppkey) aggregation —
# and q2/q11/q20 reference it TWICE inside one query (the decorrelated
# MIN / HAVING scalar / IN chain), which Spark's inlined CTEs re-execute
# each time (guide §2.4: duplicated subtrees are repeat shuffles).
# Memoize it per (application, sf_dir) through registry.app_memo,
# family-scoped: the memo lives while consecutive sqlfront rungs run and
# is released on the first foreign build. The DuckDB oracle keeps the CTE
# formulation — identical relation, independently derived.
def _register_partsupp(spark: SparkSession, sf_dir: str) -> None:
    _register(spark, sf_dir, "lineitem")
    df = app_memo(
        spark,
        ("partsupp", sf_dir),
        lambda: spark.sql(_PARTSUPP_SELECT).cache(),
        scope="sqlfront",
    )
    df.createOrReplaceTempView("partsupp")


_Q2_SQL = """
SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey, p.p_name,
       ps.ps_supplycost_c / CAST(100 AS DOUBLE) AS supplycost
FROM part p, supplier s, partsupp ps, nation n, region r
WHERE p.p_partkey = ps.ps_partkey
  AND s.s_suppkey = ps.ps_suppkey
  AND p.p_size BETWEEN 10 AND 20 AND p.p_type = 'STANDARD'
  AND s.s_nationkey = n.n_nationkey
  AND n.n_regionkey = r.r_regionkey
  AND r.r_name = 'EUROPE'
  AND ps.ps_supplycost_c = (
      SELECT MIN(ps2.ps_supplycost_c)
      FROM partsupp ps2, supplier s2, nation n2, region r2
      WHERE ps2.ps_partkey = p.p_partkey
        AND s2.s_suppkey = ps2.ps_suppkey
        AND s2.s_nationkey = n2.n_nationkey
        AND n2.n_regionkey = r2.r_regionkey
        AND r2.r_name = 'EUROPE')
ORDER BY s.s_acctbal DESC, n.n_name, s.s_name, p.p_partkey
LIMIT 100
"""
_Q2_BODY = _PARTSUPP_CTE + _Q2_SQL


@query("q_sql_tpch_q2", oracle=_Q2_BODY, category="2.A")
def q_sql_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (minimum-cost supplier; p_size band widened so the
    200-part corpus keeps matches): correlated scalar MIN over the derived
    partsupp, correlated on p_partkey. Catalyst decorrelates into a
    per-partkey MIN aggregate joined back — the same region-filtered
    partsupp subtree appears twice and both sides stay equi hash joins.
    Costs are exact integer cents, so the min-cost tie set is engine-stable;
    ORDER BY has a full unique tiebreak (acctbal DESC, nation, name,
    partkey) for a stable LIMIT 100."""
    _register(spark, sf_dir, "part", "supplier", "lineitem", "nation",
              "region")
    _register_partsupp(spark, sf_dir)
    return spark.sql(_Q2_SQL)


_Q7_BODY = """
SELECT supp_nation, cust_nation, l_year,
       ROUND(SUM(volume_c) / CAST(100 AS DOUBLE), 2) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l.l_shipdate) AS INTEGER) AS l_year,
         CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
              AS BIGINT) AS volume_c
  FROM supplier s, lineitem l, orders o, customer c, nation n1, nation n2
  WHERE s.s_suppkey = l.l_suppkey AND o.o_orderkey = l.l_orderkey
    AND c.c_custkey = o.o_custkey AND s.s_nationkey = n1.n_nationkey
    AND c.c_nationkey = n2.n_nationkey
    AND ((n1.n_regionkey = 3 AND n2.n_regionkey = 2)
      OR (n1.n_regionkey = 2 AND n2.n_regionkey = 3))
    AND l.l_shipdate >= TIMESTAMP '1996-01-01'
    AND l.l_shipdate < TIMESTAMP '1998-01-01'
) shipping
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


@query("q_sql_tpch_q7", oracle=_Q7_BODY, category="2.A")
def q_sql_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping — adapted: the EUROPE<->ASIA region pair
    stands in for the spec's FRANCE<->GERMANY nation pair, since supplier
    placement across nations is sparse at small SF): the two nation dims
    join the fact chain with a symmetric OR-of-pairs residual. Both nation
    tables broadcast (25 rows); the OR filters post-join without breaking
    the equi hash joins on the key chain. Revenue exact integer cents per
    (supp_nation, cust_nation, year) cell."""
    _register(spark, sf_dir, "supplier", "lineitem", "orders", "customer",
              "nation")
    return spark.sql(_Q7_BODY)


_Q8_BODY = """
SELECT o_year,
       floor(SUM(CASE WHEN supp_region = 3 THEN volume_c ELSE 0 END)
             / SUM(volume_c) * 10000 + CAST(0.5 AS DOUBLE))
       / CAST(10000 AS DOUBLE) AS mkt_share
FROM (
  SELECT CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
         CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
              AS BIGINT) AS volume_c,
         n1.n_regionkey AS supp_region
  FROM part p, supplier s, lineitem l, orders o, customer c,
       nation n2, region r, nation n1
  WHERE p.p_partkey = l.l_partkey AND s.s_suppkey = l.l_suppkey
    AND l.l_orderkey = o.o_orderkey AND o.o_custkey = c.c_custkey
    AND c.c_nationkey = n2.n_nationkey AND n2.n_regionkey = r.r_regionkey
    AND r.r_name = 'AMERICA'
    AND s.s_nationkey = n1.n_nationkey
    AND o.o_orderdate >= TIMESTAMP '1996-01-01'
    AND o.o_orderdate < TIMESTAMP '1998-01-01'
    AND p.p_type = 'ECONOMY'
) all_nations
GROUP BY o_year
ORDER BY o_year
"""


@query("q_sql_tpch_q8", oracle=_Q8_BODY, category="2.A")
def q_sql_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share — adapted: EUROPE-supplier share of
    the AMERICA-customer ECONOMY-part market; regions stand in for the
    sparse nation placement): 7-way star join, share = conditional sum /
    total sum. Both sums are exact BIGINT cents, so the single IEEE
    division is deterministic; the 4-decimal rounding uses the repo's
    floor(x*1e4 + 0.5)/1e4 half-up discipline — NOT engine ROUND, whose
    half-even vs half-away tie behavior differs — identical text both
    sides (single-rounding discipline)."""
    _register(spark, sf_dir, "part", "supplier", "lineitem", "orders",
              "customer", "nation", "region")
    return spark.sql(_Q8_BODY)


_Q9_SQL = """
SELECT nation, o_year,
       ROUND(SUM(amount_c) / CAST(100 AS DOUBLE), 2) AS sum_profit
FROM (
  SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
         CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)
         - ps.ps_supplycost_c * CAST(l.l_quantity AS BIGINT) AS amount_c
  FROM part p, supplier s, lineitem l, partsupp ps, orders o, nation n
  WHERE s.s_suppkey = l.l_suppkey AND ps.ps_suppkey = l.l_suppkey
    AND ps.ps_partkey = l.l_partkey AND p.p_partkey = l.l_partkey
    AND o.o_orderkey = l.l_orderkey AND s.s_nationkey = n.n_nationkey
    AND p.p_name LIKE '%widget%'
) profit
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
"""
_Q9_BODY = _PARTSUPP_CTE + _Q9_SQL


@query("q_sql_tpch_q9", oracle=_Q9_BODY, category="2.A")
def q_sql_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (product-type profit — supplycost from the derived
    partsupp stand-in, '%widget%' over the adjective-noun p_name): profit =
    revenue cents - supplycost*qty, all exact BIGINT per line. The
    partsupp CTE joins lineitem on its own grouping key
    (partkey, suppkey) — at 100 TB the agg output partitioning feeds the
    join without a second shuffle. Amounts may go negative (stand-in cost
    is a line-level min price); that's fine, the test is the join/agg
    topology and exact math."""
    _register(spark, sf_dir, "part", "supplier", "lineitem", "orders",
              "nation")
    _register_partsupp(spark, sf_dir)
    return spark.sql(_Q9_SQL)


_Q11_SQL = """
SELECT ps.ps_partkey,
       CAST(SUM(ps.ps_supplycost_c * ps.ps_availqty) AS BIGINT) AS value_c
FROM partsupp ps, supplier s, nation n
WHERE ps.ps_suppkey = s.s_suppkey AND s.s_nationkey = n.n_nationkey
  AND n.n_regionkey = 3
GROUP BY ps.ps_partkey
HAVING SUM(ps.ps_supplycost_c * ps.ps_availqty) >
  (SELECT SUM(ps2.ps_supplycost_c * ps2.ps_availqty) * CAST(0.001 AS DOUBLE)
   FROM partsupp ps2, supplier s2, nation n2
   WHERE ps2.ps_suppkey = s2.s_suppkey AND s2.s_nationkey = n2.n_nationkey
     AND n2.n_regionkey = 3)
ORDER BY value_c DESC, ps.ps_partkey
"""
_Q11_BODY = _PARTSUPP_CTE + _Q11_SQL


@query("q_sql_tpch_q11", oracle=_Q11_BODY, category="2.A")
def q_sql_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (important stock — EUROPE region for the spec's GERMANY):
    HAVING against an uncorrelated scalar — the same filtered partsupp
    subtree aggregated twice, once per partkey and once globally. The
    scalar computes once and broadcasts; stock values stay exact BIGINT
    (cents x quantity), only the 0.001 threshold is a double — one
    deterministic multiply. value_c returned as exact BIGINT, partkey
    tiebreak for stable order."""
    _register(spark, sf_dir, "lineitem", "supplier", "nation")
    _register_partsupp(spark, sf_dir)
    return spark.sql(_Q11_SQL)


_Q15_BODY = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                  AS BIGINT)) AS total_revenue_c
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name,
       r.total_revenue_c / CAST(100 AS DOUBLE) AS total_revenue
FROM supplier s, revenue r
WHERE s.s_suppkey = r.supplier_no
  AND r.total_revenue_c = (SELECT MAX(total_revenue_c) FROM revenue)
ORDER BY s.s_suppkey
"""


@query("q_sql_tpch_q15", oracle=_Q15_BODY, category="2.A")
def q_sql_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier; CTE replaces the spec's CREATE VIEW): the
    revenue CTE is referenced twice — once joined to supplier, once under
    MAX. Revenue is exact BIGINT cents so the argmax tie set is
    engine-stable (the spec itself allows multiple top suppliers; all are
    returned, keyed by s_suppkey). The MAX scalar is a one-row broadcast
    against the per-supplier agg — no second fact scan at scale if the CTE
    materializes, and both engines compute it from identical integers."""
    _register(spark, sf_dir, "supplier", "lineitem")
    return spark.sql(_Q15_BODY)


_Q16_BODY = """
WITH partsupp AS (
  SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
  FROM lineitem
)
SELECT p.p_brand, p.p_type, p.p_size,
       CAST(COUNT(DISTINCT ps.ps_suppkey) AS BIGINT) AS supplier_cnt
FROM partsupp ps, part p
WHERE p.p_partkey = ps.ps_partkey
  AND p.p_brand <> 'Brand#5'
  AND p.p_type <> 'PROMO'
  AND p.p_size IN (1, 4, 7, 10, 15, 23, 30, 45)
  AND ps.ps_suppkey NOT IN
      (SELECT s_suppkey FROM supplier WHERE s_suppkey % 7 = 0)
GROUP BY p.p_brand, p.p_type, p.p_size
ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
"""


@query("q_sql_tpch_q16", oracle=_Q16_BODY, category="2.A")
def q_sql_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (parts/supplier relationship — suppkey%7=0 stands in for
    the spec's complaint-comment exclusion; comments don't exist here):
    NOT IN over a key subquery (s_suppkey is non-null, so NOT IN's
    three-valued-logic trap is closed and Catalyst plans a null-aware anti
    join that degenerates to a plain anti join), then COUNT(DISTINCT
    suppkey) per (brand, type, size) — a two-phase distinct agg whose
    partial dedup runs map-side at scale."""
    _register(spark, sf_dir, "lineitem", "part", "supplier")
    return spark.sql(_Q16_BODY)


_Q20_SQL = """
SELECT s.s_name, n.n_name
FROM supplier s, nation n
WHERE s.s_suppkey IN (
    SELECT ps.ps_suppkey
    FROM partsupp ps
    WHERE ps.ps_partkey IN
          (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
      AND ps.ps_availqty > (
        SELECT CAST(0.5 AS DOUBLE) * SUM(l.l_quantity)
        FROM lineitem l
        WHERE l.l_partkey = ps.ps_partkey AND l.l_suppkey = ps.ps_suppkey
          AND l.l_shipdate >= TIMESTAMP '1997-01-01'
          AND l.l_shipdate < TIMESTAMP '1998-01-01'))
  AND s.s_nationkey = n.n_nationkey
  AND n.n_regionkey = 3
ORDER BY s.s_name
"""
_Q20_BODY = _PARTSUPP_CTE + _Q20_SQL


@query("q_sql_tpch_q20", oracle=_Q20_BODY, category="2.A")
def q_sql_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (potential part promotion — 'small%' parts, EUROPE for
    CANADA, availqty from the partsupp stand-in): three nesting levels —
    IN (suppliers) -> IN (qualifying parts) -> correlated scalar SUM
    (half of 1997 shipments per (partkey, suppkey)). Catalyst turns the IN
    chain into semi joins and decorrelates the scalar into a per-pair agg
    joined back on the pair key. A pair with no 1997 shipments yields a
    NULL scalar -> comparison false -> excluded, identical in DuckDB
    (three-valued logic, same as the spec's semantics)."""
    _register(spark, sf_dir, "lineitem", "supplier", "part", "nation")
    _register_partsupp(spark, sf_dir)
    return spark.sql(_Q20_SQL)


@query(
    "q_sql_ctas_insert",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    category="2.A",
)
def q_sql_ctas_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDL/DML surface: CREATE TABLE AS SELECT (the pre-1998 order rows)
    then INSERT INTO ... SELECT (the 1998+ delta), then aggregate the
    catalog table — the managed-table write path a warehouse layer uses,
    certified against the direct parquet aggregate. Fixed table name with
    drop-and-clean (the q_join_bucketed pattern: the in-memory catalog
    forgets tables between sessions while warehouse dirs persist), result
    materialized before the DROP so the returned frame doesn't read a
    dead table."""
    import os
    import shutil as _sh

    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    spark.sql("CREATE DATABASE IF NOT EXISTS alsp_ddl")
    tbl = "alsp_ddl.orders_ctas"
    warehouse = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    try:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        _sh.rmtree(
            os.path.join(warehouse, "alsp_ddl.db", "orders_ctas"),
            ignore_errors=True,
        )
        spark.sql(
            f"""
            CREATE TABLE {tbl} USING PARQUET AS
            SELECT o_orderpriority,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders
            WHERE o_orderdate < TIMESTAMP '1998-01-01'
            """
        )
        spark.sql(
            f"""
            INSERT INTO {tbl}
            SELECT o_orderpriority,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1998-01-01'
            """
        )
        result = spark.sql(
            f"""
            SELECT o_orderpriority,
                   CAST(COUNT(*) AS BIGINT) AS n_orders,
                   CAST(SUM(cents) AS BIGINT) AS total_cents
            FROM {tbl}
            GROUP BY o_orderpriority
            ORDER BY o_orderpriority
            """
        )
        rows = result.collect()
        return spark.createDataFrame(rows, result.schema)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        _sh.rmtree(
            os.path.join(warehouse, "alsp_ddl.db", "orders_ctas"),
            ignore_errors=True,
        )


@query(
    "q_sql_parameterized",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderstatus = 'F'
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    category="2.A",
)
def q_sql_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL (Spark 4 named-parameter binding): the query
    text carries :cutoff and :status placeholders and values arrive via
    `spark.sql(..., args={...})` — the injection-safe API surface every
    SQL front end needs (string-interpolated literals are the #1 SQL
    injection vector; named binding also lets the driver cache one plan
    per TEXT, not per literal). Semantics and plan are identical to the
    inlined-literal query — Catalyst folds the bound constants and the
    date filter still reaches the parquet scan."""
    from aws_lambda_stream_processing_spark.tables import load_table as _lt

    _lt(spark, sf_dir, "orders").createOrReplaceTempView("param_orders")
    # NOTE: the temp view must OUTLIVE this builder — the returned
    # DataFrame is lazy and resolves `param_orders` at action time, so a
    # finally-drop here would break every caller. Session-scoped and
    # overwritten on the next call; nothing accumulates.
    return spark.sql(
        """
        SELECT o_orderpriority,
               COUNT(*) AS n,
               SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        FROM param_orders
        WHERE o_orderdate >= :cutoff AND o_orderstatus = :status
        GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
        args={"cutoff": "1996-01-01", "status": "F"},
    )


@query(
    "q_sql_not_in_nulls",
    oracle="""
    WITH probe AS (
      SELECT c_custkey FROM customer WHERE c_custkey <= 200
    ),
    sub AS (
      SELECT CASE WHEN o_custkey % 97 = 0 THEN NULL ELSE o_custkey END
               AS k
      FROM orders WHERE o_custkey <= 150
    )
    SELECT
      (SELECT CAST(COUNT(*) AS BIGINT) FROM probe
       WHERE c_custkey NOT IN (SELECT k FROM sub)) AS not_in_count,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM probe p
       WHERE NOT EXISTS (SELECT 1 FROM sub s WHERE s.k = p.c_custkey))
        AS not_exists_count,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM sub WHERE k IS NULL) AS n_nulls
    """,
    category="2.C",
)
def q_sql_not_in_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NOT IN / NULL trap, certified: when the subquery produces even
    ONE NULL, ANSI three-valued logic makes `x NOT IN (...)` evaluate to
    UNKNOWN for every x — zero rows — while NOT EXISTS (an anti-join)
    still returns the true complement. Both engines implement the
    standard; this query pins the engine's null-aware anti-join
    (Spark plans NOT IN as NullAwareAntiJoin) against the oracle so a
    future optimizer regression that 'fixes' the trap into anti-join
    semantics would be caught. All three counters exact."""
    from aws_lambda_stream_processing_spark.tables import load_tables

    c, o = load_tables(spark, sf_dir, "customer", "orders")
    c.createOrReplaceTempView("nin_customer")
    o.createOrReplaceTempView("nin_orders")
    return spark.sql(
        """
        WITH probe AS (
          SELECT c_custkey FROM nin_customer WHERE c_custkey <= 200
        ),
        sub AS (
          SELECT CASE WHEN o_custkey % 97 = 0 THEN NULL ELSE o_custkey END
                   AS k
          FROM nin_orders WHERE o_custkey <= 150
        )
        SELECT
          (SELECT COUNT(*) FROM probe
           WHERE c_custkey NOT IN (SELECT k FROM sub)) AS not_in_count,
          (SELECT COUNT(*) FROM probe p
           WHERE NOT EXISTS (SELECT 1 FROM sub s
                             WHERE s.k = p.c_custkey)) AS not_exists_count,
          (SELECT COUNT(*) FROM sub WHERE k IS NULL) AS n_nulls
        """
    )


_DS67_BODY = """
    WITH sales AS (
      SELECT p.p_brand, p.p_type,
             CAST(GROUPING(p.p_brand) AS INTEGER) AS g_brand,
             CAST(GROUPING(p.p_type) AS INTEGER) AS g_type,
             CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS rev_cents
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY ROLLUP(p.p_brand, p.p_type)
    ),
    ranked AS (
      SELECT p_brand, p_type, g_brand, g_type, rev_cents,
             rank() OVER (PARTITION BY p_brand
                          ORDER BY rev_cents DESC,
                                   p_type ASC NULLS FIRST) AS rk
      FROM sales
    )
    SELECT p_brand, p_type, g_brand, g_type, rev_cents,
           CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= 5
    ORDER BY p_brand ASC NULLS FIRST, rk, p_type ASC NULLS FIRST
"""


@query(
    "q_sql_tpcds_q67_shape",
    oracle=_DS67_BODY,
    category="2.A",
)
def q_sql_tpcds_q67_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q67 shape — the rank-over-ROLLUP pattern TPC-H never
    exercises: hierarchical revenue subtotals (brand, type) via ROLLUP,
    then a windowed rank WITHIN each brand partition keeping the top 5
    rows (subtotal rows rank alongside detail rows, exactly as in the
    DS spec). GROUPING() flags disambiguate NULL-as-subtotal from
    NULL-as-value; every ORDER BY spells out NULLS FIRST because the
    engines' defaults differ (Spark: asc=NULLS FIRST, DuckDB: NULLS
    LAST). Revenue is exact integer cents. Scale: one join + rollup agg
    (rollup = map-side expansion over the grouping sets), window
    partitioned by the bounded brand domain over the agg output —
    aggregate grain, not fact grain."""
    _register(spark, sf_dir, "lineitem", "part")
    return spark.sql(_DS67_BODY)


@query(
    "q_sql_pivot_syntax",
    oracle="""
    SELECT user_id % 10 AS cohort,
           CAST(SUM(CASE WHEN event_type = 'click'
                    THEN round(value * 100) ELSE 0 END) AS BIGINT)
             AS click_cents,
           CAST(SUM(CASE WHEN event_type = 'view'
                    THEN round(value * 100) ELSE 0 END) AS BIGINT)
             AS view_cents,
           CAST(SUM(CASE WHEN event_type = 'purchase'
                    THEN round(value * 100) ELSE 0 END) AS BIGINT)
             AS purchase_cents
    FROM events
    GROUP BY user_id % 10
    ORDER BY cohort
    """,
    category="2.A",
)
def q_sql_pivot_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL PIVOT clause (the ANSI-ish syntax, distinct from the
    DataFrame .pivot() covered by q_pivot): revenue cents per user
    cohort pivoted across three event types with an explicit IN list —
    the explicit list is what keeps the plan a single deterministic-
    schema hash agg (an open-ended pivot needs a distinct-values
    pre-pass). The oracle is the conditional-aggregation desugaring,
    which is also exactly what Catalyst lowers PIVOT to. Exact int64
    cents; one map-side-combining agg."""
    _register(spark, sf_dir, "events")
    return spark.sql("""
        SELECT * FROM (
          SELECT user_id % 10 AS cohort, event_type,
                 CAST(round(value * 100) AS BIGINT) AS cents
          FROM events
        )
        PIVOT (
          SUM(cents) FOR event_type IN
            ('click' AS click_cents, 'view' AS view_cents,
             'purchase' AS purchase_cents)
        )
        ORDER BY cohort
    """).select(
        "cohort",
        F.coalesce("click_cents", F.lit(0)).alias("click_cents"),
        F.coalesce("view_cents", F.lit(0)).alias("view_cents"),
        F.coalesce("purchase_cents", F.lit(0)).alias("purchase_cents"),
    )


_DS88_BODY = """
    SELECT
      (SELECT COUNT(*) FROM lineitem WHERE l_quantity BETWEEN 1 AND 10)
        AS b1,
      (SELECT COUNT(*) FROM lineitem WHERE l_quantity BETWEEN 11 AND 20)
        AS b2,
      (SELECT COUNT(*) FROM lineitem WHERE l_quantity BETWEEN 21 AND 30)
        AS b3,
      (SELECT COUNT(*) FROM lineitem WHERE l_quantity BETWEEN 31 AND 40)
        AS b4,
      (SELECT COUNT(*) FROM lineitem WHERE l_quantity BETWEEN 41 AND 50)
        AS b5,
      (SELECT COUNT(*) FROM lineitem
       WHERE l_quantity > 25 AND l_discount > 0.05) AS b6,
      (SELECT COUNT(*) FROM lineitem
       WHERE l_quantity <= 25 AND l_discount <= 0.05) AS b7,
      (SELECT COUNT(*) FROM lineitem WHERE l_returnflag = 'R') AS b8
"""


@query(
    "q_sql_tpcds_q88_shape",
    oracle=_DS88_BODY,
    category="2.A",
)
def q_sql_tpcds_q88_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q88 shape — the scalar-subquery BATTERY: eight
    independent filtered counts of the same fact table cross-joined
    into one dashboard row. The interesting planner behavior: each
    subquery becomes its own scan+agg subtree (Catalyst does NOT fuse
    them — at 100 TB you'd rewrite to ONE pass of conditional sums,
    exactly q_agg_conditional's shape, trading 8 scans for 1; this
    query preserves the DS formulation to pin the multi-subquery
    surface itself). All counts exact."""
    _register(spark, sf_dir, "lineitem")
    return spark.sql(_DS88_BODY)


_DS97_BODY = """
    WITH urgent AS (
      SELECT DISTINCT o_custkey FROM orders
      WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    ),
    relaxed AS (
      SELECT DISTINCT o_custkey FROM orders
      WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
    )
    SELECT
      CAST(SUM(CASE WHEN u.o_custkey IS NOT NULL
                     AND r.o_custkey IS NOT NULL
               THEN 1 ELSE 0 END) AS BIGINT) AS both_channels,
      CAST(SUM(CASE WHEN u.o_custkey IS NOT NULL
                     AND r.o_custkey IS NULL
               THEN 1 ELSE 0 END) AS BIGINT) AS urgent_only,
      CAST(SUM(CASE WHEN u.o_custkey IS NULL
                     AND r.o_custkey IS NOT NULL
               THEN 1 ELSE 0 END) AS BIGINT) AS relaxed_only
    FROM urgent u
    FULL OUTER JOIN relaxed r ON u.o_custkey = r.o_custkey
"""


@query(
    "q_sql_tpcds_q97_shape",
    oracle=_DS97_BODY,
    category="2.A",
)
def q_sql_tpcds_q97_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q97 shape — channel-overlap accounting: two DISTINCT
    customer sets (urgent-priority vs relaxed-priority buyers standing
    in for store vs catalog) FULL OUTER joined to count
    both/left-only/right-only in one pass. The full outer join over
    two pre-deduplicated key sets is the canonical audience-overlap
    plan: both sides shuffle once on the same key, null-side flags do
    the set algebra. Exact counts."""
    _register(spark, sf_dir, "orders")
    return spark.sql(_DS97_BODY)


_DS51_BODY = """
    WITH web_daily AS (
      SELECT user_id, CAST(ts AS DATE) AS d,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sales
      FROM events WHERE event_type = 'click'
      GROUP BY user_id, CAST(ts AS DATE)
    ),
    store_daily AS (
      SELECT user_id, CAST(ts AS DATE) AS d,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sales
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id, CAST(ts AS DATE)
    ),
    web_v1 AS (
      SELECT user_id, d,
             CAST(SUM(sales) OVER (
               PARTITION BY user_id ORDER BY d
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cume
      FROM web_daily
    ),
    store_v1 AS (
      SELECT user_id, d,
             CAST(SUM(sales) OVER (
               PARTITION BY user_id ORDER BY d
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cume
      FROM store_daily
    ),
    j AS (
      SELECT COALESCE(w.user_id, s.user_id) AS user_id,
             COALESCE(w.d, s.d) AS d,
             w.cume AS web_c, s.cume AS store_c
      FROM web_v1 w FULL OUTER JOIN store_v1 s
        ON w.user_id = s.user_id AND w.d = s.d
    ),
    x AS (
      SELECT user_id, d,
             MAX(web_c) OVER (
               PARTITION BY user_id ORDER BY d
               ROWS UNBOUNDED PRECEDING) AS web_cum,
             MAX(store_c) OVER (
               PARTITION BY user_id ORDER BY d
               ROWS UNBOUNDED PRECEDING) AS store_cum
      FROM x_in_place_noop_guard
    )
    SELECT user_id, CAST(d AS TIMESTAMP) AS d, web_cum, store_cum
    FROM x WHERE web_cum > store_cum
"""
# (placeholder fixed below: DuckDB and Spark both dislike self-reference;
# the real FROM is `j`.)
_DS51_BODY = _DS51_BODY.replace("x_in_place_noop_guard", "j")


@query(
    "q_sql_tpcds_q51_shape",
    oracle=_DS51_BODY,
    category="2.A",
)
def q_sql_tpcds_q51_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q51 shape — the channel-crossover pattern: per-key daily
    cumulative sales on two channels (click standing in for web,
    purchase for store), FULL OUTER joined on (key, day), then a
    running MAX over each side fills the days where only the other
    channel traded (MAX ignores NULLs identically on both engines, and
    the null-propagating `web_cum > store_cum` comparison drops
    rows with a channel that has not started — the DS semantics
    verbatim). Reports the (user, day) frontier where the web
    cumulative overtakes the store cumulative.

    Scale: each channel aggregates and windows on the SAME
    (user_id, day)/(user_id) keys, so Catalyst reuses one
    hash-partitioning for agg → window → full-outer join (user_id is
    high-cardinality; no 5-key fat-task risk); sums are exact integer
    cents. The full outer of two pre-aggregated daily series is
    day-grain, not event-grain."""
    _register(spark, sf_dir, "events")
    return spark.sql(_DS51_BODY)


from aws_lambda_stream_processing_spark.parity import (  # noqa: E402
    iavg,
    isum,
    sql_iavg,
    sql_isum,
)


@query(
    "q_sql_tpch_q1",
    oracle=f"""
    SELECT l_returnflag,
           l_linestatus,
           {sql_isum("l_quantity", "sum_qty")},
           {sql_isum("l_extendedprice", "sum_base_price")},
           {sql_isum("l_extendedprice * (1 - l_discount)", "sum_disc_price")},
           {sql_isum(
               "l_extendedprice * (1 - l_discount) * (1 + l_tax)",
               "sum_charge",
           )},
           {sql_iavg("l_quantity", "avg_qty")},
           {sql_iavg("l_extendedprice", "avg_price")},
           {sql_iavg("l_discount", "avg_disc")},
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= DATE '1998-12-01' - INTERVAL 90 DAY
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    category="2.A",
)
def q_sql_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 proper — the pricing summary report with its shipdate
    predicate and full aggregate list (q_agg_groupby is the unfiltered
    flagship shape; this completes the registered 22/22 TPC-H suite).
    The date filter pushes to the parquet scan; partial aggregation
    collapses the fact table to ~6 rows per map task before a
    kilobyte-sized exchange; sums are exact fixed-point int64 (parity
    isum/iavg), averages one final division."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.where(
            F.col("l_shipdate")
            <= F.lit("1998-12-01").cast("date") - F.expr("INTERVAL 90 DAY")
        )
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            isum("l_quantity", "sum_qty"),
            isum("l_extendedprice", "sum_base_price"),
            isum(disc_price, "sum_disc_price"),
            isum(charge, "sum_charge"),
            iavg("l_quantity", "avg_qty"),
            iavg("l_extendedprice", "avg_price"),
            iavg("l_discount", "avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "q_sql_group_by_all",
    oracle="""
    SELECT event_type,
           CAST(date_part('hour', ts) AS BIGINT) AS hod,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM events
    GROUP BY ALL
    ORDER BY ALL
    """,
    category="2.A",
)
def q_sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL + ORDER BY ALL — the modern analyst-SQL surface
    (DuckDB introduced it; Spark adopted it in 3.4/4.x): every
    non-aggregate select item becomes a grouping key, and ORDER BY ALL
    sorts by the full select list left-to-right — so the oracle is the
    IDENTICAL query text on both engines, pinning that the resolution
    rules agree (which select items count as grouping keys, and the
    total deterministic order). Plans exactly like an explicit
    GROUP BY: partial+final hash agg on (event_type, hod), one
    exchange, range sort for presentation."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "gba_events"
    )
    return spark.sql(
        """
        SELECT event_type,
               CAST(hour(ts) AS BIGINT) AS hod,
               COUNT(*) AS n,
               SUM(CAST(round(value * 100) AS BIGINT)) AS cents
        FROM gba_events
        GROUP BY ALL
        ORDER BY ALL
        """
    )


@query(
    "q_sql_join_hints",
    oracle="""
    SELECT n.n_name,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    WHERE o.o_orderstatus = 'F'
    GROUP BY n.n_name
    ORDER BY cents DESC, n.n_name
    """,
    category="2.A",
)
def q_sql_join_hints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL join-strategy hints — /*+ BROADCAST(n) */ pinning the
    25-row nation dim to a broadcast-hash join and
    /*+ SHUFFLE_MERGE(c) */ pinning the fact-fact customer|>orders
    side to sort-merge — the surface an operator uses to override the
    planner when statistics mislead it (stale stats after a backfill,
    or a dim just over autoBroadcastJoinThreshold). Hints steer ONLY
    the physical strategy; the result is the hint-free relational
    answer, which is exactly what the oracle runs: hint comments are
    standard /* */ comments, invisible to DuckDB. Exact integer-cents
    revenue by nation over finished orders. At 100 TB this is the
    canonical shape — broadcast the dim (no shuffle), sort-merge the
    two fact tables on the shared customer key."""
    for t in ("orders", "customer", "nation"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"jh_{t}")
    return spark.sql(
        """
        SELECT /*+ BROADCAST(n), SHUFFLE_MERGE(c) */
               n.n_name,
               COUNT(*) AS n_orders,
               SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS cents
        FROM jh_orders o
        JOIN jh_customer c ON c.c_custkey = o.o_custkey
        JOIN jh_nation n   ON n.n_nationkey = c.c_nationkey
        WHERE o.o_orderstatus = 'F'
        GROUP BY n.n_name
        ORDER BY cents DESC, n.n_name
        """
    )


@query(
    "q_sql_window_clause",
    oracle="""
    SELECT user_id, event_id,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) OVER w AS BIGINT)
               AS run_cents,
           rank() OVER w AS rnk,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_so_far
    FROM events
    WHERE user_id < 50
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    category="2.A",
)
def q_sql_window_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named WINDOW clause — one spec, three analytic functions over it:
    the de-duplicated window-definition surface (write the PARTITION
    BY/ORDER BY once, reference it as `OVER w`), run as the IDENTICAL
    query text on both engines, pinning that name resolution and the
    implied default frames agree (RANGE UNBOUNDED PRECEDING..CURRENT
    ROW for the sum/count, the rank's own semantics for rank). All
    three functions share the one spec, so Spark plans a SINGLE Window
    node over a single user_id exchange — the named-clause form isn't
    just ergonomics, it makes the shared-sort guarantee syntactically
    obvious. Exact integer cents; deterministic frame via the event_id
    tiebreak."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("wc_events")
    return spark.sql(
        """
        SELECT user_id, event_id,
               SUM(CAST(round(value * 100) AS BIGINT)) OVER w AS run_cents,
               rank() OVER w AS rnk,
               COUNT(*) OVER w AS n_so_far
        FROM wc_events
        WHERE user_id < 50
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        """
    )


@query(
    "q_sql_filter_clause",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT)
               AS n_finished,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                FILTER (WHERE o_totalprice > 150000) AS BIGINT)
               AS big_cents,
           CAST(COUNT(DISTINCT o_custkey) FILTER (WHERE o_orderstatus = 'O')
                AS BIGINT) AS open_custs
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    category="2.A",
)
def q_sql_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate FILTER (WHERE ...) clause — the SQL-standard form of
    conditional aggregation (q_agg_conditional is the CASE-expression
    twin), run as the IDENTICAL text on both engines: per-aggregate
    predicates including a filtered COUNT(DISTINCT), which is the case
    CASE-rewrites get wrong (a CASE NULL still feeds the distinct set
    on some engines — FILTER semantics are unambiguous). Spark compiles
    each FILTER into the aggregate's own filter flag inside ONE
    hash-agg pass — no per-predicate scans. Exact integers end to
    end."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("fc_orders")
    return spark.sql(
        """
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
               SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                   FILTER (WHERE o_totalprice > 150000) AS big_cents,
               COUNT(DISTINCT o_custkey) FILTER (WHERE o_orderstatus = 'O')
                   AS open_custs
        FROM fc_orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """
    )


@query(
    "q_sql_pipe_syntax",
    oracle="""
    WITH base AS (
      SELECT event_type, user_id,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
      WHERE value > 10
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(cents) AS BIGINT) AS cents
    FROM base
    GROUP BY event_type
    HAVING COUNT(*) > 10
    ORDER BY cents DESC, event_type
    """,
    category="2.A",
)
def q_sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4.0, SPARK-49555): the linear
    FROM |> WHERE |> EXTEND |> AGGREGATE |> WHERE |> ORDER BY form of
    the classic inside-out SELECT — each stage consumes the previous
    one top-to-bottom, the way the optimizer (and a reader) actually
    processes it. The pipe text is Spark-only surface; it parses to
    the IDENTICAL logical plan as the nested form, which is exactly
    what the oracle runs as standard SQL — so the parity check pins
    that the pipe parser's stage semantics (EXTEND adds a column,
    AGGREGATE ... GROUP BY replaces the row set, post-AGGREGATE WHERE
    is HAVING) match the classic resolution rules. Exact integer
    cents; the plan is the ordinary partial+final hash agg."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("ps_events")
    return spark.sql(
        """
        FROM ps_events
        |> WHERE value > 10
        |> EXTEND CAST(round(value * 100) AS BIGINT) AS cents
        |> AGGREGATE COUNT(*) AS n,
                     COUNT(DISTINCT user_id) AS n_users,
                     SUM(cents) AS cents
           GROUP BY event_type
        |> WHERE n > 10
        |> ORDER BY cents DESC, event_type
        |> SELECT event_type, n, n_users, cents
        """
    )


@query(
    "q_sql_within_group",
    oracle="""
    SELECT event_type,
           floor(percentile_cont(0.5) WITHIN GROUP (ORDER BY value)
                 * 1000000 + 0.5) / 1000000 AS median_v,
           floor(percentile_cont(0.9) WITHIN GROUP (ORDER BY value)
                 * 1000000 + 0.5) / 1000000 AS p90_v,
           percentile_disc(0.25) WITHIN GROUP (ORDER BY value) AS q1_disc
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    category="2.A",
)
def q_sql_within_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-set aggregates in SQL-standard WITHIN GROUP syntax —
    percentile_cont (interpolating) and percentile_disc (selecting) as
    the IDENTICAL text on both engines, the ISO form of what
    q_agg_percentile/q_agg_percentile_disc exercise through the
    function API. percentile_disc is pure selection (bit-exact);
    percentile_cont's interpolation lower + (upper-lower)·frac runs on
    identical doubles, pinned at floor-6dp. One hash-ordered agg per
    type; Spark executes it as a sort-based aggregate within the
    group — no global sort."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("wg_events")
    return spark.sql(
        """
        SELECT event_type,
               floor(percentile_cont(0.5) WITHIN GROUP (ORDER BY value)
                     * 1000000 + 0.5) / 1000000 AS median_v,
               floor(percentile_cont(0.9) WITHIN GROUP (ORDER BY value)
                     * 1000000 + 0.5) / 1000000 AS p90_v,
               percentile_disc(0.25) WITHIN GROUP (ORDER BY value) AS q1_disc
        FROM wg_events
        GROUP BY event_type
        ORDER BY event_type
        """
    )


@query(
    "q_sql_lateral_alias",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents,
           CAST(floor(cents / n) AS BIGINT) AS avg_cents,
           CAST(floor(avg_cents / 100) AS BIGINT) AS avg_dollars
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    category="2.A",
)
def q_sql_lateral_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral column aliases (Spark 3.4, SPARK-27561): a SELECT item
    referencing a sibling alias — including aliases OF AGGREGATES
    (avg_cents built from cents/n, avg_dollars from avg_cents) —
    run as the IDENTICAL text on both engines, pinning that the
    left-to-right alias resolution and the implied projection layering
    agree. Derived ratios go through explicit floor() — CAST(double
    AS BIGINT) is an engine-divergence trap (DuckDB rounds half-even,
    Spark truncates; measured one-off on every avg in this query). Compiles to the ordinary
    hash agg + one stacked projection — the aliases are syntax, not
    extra passes."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("la_orders")
    return spark.sql(
        """
        SELECT o_orderpriority,
               COUNT(*) AS n,
               SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents,
               CAST(floor(cents / n) AS BIGINT) AS avg_cents,
               CAST(floor(avg_cents / 100) AS BIGINT) AS avg_dollars
        FROM la_orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """
    )


@query(
    "q_sql_star_except",
    oracle="""
    SELECT event_id, user_id, event_type, value
    FROM events
    WHERE event_type = 'purchase' AND value > 450.0
    ORDER BY event_id, user_id, event_type, value
    """,
    category="2.A",
)
def q_sql_star_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modern projection surface: `SELECT * EXCEPT (…)` (drop the wide
    payload columns by NAME instead of enumerating the keepers — the
    schema-evolution-proof way to strip `props`/`ts` from a 200-column
    event table) combined with `ORDER BY ALL` (deterministic total
    order over every projected column, no alias repetition). The oracle
    spells both out the classic way — an explicit column list and an
    explicit ORDER BY — pinning that EXCEPT resolves to exactly the
    complement in declaration order and that ORDER BY ALL sorts by the
    projected columns left-to-right. Catalyst rewrites EXCEPT at
    analysis time: the physical plan is an ordinary pruned scan (only
    the 4 kept columns are read — column pruning still reaches
    parquet), so the convenience costs nothing at 100 TB."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("se_events")
    return spark.sql(
        """
        SELECT * EXCEPT (ts, props)
        FROM se_events
        WHERE event_type = 'purchase' AND value > 450.0
        ORDER BY ALL
        """
    )


@query(
    "q_sql_distribute_by",
    oracle="""
    SELECT user_id, event_type,
           CAST(round(value * 100) AS BIGINT) AS cents
    FROM events
    WHERE event_type IN ('view', 'click')
    """,
    category="2.A",
)
def q_sql_distribute_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`DISTRIBUTE BY` + `SORT BY` — the SQL spelling of
    repartition + sortWithinPartitions, i.e. the writer-prep idiom
    (co-locate one key's rows on one partition, order them inside it,
    then hand the layout to a partitioned/bucketed sink or a
    partition-local kernel). The semantic contract is that it changes
    LAYOUT, not content: the oracle is the bare filtered projection,
    and the multiset compare pins content-neutrality while the plan
    gate (tests/test_plans.py) pins the layout — exactly one
    hashpartitioning exchange on user_id, an intra-partition
    (global=false) sort, and NO rangepartitioning anywhere: if
    Catalyst ever promoted SORT BY to a global ORDER BY, the rung
    fails. At 100 TB this is the cheap half of the sort story —
    ~log(rows/partition) comparisons per row and no global merge,
    which is why every large-scale writer prep uses it over ORDER
    BY."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "db_events"
    )
    return spark.sql(
        """
        SELECT user_id, event_type,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM db_events
        WHERE event_type IN ('view', 'click')
        DISTRIBUTE BY user_id SORT BY user_id, cents
        """
    )


@query(
    "q_sql_exists_subquery",
    oracle="""
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000.0
          )
      AND NOT EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
          )
    """,
    category="2.C",
)
def q_sql_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated `EXISTS` + `NOT EXISTS` in one predicate — the third
    member of the correlated-subquery trio next to the scalar form
    (q_sql_correlated_subquery) and NOT IN (q_sql_not_in_nulls):
    customers with at least one big order and no finalized order.
    Catalyst decorrelates both quantifiers into hash joins — EXISTS to
    a LEFT SEMI, NOT EXISTS to a LEFT ANTI (which, unlike NOT IN, is
    null-safe by construction: no three-valued-logic trap to guard) —
    so the nested-loop a naive reading implies never executes; the
    plan gate (tests/test_plans.py) pins one semi + one anti join and
    no nested loop. At 100 TB both probes are the same broadcast/
    shuffled hash joins every semi/anti rewrite uses, and the two
    subqueries share the orders scan via exchange reuse."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "ex_customer"
    )
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("ex_orders")
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_name
        FROM ex_customer c
        WHERE EXISTS (
                SELECT 1 FROM ex_orders o
                WHERE o.o_custkey = c.c_custkey
                  AND o.o_totalprice > 100000.0
              )
          AND NOT EXISTS (
                SELECT 1 FROM ex_orders o
                WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderstatus = 'F'
              )
        """
    )
