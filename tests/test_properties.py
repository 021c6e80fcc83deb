"""Property-based Spark↔DuckDB parity (SURVEY.md §5.4, hypothesis).

The scalar-function families (§2.H) are where engine semantics silently
drift: dayofweek numbering, substring basing, negative-mod sign, null
ordering, regex dialects. The oracle suite only exercises the driver's
corpus values; these tests throw randomized frames (with nulls, empties,
boundary ints) at BOTH engines and assert the exact conventions the §2
queries rely on, so a drift shows up here before it shows up as a
driver-round hash mismatch.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

SLOW = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
    print_blob=True,
)

ints = st.one_of(st.none(), st.integers(min_value=0, max_value=10**9))
words = st.one_of(
    st.none(),
    st.text(
        alphabet="abcdefghij XYZ_09", min_size=0, max_size=12
    ),
)
stamps = st.one_of(
    st.none(),
    st.datetimes(
        min_value=pd.Timestamp("1995-01-01").to_pydatetime(),
        max_value=pd.Timestamp("2030-12-31").to_pydatetime(),
    ),
)


def both(spark, pdf: pd.DataFrame, spark_expr: str, duck_expr: str):
    """Evaluate an expression pair on the same frame in both engines and
    return the value lists (row order preserved via an id column)."""
    sdf = spark.createDataFrame(pdf)
    sdf.createOrReplaceTempView("t")
    srows = [
        r[0]
        for r in spark.sql(
            f"SELECT {spark_expr} FROM t ORDER BY id"
        ).collect()
    ]
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.register("t", pdf)
    drows = [
        r[0]
        for r in con.execute(
            f"SELECT {duck_expr} FROM t ORDER BY id"
        ).fetchall()
    ]
    con.close()
    return srows, drows


@st.composite
def int_frames(draw):
    vals = draw(st.lists(ints, min_size=1, max_size=8))
    return pd.DataFrame(
        {"id": range(len(vals)), "x": pd.array(vals, dtype="Int64")}
    )


@st.composite
def str_frames(draw):
    vals = draw(st.lists(words, min_size=1, max_size=8))
    return pd.DataFrame({"id": range(len(vals)), "s": vals})


@st.composite
def ts_frames(draw):
    vals = draw(st.lists(stamps, min_size=1, max_size=8))
    return pd.DataFrame(
        {"id": range(len(vals)), "ts": pd.Series(vals, dtype="datetime64[us]")}
    )


@settings(**SLOW)
@given(pdf=ts_frames())
def test_dayofweek_offset_convention(spark, pdf):
    """Spark dayofweek: 1=Sunday; DuckDB: 0=Sunday → oracle side adds 1."""
    s, d = both(spark, pdf, "dayofweek(ts)", "dayofweek(ts) + 1")
    assert s == d


@settings(**SLOW)
@given(pdf=ts_frames())
def test_date_parts_agree(spark, pdf):
    for part in ("year", "month", "hour", "minute"):
        s, d = both(spark, pdf, f"{part}(ts)", f"{part}(ts)")
        assert s == d, part


@settings(**SLOW)
@given(pdf=str_frames())
def test_substring_is_one_based_both_sides(spark, pdf):
    s, d = both(spark, pdf, "substring(s, 2, 3)", "substring(s, 2, 3)")
    assert s == d


@settings(**SLOW)
@given(pdf=str_frames())
def test_string_basics_agree(spark, pdf):
    for expr in ("upper(s)", "lower(s)", "trim(s)", "length(s)", "reverse(s)"):
        s, d = both(spark, pdf, expr, expr)
        assert s == d, expr


@settings(**SLOW)
@given(pdf=str_frames())
def test_split_size_agree(spark, pdf):
    # NULL input → NULL size on both engines (Spark 4 ANSI semantics)
    s, d = both(
        spark, pdf, "size(split(s, ' '))", "len(string_split(s, ' '))"
    )
    assert s == d


@settings(**SLOW)
@given(pdf=int_frames())
def test_nonnegative_mod_agrees(spark, pdf):
    """§2.H convention: mod parity is only claimed for non-negative
    operands — exactly what the corpus provides."""
    s, d = both(spark, pdf, "x % 7", "x % 7")
    assert s == d
    s, d = both(spark, pdf, "pmod(x, 7)", "x % 7")
    assert s == d


@settings(**SLOW)
@given(pdf=int_frames())
def test_integer_div_and_cast_agree(spark, pdf):
    s, d = both(spark, pdf, "x div 3", "x // 3")
    assert s == d
    s, d = both(spark, pdf, "cast(x as string)", "CAST(x AS VARCHAR)")
    assert s == d


@settings(**SLOW)
@given(pdf=str_frames())
def test_posix_simple_regex_agrees(spark, pdf):
    """§2.H keeps patterns POSIX-simple so Java regex ≡ RE2-ish dialects."""
    s, d = both(
        spark,
        pdf,
        "regexp_replace(s, '[0-9]+', '#')",
        "regexp_replace(s, '[0-9]+', '#', 'g')",
    )
    assert s == d


@pytest.mark.parametrize("nulls_side", ["last", "first"])
def test_null_ordering_conventions(spark, nulls_side):
    """Spark defaults NULLS FIRST on ASC; DuckDB defaults NULLS LAST —
    §2.F queries must always spell the null position explicitly."""
    pdf = pd.DataFrame(
        {"id": [0, 1, 2], "x": pd.array([3, None, 1], dtype="Int64")}
    )
    sdf = spark.createDataFrame(pdf)
    sdf.createOrReplaceTempView("t_null")
    kw = "NULLS LAST" if nulls_side == "last" else "NULLS FIRST"
    srows = [
        r[0]
        for r in spark.sql(f"SELECT x FROM t_null ORDER BY x {kw}").collect()
    ]
    con = duckdb.connect()
    con.register("t_null", pdf)
    drows = [
        r[0]
        for r in con.execute(f"SELECT x FROM t_null ORDER BY x {kw}").fetchall()
    ]
    con.close()
    assert srows == drows


@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    cents=st.lists(
        st.integers(min_value=0, max_value=20_000), min_size=16, max_size=48
    )
)
def test_ewma16_weighted_sum_is_exact_in_doubles(cents):
    """The q_ts_ewma16 exactness claim (SURVEY §9 law 13): with power-of-
    two weights over integer cents <= 2^15, every partial sum of the
    16-term dot product is exactly representable in a double, so float
    evaluation equals exact rational arithmetic."""
    from fractions import Fraction

    for k in range(15, len(cents)):
        window = cents[k - 15 : k + 1][::-1]  # lag j = 0..15
        acc_float = 0.0
        acc_exact = Fraction(0)
        for j, xc in enumerate(window):
            acc_float = acc_float + xc / float(2 ** (j + 1))
            acc_exact += Fraction(xc, 2 ** (j + 1))
        assert acc_float == float(acc_exact)
        assert Fraction(acc_float) == acc_exact  # bit-exact, not just close


def test_ann_hot_bucket_splits_into_bounded_tasks_same_results(spark):
    """Hot-bucket cap (round-3): a deliberately skewed bucket — every
    vector in ONE LSH bucket / IVF list — must (a) split into multiple
    bounded (ga, gb) sub-block groups instead of one fat GEMM task, and
    (b) produce exactly the same pair results as the uncapped kernel.
    Exercises the int64-quantized kernel (r9): integer dots make
    capped-vs-uncapped equality EXACT — the float64 predecessor differed
    in the last ULP between sub-block and full-matrix BLAS summation
    orders, which made this gate flaky."""
    import os

    from aws_lambda_stream_processing_spark.llm.similarity import (
        _capped_blocks,
        _capped_bucket_pair_qdots,
    )
    from aws_lambda_stream_processing_spark.tables import load_table

    from pyspark.sql import functions as F

    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    # skew: all vectors into bucket 0; int8-quantize like the ANN rungs
    skewed = emb.select(
        "vec_id", F.lit(0).cast("long").alias("bucket"),
        F.expr(
            "transform(embedding, "
            "x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 + 0.5) AS BIGINT))"
        ).alias("emb"),
    )
    n = skewed.count()
    assert n > 32, "corpus too small to exercise the cap"

    saved = os.environ.get("ALSP_ANN_BUCKET_CAP")
    try:
        os.environ["ALSP_ANN_BUCKET_CAP"] = "16"
        groups = (
            _capped_blocks(skewed, "bucket")
            .select("bucket", "ga", "gb").distinct().count()
        )
        nb = (n + 15) // 16
        assert groups == nb * (nb + 1) // 2, (
            f"expected {nb}({nb}+1)/2 sub-block groups, got {groups}"
        )
        capped = sorted(
            map(tuple, _capped_bucket_pair_qdots(skewed, "bucket", 50)
                .orderBy(F.desc("qdot"), "vec_a", "vec_b").limit(50).collect())
        )
        os.environ["ALSP_ANN_BUCKET_CAP"] = str(10**9)
        uncapped = sorted(
            map(tuple, _capped_bucket_pair_qdots(skewed, "bucket", 50)
                .orderBy(F.desc("qdot"), "vec_a", "vec_b").limit(50).collect())
        )
    finally:
        if saved is None:
            os.environ.pop("ALSP_ANN_BUCKET_CAP", None)
        else:
            os.environ["ALSP_ANN_BUCKET_CAP"] = saved
    assert capped == uncapped, "cap changed the top-50 pair results"


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=-1000, max_value=1000),  # sort value (ties!)
            st.integers(min_value=0, max_value=500),       # summand
        ),
        min_size=0,
        max_size=120,
    ),
    k=st.sampled_from([2, 3, 5, 7]),
)
def test_dprefix_matches_global_window(spark, rows, k):
    """Property gate for operators/dprefix.py: on random frames (with
    heavy ties and the empty frame), two_phase_row_number /
    two_phase_cumsum / ntile_from_rank must equal the partition-less
    global window they replace, for every row."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from aws_lambda_stream_processing_spark.operators.dprefix import (
        ntile_from_rank,
        two_phase_cumsum,
        two_phase_row_number,
    )

    df = spark.createDataFrame(
        [(i, v, x) for i, (v, x) in enumerate(rows)],
        "id long, v long, x long",
    ).repartition(5)
    order = [("v", True), ("id", True)]
    sort = [F.col("v").asc(), F.col("id").asc()]

    got = two_phase_row_number(df, order, rn="rn", total="n", n_parts=4)
    got = got.select(
        "id", "rn", "n", ntile_from_rank("rn", "n", k).alias("t")
    )
    exp = df.select(
        "id",
        F.row_number().over(Window.orderBy(*sort)).alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("n"),
        F.ntile(k).over(Window.orderBy(*sort)).alias("t"),
    )
    bad = (
        exp.alias("e")
        .join(got.alias("g"), "id", "full")
        .where(
            (F.col("e.rn") != F.col("g.rn"))
            | (F.col("e.n") != F.col("g.n"))
            | (F.col("e.t") != F.col("g.t"))
            | F.col("e.rn").isNull()
            | F.col("g.rn").isNull()
        )
        .count()
    )
    assert bad == 0

    gc = two_phase_cumsum(df, order, "x", out="c", inclusive=True, n_parts=4)
    ec = df.select(
        "id",
        F.sum("x")
        .over(
            Window.orderBy(*sort).rowsBetween(Window.unboundedPreceding, 0)
        )
        .alias("c"),
    )
    badc = (
        ec.alias("e")
        .join(gc.select("id", "c").alias("g"), "id", "full")
        .where(
            (F.col("e.c") != F.col("g.c"))
            | F.col("e.c").isNull()
            | F.col("g.c").isNull()
        )
        .count()
    )
    assert badc == 0


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),      # group key
            st.integers(min_value=-50, max_value=50),   # order value (ties)
            st.integers(min_value=0, max_value=100),    # summand
        ),
        min_size=0,
        max_size=100,
    ),
)
def test_grouped_base_subtraction_matches_partition_window(spark, rows):
    """Property gate for the r3 grouped two-phase pattern
    (q_llm_domain_quota / q_llm_token_budget_quota /
    q_llm_reservoir_sample): a GLOBAL two-phase rank/cumsum over
    (group, order) minus the per-group broadcast base must equal the
    partitionBy(group) window it replaces — on random frames with
    heavy ties, skewed groups, and the empty frame."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from aws_lambda_stream_processing_spark.operators.dprefix import (
        two_phase_cumsum,
        two_phase_row_number,
    )

    df = spark.createDataFrame(
        [(i, g, v, x) for i, (g, v, x) in enumerate(rows)],
        "id long, g long, v long, x long",
    ).repartition(5)
    order = [("g", True), ("v", True), ("id", True)]

    ranked = two_phase_row_number(df, order, rn="grn", n_parts=4)
    base = ranked.groupBy("g").agg(F.min("grn").alias("g0"))
    got_rn = ranked.join(F.broadcast(base), "g").select(
        "id", (F.col("grn") - F.col("g0") + 1).alias("rk")
    )
    w = Window.partitionBy("g").orderBy(F.col("v").asc(), F.col("id").asc())
    exp_rn = df.select(
        "id", F.row_number().over(w).alias("rk")
    )
    bad = (
        exp_rn.alias("e")
        .join(got_rn.alias("g"), "id", "full")
        .where(
            (F.col("e.rk") != F.col("g.rk"))
            | F.col("e.rk").isNull()
            | F.col("g.rk").isNull()
        )
        .count()
    )
    assert bad == 0

    c = two_phase_cumsum(df, order, "x", out="gc", inclusive=True, n_parts=4)
    cbase = c.groupBy("g").agg(
        F.min(F.col("gc") - F.col("x")).alias("b0")
    )
    got_c = c.join(F.broadcast(cbase), "g").select(
        "id", (F.col("gc") - F.col("b0")).alias("cum")
    )
    exp_c = df.select(
        "id",
        F.sum("x").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("cum"),
    )
    badc = (
        exp_c.alias("e")
        .join(got_c.alias("g"), "id", "full")
        .where(
            (F.col("e.cum") != F.col("g.cum"))
            | F.col("e.cum").isNull()
            | F.col("g.cum").isNull()
        )
        .count()
    )
    assert badc == 0


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),                     # partition key
            st.integers(min_value=0, max_value=4000),        # value cents
        ),
        min_size=0,
        max_size=150,
    ),
)
def test_bucketed_range_frame_matches_naive_window(spark, rows):
    """Property gate for the q_win_range_frame de-skew (r4): on random
    frames (ties, empty, boundary-straddling values) the owner/donor
    bucket refinement must produce EXACTLY the per-row interval sums of
    the naive single-key RANGE window it replaces."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, t, c) for i, (t, c) in enumerate(rows)],
        "event_id long, event_type string, cents long",
    )
    # naive: the 100 TB-unsafe plan, used here as the semantics oracle
    w_naive = (
        Window.partitionBy("event_type").orderBy("cents")
        .rangeBetween(-1000, 0)
    )
    naive = {
        r["event_id"]: r["s"]
        for r in df.withColumn("s", F.sum("cents").over(w_naive)).collect()
    }
    # bucketed two-phase (same shape as q_win_range_frame)
    base = df.withColumn("bucket", F.floor(F.col("cents") / 1000))
    donors = base.select(
        "event_id", "event_type", "cents",
        (F.col("bucket") + 1).alias("bucket"),
    ).withColumn("is_owner", F.lit(False))
    both = base.withColumn("is_owner", F.lit(True)).unionByName(donors)
    w_fine = (
        Window.partitionBy("event_type", "bucket").orderBy("cents")
        .rangeBetween(-1000, 0)
    )
    fine = {
        r["event_id"]: r["s"]
        for r in both.withColumn("s", F.sum("cents").over(w_fine))
        .where("is_owner")
        .collect()
    }
    assert fine == naive


def test_udtf_polymorphic_schema_derives_from_literal(spark):
    """r5 verdict item 7: the analyze-API UDTF must be REALLY
    polymorphic — a different `fields` literal yields a different
    schema, and a wrong call dies at analysis time, before any task."""
    import pytest

    from aws_lambda_stream_processing_spark.udf.surface import (
        polymorphic_melt_udtf,
    )

    spark.udtf.register("melt_fields_t", polymorphic_melt_udtf())
    spark.range(3).selectExpr(
        "id AS doc_id", "string(id) AS a", "string(id * 2) AS b"
    ).createOrReplaceTempView("pm_docs")

    one = spark.sql(
        "SELECT t.* FROM pm_docs, LATERAL melt_fields_t('a', doc_id, a) t"
    )
    assert one.columns == ["doc_id", "field", "value_a"]
    two = spark.sql(
        "SELECT t.* FROM pm_docs, "
        "LATERAL melt_fields_t('a,b', doc_id, a, b) t"
    )
    assert two.columns == ["doc_id", "field", "value_a_b"]
    rows = sorted(map(tuple, two.collect()))
    assert rows[:2] == [(0, "a", "0"), (0, "b", "0")]

    # arity mismatch: 2 names, 1 value column -> analysis-time failure
    with pytest.raises(Exception, match="2 field names"):
        spark.sql(
            "SELECT t.* FROM pm_docs, "
            "LATERAL melt_fields_t('a,b', doc_id, a) t"
        )
    # non-literal field list -> analysis-time failure
    with pytest.raises(Exception, match="string literal"):
        spark.sql(
            "SELECT t.* FROM pm_docs, "
            "LATERAL melt_fields_t(a, doc_id, a) t"
        )


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
    print_blob=True,
)
@given(
    hits=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),    # doc_id
            st.integers(min_value=0, max_value=60),   # shingle start p
        ),
        min_size=0,
        max_size=40,
        unique=True,
    )
)
def test_span_merge_islands_match_interval_merge(spark, hits):
    """Property gate for q_llm_dup_span_merge's islands logic: on random
    (doc_id, p) hit sets — overlaps, exact adjacency, gaps of exactly
    2, singletons, the empty set — the running-max islands window must
    produce exactly the spans a reference interval merge of [p, p+7]
    (union overlapping-or-adjacent) produces, per doc, under a
    multi-partition layout."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    # Reference: classic sorted interval merge with adjacency (+1).
    expected = set()
    bydoc: dict[int, list[int]] = {}
    for d, p in hits:
        bydoc.setdefault(d, []).append(p)
    for d, ps in bydoc.items():
        ps.sort()
        s = e = None
        for p in ps:
            if s is None:
                s, e = p, p + 7
            elif p <= e + 1:
                e = max(e, p + 7)
            else:
                expected.add((d, s, e))
                s, e = p, p + 7
        if s is not None:
            expected.add((d, s, e))

    if not hits:
        return
    df = spark.createDataFrame(
        list(hits), "doc_id long, p long"
    ).repartition(5)
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("p")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("p")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prev_end = F.max(F.col("p") + 7).over(w_prev)
    spans = (
        df.withColumn(
            "island",
            F.sum(
                (prev_end.isNull() | (F.col("p") > prev_end + 1))
                .cast("int")
            ).over(w_run),
        )
        .groupBy("doc_id", "island")
        .agg(F.min("p").alias("s"), (F.max("p") + 7).alias("e"))
        .select("doc_id", "s", "e")
    )
    got = {(r.doc_id, r.s, r.e) for r in spans.collect()}
    assert got == expected


def test_int64_moment_guard_fires_on_overbound_frame(spark):
    """r8 verdict item 4: the exact-moment rungs' int64 bound is an
    asserted runtime guard, not a docstring promise. A synthetic frame
    whose n²·max|x|·max|y| leaves int64 headroom must raise on collect;
    the same shapes under the documented bound must still compute."""
    import pytest
    from pyspark.sql import functions as F

    from aws_lambda_stream_processing_spark.operators.profiling import (
        _exact_corr_frame,
        _exact_linreg_frame,
    )

    # n=3, max 2^30 → n²·max² = 9·2^60 > 2^62 trips the guard, while
    # every actual moment sum stays inside int64 (Σx² ≈ 2^60) — the
    # guard must fire BEFORE arithmetic wraps, not report it after
    # (ANSI would raise ArithmeticException on a genuinely wrapped sum,
    # which is the backstop, not the contract under test).
    big = 1 << 30
    over = spark.createDataFrame(
        [("g", big, big), ("g", big // 2, big // 3), ("g", 7, 11)],
        "k string, xv long, yv long",
    )
    with pytest.raises(Exception, match="int64 moment headroom"):
        _exact_corr_frame(
            over, "k", F.col("xv"), F.col("yv"), "r"
        ).collect()
    with pytest.raises(Exception, match="int64 moment headroom"):
        _exact_linreg_frame(
            over.select("k", F.col("xv").alias("x"), F.col("yv").alias("y")),
            "k",
        ).collect()

    # cubic case (round-9 review finding): the linreg INTERCEPT forms
    # sy*sxx - sx*sxy, bounded by n²·mx²·my — choose magnitudes that
    # pass every pairwise n²·max·max check (100²·2^40 ≈ 1.1e16 < 2^62)
    # but blow the cubic bound (100²·2^60 ≈ 1.1e22), with all actual
    # sums still safely inside int64 (Σx² ≈ 1.1e14).
    mid = 1 << 20
    cubic = spark.createDataFrame(
        [("g", mid - i, mid - 2 * i) for i in range(100)],
        "k string, x long, y long",
    )
    with pytest.raises(Exception, match="int64 moment headroom"):
        _exact_linreg_frame(cubic, "k").collect()

    # positive control: in-bound data passes the guard and computes
    ok = spark.createDataFrame(
        [("g", 1, 2), ("g", 2, 4), ("g", 3, 7)],
        "k string, xv long, yv long",
    )
    row = _exact_corr_frame(ok, "k", F.col("xv"), F.col("yv"), "r").collect()[0]
    # r for (1,2),(2,4),(3,7): cov=2.5/den sqrt(2/3)*sqrt(4.222..) → .993399
    assert row["n"] == 3 and abs(row["r"] - 0.993399) < 1e-6
    row = _exact_linreg_frame(
        ok.select("k", F.col("xv").alias("x"), F.col("yv").alias("y")), "k"
    ).collect()[0]
    assert abs(row["slope_cents_day"] - 2.5) < 1e-9


def test_jaccard_spectrum_contraction_gate_fires(spark, monkeypatch):
    """r8 verdict item 5 vacuity control: the contracted-set bound is a
    live gate, not a comment — shrink it below the fixture's set count
    and the builder must refuse with the sample-first message."""
    import aws_lambda_stream_processing_spark.llm.dedup as dd

    from tests.conftest import SF_DIR

    monkeypatch.setattr(dd, "_JS_MAX_CONTRACTED_SETS", 1)
    with pytest.raises(ValueError, match="contracted token-sets"):
        dd.q_llm_jaccard_spectrum(spark, SF_DIR)


def test_dprefix_consistent_over_cached_large_relation(spark):
    """Regression (r10): RangePartitioner samples boundaries with a
    per-RDD-instance seed, so when the local-window branch and the
    offsets branch of a dprefix helper execute the range exchange
    separately — AQE's ReusedExchange demonstrably does NOT fire when
    the scan below is a cached InMemoryRelation — the two branches
    disagree on partition membership and the reconstructed global
    cumsum goes non-monotone (observed: 15k-row grid, tail 14819 of
    15000). ranged() now pins the partitioning in one cached RDD;
    this drives the exact failing shape: a CACHED ~15k-row relation,
    large enough that the boundary sampler subsamples (sub-sample-size
    inputs are immune — the sampler reads every row)."""
    from pyspark.sql import functions as F

    from aws_lambda_stream_processing_spark.operators.dprefix import (
        two_phase_cumsum,
    )

    base = spark.range(15000).select(
        (F.col("id") * 7919 % 1000003).alias("v"), F.lit(1).alias("cnt")
    ).cache()
    try:
        base.count()  # materialize the InMemoryRelation (the hazard shape)
        grid = base.groupBy("v").agg(F.sum("cnt").alias("m"))
        out = two_phase_cumsum(
            grid, [("v", True)], "m", out="cum", total="n_total"
        ).toPandas().sort_values("v")
        assert out.cum.iloc[-1] == 15000, out.cum.iloc[-1]
        assert (out.cum.diff().dropna() > 0).all()
        assert (out.n_total == 15000).all()
    finally:
        base.unpersist()
