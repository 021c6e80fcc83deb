"""Determinism + hostile-session gates (SURVEY.md §5.6, verify skill).

1. Determinism: a query must produce the identical canonical frame twice
   in a row and under spark.sql.shuffle.partitions ∈ {1, 32} — flushes
   accidental order/float/partition dependence.
2. Hostile session: the driver owns the SparkSession and may configure it
   with a non-UTC timezone and big shuffle counts; the registry wrapper
   must pin the parity-critical confs per query.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR, canon_frame

# A cross-section: one per category with order/float/window/state hazards.
SAMPLE = [
    "q_agg_groupby",
    "q_agg_stats",
    "q_join_multiway",
    "q_win_running_sum",
    "q_sort_multi",
    "q_date_extract",
    "q_ts_convert",
    "q_llm_tfidf",
    "q_llm_cosine_topk",
    "q_ts_zscore_similarity",
    "q_stream_tumbling",
    "q_udaf_pandas",
    "q_llm_embed_quantize",  # int-GEMM + top-k tie-break determinism
    "q_llm_dedup_cc",  # iterative fixpoint must not depend on partitioning
    "q_llm_bm25",  # multi-factor float formula must stay order-independent
    "q_ts_anomaly_zscore",  # 3-sigma flags must not flip across partitioning
    "q_ts_gapfill_interp",  # single-division interpolants
    # round-2 hazards:
    "q_llm_seq_pack",  # two-phase prefix sum must not depend on partitioning
    "q_llm_cluster_assign",  # numpy kernel: batch boundaries must not matter
    "q_ts_ewma16",  # exact lag dot product across partition layouts
    "q_ts_cross_corr",  # integer moments + single-shot Pearson formula
    "q_llm_zipf_slope",  # top-100 cut + regression must be engine-stable
    # round-2b hazards:
    "q_llm_semdedup",  # per-cluster GEMM kernel: group batching must not matter
    "q_llm_ann_pq",  # banded candidates + (qdot, id) tie-broken top-5
    "q_rfm_segmentation",  # global ntile must be tie-break-stable
    "q_pareto_abc",  # cumulative-share class boundary across partitionings
    "q_win_median_sliding",  # even-frame interpolation determinism
    "q_events_ab_test",  # single-division+sqrt z over exact ints
    "q_llm_bpe_train",  # lazy 1-row broadcast merge chain, argmax ties
    "q_agg_ks_test",  # integer cumsum grid + max under any partitioning
    "q_llm_line_dedup",  # chunk frequency join-back stability
    # round-3 hazards:
    "q_llm_perplexity_band",  # two-phase rank + lazy localCheckpoint
    "q_agg_gini",  # histogram tie-block fold replaces the ranking
    "q_llm_domain_quota",  # per-source rank derived from global two-phase rank
    "q_llm_dsir_weights",  # decimal ln sums over a checkpointed bigram stream
    "q_ts_acf_lags",  # Pearson evaluated in doubles (int64->double rounding)
    "q_llm_ngram_novelty",  # rolling-hash shingle keys, min-doc_id ownership
    # round-4 hazards:
    "q_llm_jaccard_spectrum",  # bitset all-pairs + integer band edges
    "q_llm_embed_covariance",  # per-partition Gram partials must merge cleanly
    "q_win_range_frame",  # owner/donor bucket refinement vs IEEE frame bounds
    "q_llm_curation_funnel",  # two-phase quota + dedup window composition
    "q_ts_anomaly_ensemble",  # integer cross-multiplied votes, median chain
    "q_scale_zorder_layout",  # 32-term bit interleave under any partitioning
    "q_llm_multimodal_decode",  # mapInPandas batch boundaries must not matter
    # round-6 hazards:
    "q_llm_mmr_diversify",  # 3-stage float argmax chain, id tie-breaks
    "q_ts_theil_sen",  # median selection over pairwise-slope multiset
    "q_graph_kcore",  # synchronized peel must not depend on partitioning
    "q_llm_ndcg_eval",  # 5-term DCG sums + rank ties at equal cosine
    "q_scale_rendezvous_shard",  # packed argmax key under any layout
    "q_win_time_range_frame",  # int64-micros frame membership, peer rows
    "q_events_sequence_match",  # sorted-struct string build per session
    "q_agg_corr_matrix",  # 15-moment single pass + fixed IEEE tree
    # round-7 hazards:
    "q_sort_skyline",  # two-phase cummax: range boundaries must not matter
    "q_graph_harmonic_centrality",  # multi-source frontier + per-level anti
    "q_scale_hll_partitioned",  # HLL register max() order-invariance claim
    "q_agg_approx_top_k",  # frequent-items exact regime: no eviction ties
    "q_agg_session_window",  # native session merge across partitionings
    "q_str_collation",  # collated groupBy: min-under-binary representative
    "q_graph_random_walk",  # hash-argmin hops must not depend on layout
    "q_sql_distribute_by",  # layout-only op: content identical at any width
    # round-7b hazards (this session's additions):
    "q_events_cuped",  # theta float chain over exact-int moments
    "q_events_delta_method",  # six-moment variant reduction, signed z
    "q_agg_kendall_tau",  # pair-join sign algebra + single sqrt
    "q_join_geo_radius",  # trig threshold filter under any cell layout
    "q_join_geo_knn",  # (dist, key) argmin tie-break across layouts
    "q_llm_linear_probe",  # Gram partials must merge exactly (milli-quant)
    "q_ts_dtw",  # kernel batch boundaries + integer DP across layouts
    "q_scale_exchange_reuse",  # reuse on/off must not change values; int div
    "q_cast_decimal128",  # 128-bit partial-agg slots must merge exactly
    "q_scale_manifest_pruning",  # footer-stats skip decision across layouts
    # round-7c hazards (this session's additions):
    "q_agg_fdr_bh",  # erfc polynomial + reverse-cummin window over |z| ranks
    "q_agg_hodges_lehmann",  # Walsh pair-join median selection at 915/916
    "q_agg_levene_bf",  # discrete medians + fixed-order pivoted IEEE tree
    "q_graph_scc",  # 7-round closure: join/distinct order must not matter
    "q_ts_holt_linear",  # integer recursion state across kernel batches
    "q_ts_granger",  # 10-moment fixed IEEE tree, 2x2 closed-form solve
    "q_agg_cramers_v",  # DECIMAL term-sum + V trees across partitionings
    "q_ts_holt_winters",  # 9-element integer state vector across batches
    "q_graph_stress_centrality",  # 6-level sigma DP + triple self-join
    "q_graph_eccentricity",  # same BFS table, window aggs over the panel
    "q_agg_anova2_unweighted",  # 28-cell DECIMAL sums + harmonic n_h tree
    "q_llm_bleu",  # clipped-count joins + ln/exp tree across layouts
    "q_llm_rouge_l",  # DP kernel batch boundaries must not matter
    "q_llm_multimodal_ahash",  # integer threshold bits across batches
    "q_ts_pacf",  # unrolled Durbin-Levinson float pyramid over moments
    # round-8 hazards:
    "q_udf_apply_in_arrow",  # Arrow group batches + discrete-median ties
    "q_join_lateral_df",  # decorrelated limit: (bal, custkey) tie-break
    "q_transpose",  # index-value column naming across partitionings
    "q_graph_edges_build",  # degree agg over the shared memo, any layout
    "q_llm_dup_span_merge",  # islands merge over hit offsets, any layout
    "q_stat_crosstab",  # value-derived column names across partitionings
    "q_source_python_datasource_pushdown",  # pruned partition set, any conf
    "q_str_mask_builtin",  # class-boundary masking is layout-free
    # round-9 hazards (the weak-rung upgrades' exactness claims are
    # merge-order-invariance claims — drive them at partitions=1):
    "q_agg_approx_distinct",  # HLL register maxes: layout-free estimate
    "q_agg_approx_percentile",  # GK rank brackets hold for ANY merge order
    "q_llm_minhash_lsh",  # kernel batch boundaries: memo + band keys
    "q_llm_dedup_eval",  # checkpointed distinct shingle sets + 8 mins
    "q_llm_ann_lsh",  # LCG buckets + int-dot top-50 across batches
    "q_llm_ann_ivf",  # integer Lloyd + stable top-2 list assignment
    "q_llm_ann_pq_trained",  # per-subspace integer Lloyd codebooks
    "q_llm_ann_matryoshka",  # two-stage shortlist boundary ties
    "q_llm_softdedup",  # digest clusters + floor-division weights
    "q_graph_modularity",  # shared LPA memo + integer modularity ppm
    "q_llm_cluster_margin",  # integer centroids + argmin margins
    "q_graph_rich_club",  # threshold conditional sums over any layout
    # round-10 hazards:
    "q_sample_seeded",  # certificate booleans must hold for ANY sample
    "q_llm_neardup_containment",  # rare-token argmin + mask agg, any layout
    "q_basket_association_rules",  # DECIMAL fixed-point lift, any layout
    "q_scale_range_boundaries",  # two-phase cum + boundary pick, any layout
    "q_llm_bigram_growth",  # 3 chained two-phase passes, any layout
    "q_llm_curriculum_order",  # rank->ntile->rank chain, any layout
    "q_join_interval_overlap",  # hour-band candidates + distinct, any layout
    "q_anon_suppression",  # ladder aggregation + 3-row pick, any layout
    "q_llm_embed_outliers",  # DECIMAL moment gate, any layout
]


@pytest.mark.parametrize("name", SAMPLE)
def test_deterministic_across_partitioning(spark, registry, name):
    spec = registry[name]
    base = canon_frame(spec.fn(spark, SF_DIR).toPandas())
    again = canon_frame(spec.fn(spark, SF_DIR).toPandas())
    assert base == again, f"{name}: not deterministic across runs"
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "1")
        single = canon_frame(spec.fn(spark, SF_DIR).toPandas())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)
    assert base == single, f"{name}: result depends on partition count"


@pytest.mark.parametrize(
    "name",
    ["q_date_extract", "q_ts_convert", "q_stream_tumbling",
     "q_ts_heatmap_hod_dow", "q_ts_calendar_scaffold",
     "q_stream_rate_source",  # LTZ epoch timestamps from the rate source
     "q_scale_exchange_reuse",  # ts→date grouping + timestamp output col
     "q_ts_dtw",  # date scaffold join under a hostile zone
     "q_ts_holt_linear",  # same scaffold + ts→date grouping
     "q_ts_holt_winters",  # seasonal slots keyed off scaffold day index
     "q_ts_granger",  # scaffold lag joins under a hostile zone
     "q_agg_cramers_v",  # dayofweek contingency under a hostile zone
     "q_agg_anova2_unweighted",  # dow × hour cells under a hostile zone
     "q_ts_croston",  # demand days from ts→date under a hostile zone
     "q_events_stratified_ate",  # pre/post split at a timestamp literal
     "q_ts_pacf",  # daily scaffold under a hostile zone
     "q_ts_ljung_box",  # same scaffold ACF machinery
     "q_ts_strength",  # MA window + dow means under a hostile zone
     "q_events_cuped",  # pre/post split at a timestamp literal
     "q_join_interval_overlap",  # ts→day intervals + hour banding (r10)
     "q_events_dau_wau"],  # ts→day distinct pairs + day range join
)
def test_hostile_session_timezone(spark, registry, name):
    """Timezone-sensitive queries must pin UTC themselves — the driver's
    session may run in any zone."""
    spec = registry[name]
    base = canon_frame(spec.fn(spark, SF_DIR).toPandas())
    saved = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        hostile = canon_frame(spec.fn(spark, SF_DIR).toPandas())
    finally:
        spark.conf.set("spark.sql.session.timeZone", saved)
    assert base == hostile, f"{name}: leaks session timezone into results"


def test_events_ts_reads_as_ltz_timestamp(spark):
    """2026-08-13 regen guard: naive parquet timestamp[us] must surface as
    TIMESTAMP_LTZ (inferTimestampNTZ pinned off), or unix_micros breaks."""
    from pyspark.sql.types import TimestampType

    from aws_lambda_stream_processing_spark.tables import load_table

    df = load_table(spark, SF_DIR, "events")
    assert isinstance(df.schema["ts"].dataType, TimestampType), (
        f"events.ts is {df.schema['ts'].dataType.simpleString()}, not LTZ"
    )


def test_ntz_fallback_cast_is_epoch_verbatim(spark):
    """The load_table defensive NTZ→LTZ cast must map a naive timestamp to
    the SAME epoch micros regardless of session timezone (naive-as-UTC)."""
    from pyspark.sql import functions as F

    row = spark.sql(
        "SELECT timestamp_micros(timestampdiff(MICROSECOND, "
        "TIMESTAMP_NTZ '1970-01-01 00:00:00', "
        "TIMESTAMP_NTZ '2024-03-01 12:34:56.789012')) AS ts"
    ).select(F.unix_micros("ts").alias("us")).collect()[0]
    import datetime as dt

    expect = int(
        dt.datetime(
            2024, 3, 1, 12, 34, 56, 789012, tzinfo=dt.timezone.utc
        ).timestamp() * 1_000_000
    )
    assert row["us"] == expect


def test_ppm_decoder_contract():
    """decode_image must parse well-formed P6 (incl. header comments),
    reject malformed blobs loudly, and invert encode_ppm exactly —
    q_llm_multimodal_decode's correctness rides on this parser."""
    import numpy as np
    import pytest as _pt

    from aws_lambda_stream_processing_spark.llm.multimodal import (
        decode_image,
        encode_ppm,
    )

    # round-trip the deterministic generator
    img = decode_image(encode_ppm(42))
    assert img.shape == (8 + 42 % 7, 8 + 42 % 9, 3)
    i = np.arange(img.shape[0] * img.shape[1], dtype=np.int64)
    assert (img.reshape(-1, 3)[:, 0] == (42 * 7 + i * 3) % 256).all()

    # header comments are skipped per the spec
    with_comment = b"P6\n# a comment\n2 1\n255\n" + bytes(6)
    assert decode_image(with_comment).shape == (1, 2, 3)

    # malformed inputs fail loudly, never return garbage
    with _pt.raises(ValueError):
        decode_image(b"P5\n2 1\n255\n" + bytes(2))  # wrong magic
    with _pt.raises(ValueError):
        decode_image(b"P6\n2 1\n65535\n" + bytes(12))  # 16-bit depth
    with _pt.raises(ValueError):
        decode_image(b"P6\n4 4\n255\n" + bytes(10))  # truncated pixels


def test_skew_aqe_query_restores_session_confs(spark, registry):
    """q_join_skew_aqe mutates seven session confs around its eager
    execution; a leak would poison every later query in the driver's
    single shared session (e.g. broadcast disabled suite-wide)."""
    from aws_lambda_stream_processing_spark.operators.scale import (
        _AQE_SKEW_CONFS,
    )

    sentinel = {}
    for k in _AQE_SKEW_CONFS:
        try:
            sentinel[k] = spark.conf.get(k)
        except Exception:  # noqa: BLE001 - unset conf
            sentinel[k] = None
    from tests.conftest import SF_DIR

    registry["q_join_skew_aqe"].fn(spark, SF_DIR).collect()
    for k, v in sentinel.items():
        try:
            now = spark.conf.get(k)
        except Exception:  # noqa: BLE001
            now = None
        assert now == v, f"conf {k} leaked: {v!r} -> {now!r}"


def test_corrupt_file_fails_without_flag_and_conf_restored(spark, registry):
    """q_scan_ignore_corrupt_files: the planted garbage file must make
    the same scan THROW without ignoreCorruptFiles (the flag is
    load-bearing), the query must leave the session conf exactly as it
    found it, and the resilient read must lose no good rows."""
    import pytest

    from aws_lambda_stream_processing_spark.session import session_dir

    before = spark.conf.get("spark.sql.files.ignoreCorruptFiles", "false")
    df = registry["q_scan_ignore_corrupt_files"].fn(spark, SF_DIR)
    assert spark.conf.get("spark.sql.files.ignoreCorruptFiles") == before
    total = sum(r["n"] for r in df.collect())
    from aws_lambda_stream_processing_spark.tables import load_table

    assert total == load_table(spark, SF_DIR, "events").count()

    out = session_dir(spark, "corrupt_scan")
    with pytest.raises(Exception, match="(?i)parquet|corrupt|footer"):
        spark.read.parquet(out).groupBy().count().collect()


def test_cache_janitor_releases_persisted_blocks(spark, registry):
    """r6 verdict item 2: caches pinned for the session evict each
    other's blocks over a 427-query sweep (the measured aged-suite
    bench tail). The registry janitor must (a) keep the shared edge
    memo alive across CONSECUTIVE graph queries — the sharing is the
    point of the memo — and (b) leave ZERO persistent RDDs once a
    foreign query builds."""

    def n_persistent() -> int:
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    # establish a clean baseline (earlier tests may hold caches)
    registry["q_filter_cmp"].fn(spark, SF_DIR).collect()
    base = n_persistent()
    assert base == 0, f"baseline persistent RDDs: {base}"

    registry["q_graph_triangles"].fn(spark, SF_DIR).collect()
    assert n_persistent() >= 1  # the memoized edge relation is pinned
    registry["q_graph_pagerank"].fn(spark, SF_DIR).collect()
    # pagerank must REUSE the memo, not rebuild it (janitor kept it)
    from aws_lambda_stream_processing_spark.registry import _APP_MEMO

    def edge_memo() -> list:
        return [k for _, k in _APP_MEMO if k[0] == "part_edges"]

    assert any(k[1] == SF_DIR for k in edge_memo())

    # first foreign build sweeps everything: memo + query-local caches
    registry["q_filter_cmp"].fn(spark, SF_DIR).collect()
    assert n_persistent() == 0
    assert not edge_memo()

    # dedup's intra-query caches are freed by the next build too
    registry["q_llm_minhash_lsh"].fn(spark, SF_DIR).collect()
    registry["q_filter_cmp"].fn(spark, SF_DIR).collect()
    assert n_persistent() == 0


def test_rocksdb_provider_engages_and_conf_restored(spark):
    """q_stream_rocksdb_state is only a provider-independence proof if
    the RocksDB provider actually ran. RocksDB commits state as
    snapshot/changelog ZIPs where the default HDFS provider writes
    .delta files — assert the .zip artifacts under an identically
    configured mini-run's checkpoint, and that the provider conf is
    restored afterwards (the conf_scope contract)."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from aws_lambda_stream_processing_spark.session import conf_scope, scratch
    from aws_lambda_stream_processing_spark.streaming.queries import (
        _ROCKSDB_PROVIDER,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    try:
        before = spark.conf.get(key)
    except Exception:  # noqa: BLE001 - unset
        before = None

    src = scratch("alsp_rockstest_src_")
    ckpt = scratch("alsp_rockstest_ckpt_")
    try:
        spark.range(50).select(
            (F.col("id") % 5).alias("k"), F.col("id").alias("v")
        ).write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema("k long, v long").parquet(src)
        agg = stream.groupBy("k").agg(F.sum("v").alias("s"))
        with conf_scope(spark, {key: _ROCKSDB_PROVIDER}):
            q = (
                agg.writeStream.format("noop")
                .outputMode("complete")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            try:
                q.awaitTermination(60)
            finally:
                if q.isActive:
                    q.stop()
        zips = glob.glob(f"{ckpt}/state/**/*.zip", recursive=True)
        deltas = glob.glob(f"{ckpt}/state/**/*.delta", recursive=True)
        assert zips, "no RocksDB snapshot zips — provider did not engage"
        assert not deltas, f"HDFS-provider .delta files present: {deltas[:3]}"

        try:
            after = spark.conf.get(key)
        except Exception:  # noqa: BLE001
            after = None
        assert after == before, f"provider conf leaked: {before!r}->{after!r}"
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_embed_outliers_overflow_gate_refuses_huge_grid(spark, tmp_path):
    """The exact-BIGINT overflow gate (r10 ADVICE, tightened per-dim in
    r12 per r11 ADVICE) must REFUSE — with the corrective action in the
    message — before scheduling the distance stage, once the worst-case
    per-dim deviation bound Σ_j (n·max|v_j| + |S_j|)² exceeds 2⁶³−1.
    Four vectors at coordinate 1e6 (milli-quantized → 1e9) push every
    dim's (n·max|v_j|)² term to ~1.6e19 > 2⁶³−1 on its own."""
    import pandas as pd

    big = [[1.0e6] * 64, [-1.0e6] * 64, [9.9e5] * 64, [-9.9e5] * 64]
    pdf = pd.DataFrame(
        {"vec_id": [1, 2, 3, 4], "embedding": big, "label": [0, 1, 0, 1]}
    )
    sf = tmp_path / "sf_huge"
    sf.mkdir()
    spark.createDataFrame(pdf).coalesce(1).write.parquet(
        str(sf / "embeddings.parquet")
    )
    from aws_lambda_stream_processing_spark.registry import load_all

    spec = load_all()["q_llm_embed_outliers"]
    with pytest.raises(ValueError, match="coarsen the quantization grid"):
        spec.fn(spark, str(sf))


def test_quality_score_half_boundary_rounds_identically(spark, tmp_path):
    """r12 regression: a doc whose quality blend sits EXACTLY on a .xxxx5
    boundary must round identically in Spark and DuckDB. 25 distinct
    single-char tokens, no stopwords → blend = (16·25 + 8·25 + 25)/800 =
    625/800 = 0.78125 — engine-native round() split this (Spark 0.7813,
    DuckDB 0.7812, the sf0.1 failure mode); round4_rational decides
    half-up on the exact rational: 0.7813 on both."""
    import duckdb
    import pandas as pd

    text = " ".join(chr(ord("b") + i) for i in range(25))  # no 'a' stopword
    pdf = pd.DataFrame(
        {"doc_id": [1], "text": [text], "n_chars": [len(text)],
         "lang": ["en"], "source": ["t"]}
    )
    sf = tmp_path / "sf_boundary"
    sf.mkdir()
    spark.createDataFrame(pdf).coalesce(1).write.parquet(
        str(sf / "documents.parquet")
    )
    from aws_lambda_stream_processing_spark.registry import load_all

    spec = load_all()["q_llm_quality_score"]
    srow = spec.fn(spark, str(sf)).toPandas().iloc[0]
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{sf}/documents.parquet/*.parquet')"
        )
        orow = con.execute(spec.oracle).df().iloc[0]
    finally:
        con.close()
    assert float(srow["quality"]) == 0.7813
    assert float(orow["quality"]) == 0.7813
    for c in ("unique_ratio", "stopword_ratio", "avg_tok_len", "quality"):
        assert float(srow[c]) == float(orow[c]), c
