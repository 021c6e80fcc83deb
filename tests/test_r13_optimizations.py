"""Round-13 optimization plan gates (OPTIMIZATION_r13.md).

Shape gates for the r13 restructures, so a regression back to the slow
plan fails even while the oracle stays green:

  * q_graph_kcore — per-iteration stats derive from the (checkpointed)
    degree relation instead of a second count_distinct shuffle over the
    edge relation: Exchange budget (r12 plan: 16; r13: 8);
  * q_llm_bigram_growth — bigrams zip adjacent array elements (no
    token-grain lag window) and rank + both cumsums share ONE range
    exchange via two_phase_rank_cumsums: WindowExec budget (r12 plan:
    44 window nodes across the three chained passes; r13: 2);
  * dprefix.derived_parts — the range-shuffle width derives from the
    optimizer's size estimate (floor DEFAULT_PARTS locally, capped at
    4x parallelism) instead of the fixed 8 (r12 verdict item 8).
"""

from __future__ import annotations

import re

from aws_lambda_stream_processing_spark.plans import plan_string

from tests.conftest import SF_DIR


def _n_exchanges(plan: str) -> int:
    return len(re.findall(r"\(\d+\) Exchange\b", plan))


def test_kcore_stats_reuse_the_degree_relation(spark, registry):
    """q_graph_kcore: 4 peels must plan ~one node-keyed shuffle each
    (degree agg), not two (degree agg + count_distinct over edges).
    r12 formatted plan carried 16 Exchange nodes, r13 carries 8."""
    df = registry["q_graph_kcore"].fn(spark, SF_DIR)
    plan = plan_string(df)
    assert _n_exchanges(plan) <= 10, _n_exchanges(plan)


def test_bigram_growth_single_range_pass(spark, registry):
    """q_llm_bigram_growth: no token-grain lag window, and the three
    two-phase prefix passes are fused into one (2 WindowExec nodes —
    the fused local row_number+cumsums pair — vs 44 in the chained
    r12 plan)."""
    df = registry["q_llm_bigram_growth"].fn(spark, SF_DIR)
    plan = plan_string(df)
    n_windows = len(re.findall(r"\(\d+\) Window\b", plan))
    assert n_windows <= 4, (n_windows, plan[:1500])
    assert "lag(" not in plan, plan[:1500]


def test_dprefix_width_is_size_derived(spark):
    """derived_parts: explicit width honored; small inputs floor at
    DEFAULT_PARTS; estimate-derived width caps at 4x parallelism."""
    from aws_lambda_stream_processing_spark.operators import dprefix as D

    small = spark.range(100).toDF("k")
    assert D.derived_parts(small, 5) == 5
    assert D.derived_parts(small, None) == D.DEFAULT_PARTS
    saved = D._PART_TARGET_BYTES
    try:
        # shrink the target so even the 100-row estimate outgrows it —
        # the derivation must then hit the 4x-parallelism cap
        D._PART_TARGET_BYTES = 1
        cap = 4 * spark.sparkContext.defaultParallelism
        assert D.derived_parts(small, None) == cap
    finally:
        D._PART_TARGET_BYTES = saved


def test_dprefix_width_ignores_missing_stats(spark):
    """derived_parts: an input without stats estimates at
    spark.sql.defaultSizeInBytes (Long.MaxValue); that must read as
    "unknown" and get DEFAULT_PARTS, not the 4x-parallelism cap."""
    from aws_lambda_stream_processing_spark.operators import dprefix as D

    df = spark.createDataFrame([(i,) for i in range(100)], "k long")
    assert D.derived_parts(df, None) == D.DEFAULT_PARTS
