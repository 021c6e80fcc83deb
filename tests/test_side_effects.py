"""Side effects a query leaves behind: bounded stream drains, memory-sink
views and scratch directories.

Each has one owner (replay.drain, the registry cache janitor, and
session.scratch_dir / session_dir); these gates pin the contracts those
owners promise: a drain that misses its deadline raises and leaves no
running query or checkpoint behind, a memory sink's temp view dies at
the next build, and sink rungs leave no scratch dir behind.
"""

from __future__ import annotations

import glob
import os
import tempfile

import pytest

from aws_lambda_stream_processing_spark.streaming.replay import (
    events_stream,
    run_to_memory,
)
from aws_lambda_stream_processing_spark.tables import load_table
from tests.conftest import SF_DIR


def _alsp_entries() -> set[str]:
    bases = {"/dev/shm", tempfile.gettempdir()}
    return {
        p
        for b in bases
        if os.path.isdir(b)
        for p in glob.glob(os.path.join(b, "alsp_*"))
    }


def _mem_views(spark) -> list[str]:
    return [
        t.name for t in spark.catalog.listTables() if t.name.startswith("mem_")
    ]


def test_drain_timeout_raises_and_leaves_nothing_running(spark):
    """A drain that cannot finish in time must raise, not hand back
    whatever the sink holds so far; the query is stopped and its own
    checkpoint dir removed either way."""
    before = _alsp_entries()
    with pytest.raises(TimeoutError):
        run_to_memory(events_stream(spark, SF_DIR), timeout_s=0.001)
    assert not spark.streams.active
    ckpts = [
        p
        for p in _alsp_entries() - before
        if os.path.basename(p).startswith("alsp_ckpt_")
    ]
    assert not ckpts, ckpts


def test_memory_sink_views_dropped_at_next_build(spark, registry):
    """run_to_memory's mem_<uuid> view (and the MemorySink rows it pins)
    lives only until the next query builds — the tracked_local_checkpoint
    contract. A frame built before the drop stays readable: it was
    analyzed against the sink, not against the catalog name."""
    registry["q_stream_tumbling"].fn(spark, SF_DIR).collect()
    dedup = registry["q_stream_dedup"].fn(spark, SF_DIR)
    assert _mem_views(spark), "q_stream_dedup registered no memory view"
    registry["q_scan_parquet"].fn(spark, SF_DIR).collect()
    assert not _mem_views(spark), _mem_views(spark)
    assert dedup.count() == load_table(spark, SF_DIR, "events").count()


def test_sink_rungs_leave_no_scratch_dirs(spark, registry):
    """q_sink_parquet used to remove <mkdtemp>/out but never its
    alsp_sink_* parent, and q_stream_sink_foreachbatch removed its sink
    outside a finally. Once their results are collected, no new alsp_*
    entry may remain in the temp dir or /dev/shm, apart from the
    per-application session_dir root."""
    before = _alsp_entries()
    for name in ("q_sink_parquet", "q_stream_sink_foreachbatch"):
        registry[name].fn(spark, SF_DIR).collect()
    leaked = sorted(
        p
        for p in _alsp_entries() - before
        if not os.path.basename(p).startswith("alsp_session_")
    )
    assert not leaked, leaked
