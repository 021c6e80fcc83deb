"""Stream-replay harness: run the `events` table as a Structured Streaming
source and materialize the result — the Lambda-handler execution model
(micro-batch over an ordered shard) mapped onto Spark (SURVEY.md §2.I, §3.3).

`availableNow` replays all existing files as bounded micro-batches with
checkpointing, exactly like an event-source mapping draining a shard; the
memory sink stands in for the DynamoDB/S3 sink and is swapped for
parquet/Kafka sinks in production (`foreachBatch` for arbitrary ones).
Every bounded drain in the package goes through `drain`: start, wait,
stop, and a TimeoutError instead of a partially filled sink.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
import uuid
from collections.abc import Callable, Iterator
from contextlib import contextmanager, nullcontext

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from aws_lambda_stream_processing_spark.registry import track_cache
from aws_lambda_stream_processing_spark.session import (
    conf_scope,
    scratch,
    scratch_dir,
    session_dir,
)

# Explicit schema: streaming file sources cannot infer (and at 100 TB you
# pin schemas anyway). The 2026-08-13 testdata regen stores ts as NAIVE
# timestamp[us]; with inferTimestampNTZ disabled (session.RUNTIME_CONFS)
# Spark reads the stored micros verbatim as LTZ — identical to the batch
# loader (tables.load_table) and DuckDB's naive-as-UTC read. (The earlier
# TIMESTAMP(NANOS)-as-long era needed `ts BIGINT` + div-1000 here.)
EVENTS_DDL = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, "
    "value DOUBLE, props STRING"
)

# Stateful streaming operators create one StateStore instance per shuffle
# partition per operator; at this event volume 32 stores per micro-batch is
# pure overhead (measured 7.3 s → 2.5 s on the stream-stream join by
# dropping to 8; 8 → 4 is worth another ~0.5 s/query, 4 → 2 flat — round-2
# sweep). On a real cluster this is sized to cores × small factor.
_STREAM_SHUFFLE_PARTITIONS = "4"


def py_state_width(spark: SparkSession) -> str:
    """Shuffle width for PYTHON-stateful streams (applyInPandasWithState).

    The r2 width ladder that picked 4 measured JVM state-store rungs,
    where per-partition store instances dominate. A Python-stateful
    stage's cost is the per-key pandas handler instead, and width 4
    runs those kernels on 4 cores: r12 interleaved ladder on
    q_stream_custom_state at sf0.1 (min-of-3 noop) — 5.2 s @4,
    3.5 s @8, 2.7 s @16. Derived from the session (the driver benches
    at lower core counts too), capped where the store-instance
    overhead catches up."""
    return str(max(4, min(spark.sparkContext.defaultParallelism, 16)))


def stream_confs(width: str | None = None) -> dict[str, str]:
    """Session confs a bounded stream runs under (see conf_scope): the
    state-store shuffle width, _STREAM_SHUFFLE_PARTITIONS unless the rung
    asks for another (py_state_width)."""
    return {"spark.sql.shuffle.partitions": width or _STREAM_SHUFFLE_PARTITIONS}


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table as an unbounded DataFrame (file streaming source)."""
    # The file streaming source wants a directory; select just events.parquet
    # out of the sf dir with a glob filter.
    return (
        spark.readStream.schema(EVENTS_DDL)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )


def drain(writer: DataStreamWriter, timeout_s: float = 120.0) -> StreamingQuery:
    """Start a configured bounded-trigger writer (availableNow / once),
    block until it drains, and return the terminated query (its
    recentProgress stays readable).

    The query never outlives the call: it is stopped if still active,
    whatever happened. A drain that does not finish within `timeout_s`
    raises TimeoutError instead of handing back a partially filled
    sink; a failed micro-batch re-raises from awaitTermination."""
    q = writer.start()
    try:
        done = q.awaitTermination(timeout_s)
    finally:
        if q.isActive:
            q.stop()
    if not done:
        raise TimeoutError(
            f"stream {q.name or q.id} did not drain within {timeout_s} s"
        )
    return q


def run_to_memory(
    transformed: DataFrame,
    output_mode: str = "append",
    timeout_s: float = 120.0,
    checkpoint: str | None = None,
    shuffle_partitions: str | None = None,
) -> DataFrame:
    """Execute a streaming plan with trigger(availableNow) into a memory
    sink; block until drained; return the materialized result as a batch DF.

    Pass an explicit `checkpoint` to resume a previous run's offsets,
    watermark and operator state (restart semantics); the caller then owns
    its cleanup. Each run gets a fresh memory sink, so a resumed run's table
    contains only rows emitted by that run. `shuffle_partitions` overrides
    the default stream width (see py_state_width for the Python-stateful
    rungs' wider setting).

    The sink's temp view is dropped by the cache janitor when the next
    query builds (the tracked_local_checkpoint contract); the returned
    frame is already analyzed against the sink, so it stays readable.
    """
    spark = transformed.sparkSession
    name = "mem_" + uuid.uuid4().hex[:12]
    track_cache(lambda: spark.catalog.dropTempView(name))
    own = nullcontext(checkpoint) if checkpoint else scratch_dir("alsp_ckpt_")
    with own as ckpt, conf_scope(spark, stream_confs(shuffle_partitions)):
        drain(
            transformed.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True),
            timeout_s,
        )
    return spark.table(name)


def run_foreach_batch(
    transformed: DataFrame,
    handler: Callable[[DataFrame, int], None],
    output_mode: str = "append",
    timeout_s: float = 120.0,
    checkpoint: str | None = None,
) -> None:
    """The Lambda-handler equivalent: `handler(batch_df, batch_id)` runs once
    per micro-batch with exactly-once semantics (batch_id-keyed idempotence
    replaces Kinesis checkpoint-after-success). Unlike the memory sink,
    foreachBatch supports checkpoint recovery — pass `checkpoint` to resume
    offsets/watermark/state across runs (caller owns its cleanup)."""
    own = nullcontext(checkpoint) if checkpoint else scratch_dir("alsp_ckpt_")
    with own as ckpt, conf_scope(transformed.sparkSession, stream_confs()):
        drain(
            transformed.writeStream.foreachBatch(handler)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True),
            timeout_s,
        )


@contextmanager
def split_dir(
    spark: SparkSession,
    sf_dir: str,
    predicates: list[str],
    table: str = "events",
) -> Iterator[str]:
    """split_table_dir, removed when the block exits."""
    d = split_table_dir(spark, sf_dir, table, predicates)
    try:
        yield d
    finally:
        shutil.rmtree(d, ignore_errors=True)


@contextmanager
def split_stream(
    spark: SparkSession, sf_dir: str, predicates: list[str]
) -> Iterator[DataFrame]:
    """Stream the events table as len(predicates) ordered micro-batches
    (one file per predicate, maxFilesPerTrigger=1); the split files are
    removed when the block exits."""
    with split_dir(spark, sf_dir, predicates) as d:
        yield (
            spark.readStream.schema(EVENTS_DDL)
            .option("maxFilesPerTrigger", "1")
            .parquet(d)
        )


def split_events_dir(
    spark: SparkSession,
    sf_dir: str,
    predicates: list[str],
) -> str:
    """Write `events` into one parquet file per predicate, with file mtimes
    in list order, so availableNow + maxFilesPerTrigger=1 replays them as
    ordered micro-batches (late-data / watermark testing — SURVEY §7.2).
    See split_table_dir for the mechanics."""
    return split_table_dir(spark, sf_dir, "events", predicates)


def split_table_dir(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    predicates: list[str],
) -> str:
    """Write `table` into one parquet file per predicate, with file mtimes
    in list order, so availableNow + maxFilesPerTrigger=1 replays them as
    ordered micro-batches. Predicates may OVERLAP — that replays the
    overlapping rows twice, the at-least-once redelivery a Kinesis
    consumer must tolerate (q_stream_llm_curation uses this).

    Returns the directory. Caller owns cleanup.

    The Spark write jobs run ONCE per (application, sf_dir, table,
    predicates) into a master session_dir; every call hands back a fresh
    tmpfs COPY of those files (~ms), so callers keep delete-ownership
    while a multi-query sweep pays the split cost once, not per streaming
    query.
    """
    from aws_lambda_stream_processing_spark.tables import load_table

    digest = hashlib.sha1(
        repr((sf_dir, table, tuple(predicates))).encode()
    ).hexdigest()[:16]
    master = session_dir(spark, f"stream_master_{digest}")
    names = [f"batch_{i:03d}.parquet" for i in range(len(predicates))]
    if not all(os.path.isfile(os.path.join(master, n)) for n in names):
        events = load_table(spark, sf_dir, table)
        for i, pred in enumerate(predicates):
            part_dir = os.path.join(master, f"_stage_{i}")
            events.where(F.expr(pred)).coalesce(1).write.mode(
                "overwrite"
            ).parquet(part_dir)
            src = next(
                f for f in os.listdir(part_dir)
                if f.endswith(".parquet") and not f.startswith("_")
            )
            shutil.move(
                os.path.join(part_dir, src), os.path.join(master, names[i])
            )
            shutil.rmtree(part_dir, ignore_errors=True)
    out = scratch("alsp_stream_in_")
    now = time.time()
    for i, name in enumerate(names):
        dst = os.path.join(out, name)
        shutil.copy(os.path.join(master, name), dst)
        # FileStreamSource orders by modification time (oldest first).
        os.utime(dst, (now + i * 10, now + i * 10))
    return out
