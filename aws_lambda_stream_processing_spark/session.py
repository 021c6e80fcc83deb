"""SparkSession factory — the engine's runtime posture.

Scale posture (SURVEY.md §4): AQE on (runtime re-plan, skew-join splitting,
partition coalescing), UTC session timezone (oracle parity), modest shuffle
partition count for local benches. On a real 1000-executor cluster the same
code runs with `spark.sql.shuffle.partitions` sized to ~2-3× total cores and
RocksDB state store for streaming state; nothing here is local-mode-specific
except the master URL.
"""

from __future__ import annotations

import atexit
import os
import shutil
from collections.abc import Iterator
from contextlib import contextmanager
from tempfile import mkdtemp

from pyspark.sql import SparkSession

# Runtime-settable confs every query assumes. Applied defensively per query
# build as well (the driver may hand us a session we didn't configure).
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # events.ts is parquet TIMESTAMP(NANOS); Spark has no ns timestamp type.
    # Read as raw nanos and convert to µs in tables.load_table — identical
    # truncation to DuckDB 1.0's ns→µs read (verified).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # The 2026-08-13 testdata regen switched ts/o_orderdate/l_shipdate to
    # NAIVE timestamp[us] parquet. Spark 4 infers those as TIMESTAMP_NTZ,
    # which breaks unix_micros() and every LTZ-assuming expression. Read
    # them as LTZ instead: parquet micros are taken verbatim as epoch
    # micros (no zone shift), which under the pinned UTC session equals
    # DuckDB's naive-as-UTC read — bit-identical to the old behavior.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Arrow-batched toPandas: OSS Spark defaults this OFF, so a vanilla
    # driver session materializes results row-by-row over py4j — measured
    # 4.1 s for the 60k-row cast matrix vs ~0.5 s with Arrow. Values are
    # identical either way (same doubles, same pd.Timestamp); it's purely
    # the transfer encoding, and it's runtime-settable.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Pin the confs that affect result parity on an existing session."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable in this deployment; defaults are acceptable
    # A vanilla session ships shuffle.partitions=200: at small SFs that is
    # ~6× the machine's cores in pure task-scheduling overhead per
    # exchange. Results are partitioning-independent (the determinism
    # gates re-run queries under partitions=1), so pin to the actual
    # parallelism. Never raise above an explicitly configured value — on
    # a real cluster the operator sizes this to 2-3× total cores.
    try:
        cores = spark.sparkContext.defaultParallelism
        if int(spark.conf.get("spark.sql.shuffle.partitions")) > 4 * cores:
            spark.conf.set("spark.sql.shuffle.partitions", str(cores))
    except Exception:
        pass
    return spark


def get_spark(app_name: str = "alsp-spark-engine") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        # 12g, not the box's full 128 GiB share: the suite's working set
        # is far below either, and on a huge heap G1's rare-but-massive
        # mixed collections become the measured bench tail (r10: gc_total
        # 40-143 s/session). Controlled r11 A/B, full 537-query suite,
        # best-of-2, 3 fresh sessions per config on one box: 32g heap →
        # min-of-3 414.0 s, gc_total 63-90 s/run; 12g heap → min-of-3
        # 372.5 s, gc_total 17-41 s/run (median per-query ratio 0.887,
        # streaming family ~+1 s total worse, graphs/joins far better).
        # Raise via SPARK_DRIVER_MEM when an operator genuinely needs it.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "12g"))
        # A full-surface sweep (273 queries) emits thousands of Janino
        # whole-stage-codegen classes; the JVM's default 240 MB reserved
        # code cache fills mid-suite, the JIT shuts off, and every later
        # query (even pure columnar maps) runs interpreted at ~10x cost.
        # Reserve real headroom and let HotSpot flush cold compilations.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
        )
        # Long sweeps accumulate shuffle files + broadcast blocks that the
        # ContextCleaner only releases after a JVM GC notices the weak
        # refs; with a 32 g heap full GCs are rare, so force a periodic
        # sweep well under the 30 min default.
        .config("spark.cleaner.periodicGC.interval", "60s")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # User-owned warehouse, not a world-shared /tmp path: under /tmp
        # another local user can pre-own the fixed path and break or
        # shadow managed-table writes (the CTAS rung's drop-and-clean
        # already prevents silent READ poisoning, so the residual risk
        # was write failure, but the fix is one line).
        .config(
            "spark.sql.warehouse.dir",
            os.path.join(
                os.path.expanduser("~"), ".cache", "alsp_warehouse"
            ),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


# ---------------------------------------------------------------------------
# Side effects a query leaves behind. Every rung that overrides a session
# conf or needs a directory goes through one of these, so each side effect
# has exactly one owner and one cleanup rule.


@contextmanager
def conf_scope(spark: SparkSession, confs: dict[str, str]) -> Iterator[None]:
    """Set `confs` for the body, then restore each one: its prior value,
    or unset if it had none (the engine must leave the caller's session
    exactly as it found it). Exception-safe: a set that fails partway
    restores the confs already applied before re-raising."""
    saved: dict[str, str | None] = {}
    try:
        for k, v in confs.items():
            try:
                saved[k] = spark.conf.get(k)
            except Exception:  # noqa: BLE001 - unset conf
                saved[k] = None
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def scratch(prefix: str) -> str:
    """A fresh scratch dir; the caller owns its removal (prefer
    scratch_dir). tmpfs when the host has it: state-store commits and
    sink writes are many tiny files and fsync-bound on disk (measured
    30-40% of streaming query time at sf0.1). On a real cluster this is
    the RocksDB local dir + an object-store checkpoint."""
    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    return mkdtemp(prefix=prefix, dir=base)


@contextmanager
def scratch_dir(prefix: str) -> Iterator[str]:
    """A fresh scratch dir (see scratch), removed when the block exits.
    A frame returned from inside the block must not read from the dir:
    materialize it first (collect, or an eager tracked_local_checkpoint)."""
    d = scratch(prefix)
    try:
        yield d
    finally:
        shutil.rmtree(d, ignore_errors=True)


# applicationId -> that application's root of session dirs
_SESSION_ROOTS: dict[str, str] = {}


def session_dir(spark: SparkSession, prefix: str) -> str:
    """The dir `prefix` of this Spark application: the same path on every
    call, for outputs that must outlive their query (plan gates re-read
    the LAZY frames built over them) and for cross-query memos. One root
    per applicationId keeps concurrent processes apart (two processes
    sharing one path race on overwrite vs _temporary). A new application
    reaps the previous one's root (its frames are dead with its
    context); the last one is reaped at interpreter exit."""
    app = spark.sparkContext.applicationId
    root = _SESSION_ROOTS.get(app)
    if root is None:
        _reap_session_dirs()
        root = _SESSION_ROOTS[app] = scratch(f"alsp_session_{app}_")
    path = os.path.join(root, prefix)
    os.makedirs(path, exist_ok=True)
    return path


def _reap_session_dirs() -> None:
    for d in _SESSION_ROOTS.values():
        shutil.rmtree(d, ignore_errors=True)
    _SESSION_ROOTS.clear()


atexit.register(_reap_session_dirs)
