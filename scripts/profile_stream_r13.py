#!/usr/bin/env python
"""Round-13 streaming profiler: run streaming rungs and capture the
engine's own StreamingQueryProgress (durationMs breakdown + state
operator metrics) per micro-batch, plus wall time per rung.

Wraps replay.drain so every drained query's recentProgress is recorded
before the harness drops it.

Usage: python scripts/profile_stream_r13.py q_name [q_name ...]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.environ["ALSP_CACHE_TABLES"] = "1"

    from aws_lambda_stream_processing_spark.registry import load_all
    from aws_lambda_stream_processing_spark.session import get_spark
    from aws_lambda_stream_processing_spark.streaming import replay
    from aws_lambda_stream_processing_spark.tables import TABLES, load_table

    progress_log: list[dict] = []

    def _capture(q):
        for p in q.recentProgress:
            d = p if isinstance(p, dict) else json.loads(p.json)
            progress_log.append(
                {
                    "batchId": d.get("batchId"),
                    "numInputRows": d.get("numInputRows"),
                    "durationMs": d.get("durationMs"),
                    "stateOperators": [
                        {
                            k: so.get(k)
                            for k in (
                                "operatorName",
                                "commitTimeMs",
                                "numRowsTotal",
                                "numRowsUpdated",
                                "numStateStoreInstances",
                            )
                        }
                        for so in (d.get("stateOperators") or [])
                    ],
                }
            )

    orig_drain = replay.drain

    def drain(writer, timeout_s=120.0):
        q = orig_drain(writer, timeout_s)
        _capture(q)
        return q

    # every bounded drain goes through replay.drain; re-point queries.py's
    # imported name too
    from aws_lambda_stream_processing_spark.streaming import (
        queries as squeries,
    )

    replay.drain = squeries.drain = drain

    registry = load_all()
    spark = get_spark("alsp-stream-profile-r13")
    spark.sparkContext.setLogLevel("ERROR")
    for t in TABLES:
        load_table(spark, sf_dir, t).count()

    for name in names:
        for rep in range(2):
            progress_log.clear()
            spark.sparkContext.setJobDescription(f"sprofile:{name}")
            t0 = time.perf_counter()
            try:
                registry[name].fn(spark, sf_dir).toPandas()
            except Exception as exc:  # noqa: BLE001
                print(json.dumps({name: f"error: {exc}"}), flush=True)
                break
            wall = round(time.perf_counter() - t0, 3)
            print(
                json.dumps(
                    {
                        "q": name,
                        "rep": rep,
                        "wall_s": wall,
                        "n_batches": len(progress_log),
                        "progress": progress_log,
                    }
                ),
                flush=True,
            )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
