"""Tests of the benchmark's own logic; no Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from gen_events import EVENT_TYPES, events_table, write_events
from oracle import Oracle, compare
from spans import self_times
from stats import failed_ratio, tail
from workloads import BLOCK, WORKLOADS, sequence

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_tail_leaves_ten_samples_beyond():
    values = [float(v) for v in range(40, 0, -1)]  # 1..40, unsorted
    value, pct, n = tail(values)
    assert (value, pct, n) == (30.0, 75.0, 40)
    assert sum(v > value for v in values) == 10
    value, pct, n = tail(values[:11])
    assert sum(v > value for v in values[:11]) == 10 and pct == pytest.approx(100 / 11)


def test_tail_needs_eleven_samples():
    with pytest.raises(ValueError):
        tail([1.0] * 10)


def test_failed_ratio_counts_exceptions_and_mismatches():
    assert failed_ratio(2, 3, 20) == 0.25
    assert failed_ratio(0, 1, 4) == 0.25
    assert failed_ratio(1, 0, 4) == 0.25
    with pytest.raises(ValueError):
        failed_ratio(0, 0, 0)


def test_generator_bytes_repeat_per_seed(tmp_path):
    paths = [tmp_path / f"{i}.parquet" for i in range(3)]
    write_events(str(paths[0]), 7, 3000, 300, 0.8)
    write_events(str(paths[1]), 7, 3000, 300, 0.8)
    write_events(str(paths[2]), 8, 3000, 300, 0.8)
    assert paths[0].read_bytes() == paths[1].read_bytes()
    assert paths[0].read_bytes() != paths[2].read_bytes()
    assert pq.ParquetFile(paths[0]).metadata.num_row_groups == 1


def test_generator_keeps_events_invariants():
    df = events_table(3, 5000, 400, 1.1).to_pandas()
    fixture_cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    assert list(df.columns) == fixture_cols
    assert df.event_id.tolist() == list(range(5000))
    assert df.ts.is_monotonic_increasing
    assert df.ts.min() >= pd.Timestamp("2024-01-01") and df.ts.max() < pd.Timestamp("2024-02-01")
    assert set(df.event_type) == set(EVENT_TYPES)
    ks = df.props.map(lambda s: json.loads(s)["k"])
    assert ks.between(0, 99).all() and df.props.str.fullmatch(r'\{"k": \d+\}').all()
    assert df.user_id.between(0, 399).all() and df.user_id.nunique() > 200
    counts = df.user_id.value_counts()
    assert counts.iloc[0] > 10 * counts.median()  # skewed: hot keys repeat
    assert not df.isna().any().any()


def _oracle_dir(tmp_path) -> str:
    write_events(str(tmp_path / "events.parquet"), 1, 2000, 50, 0.8)
    dummy = pa.table({"x": [1]})
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "documents", "embeddings"):
        pq.write_table(dummy, tmp_path / f"{t}.parquet")
    return str(tmp_path)


def test_oracle_flags_corrupted_result(tmp_path):
    sql = ("SELECT event_type, count(*) AS n, round(sum(value), 4) AS v "
           "FROM events GROUP BY event_type")
    oracle = Oracle(_oracle_dir(tmp_path), {"q": sql, "weak": None})
    good = events_table(1, 2000, 50, 0.8).to_pandas().groupby("event_type").agg(
        n=("value", "size"), v=("value", "sum")).reset_index()
    good["v"] = good["v"].round(4)
    good = good.rename(columns={"event_type": "EVENT_TYPE"}).iloc[::-1]
    assert oracle.check("q", good) is None  # order and column case do not matter
    corrupt = good.copy()
    corrupt.loc[corrupt.index[0], "n"] += 1
    assert oracle.check("q", corrupt) == "1 value mismatches"
    assert oracle.check("q", good.iloc[1:]).startswith("rows ")
    assert oracle.check("q", good.drop(columns="v")).startswith("columns ")
    assert oracle.check("weak", good) == "no oracle"
    oracle.close()


def test_oracle_error_is_a_mismatch(tmp_path):
    oracle = Oracle(_oracle_dir(tmp_path), {"q": "SELECT no_such_column FROM events"})
    got = pd.DataFrame({"x": [1]})
    first = oracle.check("q", got)
    assert first.startswith("oracle error: ") and "no_such_column" in first
    assert oracle.check("q", got) == first  # cached for the run, still reported
    oracle.close()


def test_compare_counts_duplicate_rows():
    a = pd.DataFrame({"k": [1, 1, 2]})
    assert compare(a, pd.DataFrame({"k": [1, 2, 2]})) == "1 value mismatches"
    assert compare(a, a.iloc[[2, 0, 1]]) is None


def test_sequence_repeats_per_seed_and_favours_hot_queries():
    pool = {f"q{i}": f"fam{i % 7}" for i in range(200)}
    s1, s2 = sequence(pool, 60, 5), sequence(pool, 60, 5)
    assert s1 == s2 and len(s1) == 60 and set(s1) <= set(pool)
    s3 = sequence(pool, 60, 6)
    assert s3 != s1 and sorted(s3) == sorted(s1)  # the seed orders a fixed mix
    for i in range(0, 60, BLOCK):  # ... only within blocks
        assert sorted(s3[i:i + BLOCK]) == sorted(s1[i:i + BLOCK])
    top = max(s1.count(q) for q in set(s1))
    assert top >= 5 and len(set(s1)) < 60  # hot queries repeat
    assert {pool[q] for q in s1} == set(pool.values())  # hot ranks span families


def test_requests_cover_the_tail_rule():
    for wl in WORKLOADS.values():
        assert wl.requests(0.001) >= 11


def test_self_time_subtracts_child_coverage():
    spans = [
        {"id": 0, "name": "request", "start": 0.0, "end": 10.0, "parent": None},
        {"id": 1, "name": "registry.build", "start": 0.0, "end": 4.0, "parent": 0},
        {"id": 2, "name": "spark.collect", "start": 4.0, "end": 9.0, "parent": 0},
        {"id": 3, "name": "streaming.batch", "start": 1.0, "end": 3.0, "parent": 1},
        {"id": 4, "name": "streaming.batch", "start": 2.0, "end": 3.5, "parent": 1},
    ]
    got = self_times(spans)
    assert got["request"] == pytest.approx(1.0)
    assert got["registry.build"] == pytest.approx(1.5)  # 4 - union(1..3.5)
    assert got["streaming.batch"] == pytest.approx(3.5)


def test_benchmark_json_matches_contract():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    assert any(m["name"] == "setup_s" for m in spec["end_to_end"])
