"""Harness-contract gates (r11, extended r12): certification-rotation prefix,
bench.py multi-run/compact-trailer plumbing, and the trust gates on the
user-owned graph artifact cache (r10 ADVICE medium item).

These are driver-/judge-facing contracts, not query semantics: the
driver certifies the FIRST ~50 entries of __spark_entry__.queries(),
tail-parses bench stdout, and a multi-user host must not be able to
poison the cross-JVM graph artifacts. Each gate here pins one of those
behaviors so a refactor can't silently regress them.
"""

from __future__ import annotations

import json
import os

import pytest


# ---------------------------------------------------------------------------
# Certification rotation (r10 verdict item 1)


def test_rotation_prefix_is_50_registered_oracle_backed_ids(registry):
    from aws_lambda_stream_processing_spark.registry import (
        CERT_PREFIX_R13,
        rotation_order,
    )

    assert len(CERT_PREFIX_R13) == 50
    assert len(set(CERT_PREFIX_R13)) == 50
    missing = [n for n in CERT_PREFIX_R13 if n not in registry]
    assert not missing, f"prefix names not in registry: {missing}"
    # the driver's sample is only useful as exact certification if every
    # prefix rung carries an oracle
    weak = [n for n in CERT_PREFIX_R13 if registry[n].oracle is None]
    assert not weak, f"prefix rungs without oracles: {weak}"

    order = rotation_order(registry)
    assert order[:50] == list(CERT_PREFIX_R13)
    assert len(order) == len(registry)
    assert len(set(order)) == len(registry), "rotation dropped/duped a name"


def _certified_union_before(rotation_round: int) -> set[str] | None:
    """Union of GREEN (rows+schema+hash) IDs across CORRECTNESS_r01..
    r(rotation_round-1) beside the repo, or None when no artifact from
    those rounds exists. The upper bound is load-bearing (r11 verdict
    item 1): an unbounded glob also matches the CURRENT round's driver
    artifact, which certifies exactly the prefix under test — so the
    test would fail BECAUSE the rotation succeeded."""
    import glob
    import re

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    certified: set[str] = set()
    seen_any = False
    for p in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(p))
        if not m or int(m.group(1)) >= rotation_round:
            continue  # local artifacts, this round, future rounds
        with open(p) as fh:
            for name, rec in json.load(fh).items():
                seen_any = True
                if (
                    rec.get("rows_match")
                    and rec.get("schema_match")
                    and rec.get("hash_match")
                ):
                    certified.add(name)
    return certified if seen_any else None


@pytest.mark.parametrize("rotation_round, prefix_name", [
    (13, "CERT_PREFIX_R13"),
])
def test_rotation_prefix_was_never_driver_certified_before(
    rotation_round, prefix_name
):
    """Every prefix ID must be absent from the union of GREEN
    (rows+schema+hash) entries across the rounds BEFORE its rotation
    round — the whole point of the rotation is 50 FIRST-TIME exact
    certifications, the same union the judge recomputes per round.
    (q_sample_seeded was driver-SAMPLED in r07 but only as the
    then-weak rows-only check; its first exact certification was r11's,
    so it belonged in that prefix.)"""
    from aws_lambda_stream_processing_spark import registry as reg

    prefix = getattr(reg, prefix_name)
    certified = _certified_union_before(rotation_round)
    if certified is None:
        pytest.skip("no prior-round CORRECTNESS artifacts beside the repo")
    overlap = sorted(set(prefix) & certified)
    assert not overlap, f"already driver-certified: {overlap}"


def test_spark_entry_queries_order_matches_rotation(registry):
    # __spark_entry__ sets ALSP_CACHE_TABLES=1 at import (the driver
    # sweep posture). Inside THIS pytest process that would flip every
    # later load_table() to .cache()d InMemoryRelations and break the
    # plan-gate suite's PushedFilters assertions — restore the env var
    # to its pre-import state before leaving the test.
    had = os.environ.get("ALSP_CACHE_TABLES")
    try:
        import __spark_entry__ as entry
    finally:
        if had is None:
            os.environ.pop("ALSP_CACHE_TABLES", None)
        else:
            os.environ["ALSP_CACHE_TABLES"] = had
    from aws_lambda_stream_processing_spark.registry import rotation_order

    names = list(entry.queries())
    assert names == rotation_order(registry)
    # oracle_sql keys must be a subset in the same relative order
    onames = list(entry.oracle_sql())
    pos = {n: i for i, n in enumerate(names)}
    assert all(n in pos for n in onames)
    assert onames == sorted(onames, key=pos.__getitem__)


def test_rotation_order_ignores_unknown_prefix_entries():
    from aws_lambda_stream_processing_spark.registry import rotation_order

    fake = {"q_a": None, "q_b": None}
    out = rotation_order(fake)  # CERT_PREFIX_R13 ∩ fake = ∅
    assert out == ["q_a", "q_b"]


# ---------------------------------------------------------------------------
# bench.py artifact plumbing (r10 verdict items 2+3)


def _bench():
    import importlib.util

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "bench_mod", os.path.join(here, "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_bench_compact_trailer_is_last_line_and_complete(capsys):
    bench = _bench()
    bench._print_artifact(
        {
            "metric": "suite_seconds", "value": 12.3, "unit": "sec",
            "queries": {"q_x": 12.3}, "sf": 0.1, "n_queries": 1,
            "failures": [], "machine_factor": 1.01,
            "jvm": {"gc_total_ms": 777},
        }
    )
    lines = capsys.readouterr().out.strip().splitlines()
    # r13: full artifact line, then >= 1 bounded query_seconds_chunk
    # lines (tail-survivable per-query timings, verdict item 3), then
    # the compact trailer LAST. Every line is complete JSON.
    assert len(lines) == 3
    full, compact = json.loads(lines[0]), json.loads(lines[-1])
    chunks = [json.loads(ln) for ln in lines[1:-1]]
    assert "queries" in full
    assert all(c["metric"] == "query_seconds_chunk" for c in chunks)
    merged = {}
    for c in chunks:
        assert c["n_chunks"] == len(chunks)
        merged.update(c["chunk_queries"])
    assert merged == full["queries"]
    # the compact trailer is what the driver's stdout-tail parser gets:
    # complete, per-query-free, and carrying the adjudication fields
    assert "queries" not in compact
    assert compact["metric"] == "suite_seconds"
    assert compact["value"] == 12.3
    assert compact["n_queries"] == 1
    assert compact["failures"] == []
    assert compact["machine_factor"] == 1.01
    assert compact["gc_total_ms"] == 777


def test_bench_chunk_lines_survive_a_stdout_tail(capsys):
    """r12 verdict item 3: with 537 queries the single artifact line is
    ~16 kB and truncates mid-object in the driver's stdout tail, erasing
    every per-query timing. The chunk lines are printed AFTER it, so a
    bounded tail keeps whole chunks: a 20 kB tail must retain ALL
    per-query times, and even a 4 kB tail must yield the trailer plus
    complete (parseable) trailing chunks."""
    bench = _bench()
    queries = {f"q_{i:04d}": round(0.1 + i * 0.001, 3) for i in range(537)}
    bench._print_artifact(
        {
            "metric": "suite_seconds", "value": 1.0, "unit": "sec",
            "queries": queries, "sf": 0.1, "n_queries": len(queries),
            "failures": [],
        }
    )
    out = capsys.readouterr().out

    def parse_tail(tail: str):
        objs = []
        for ln in tail.splitlines():
            try:
                objs.append(json.loads(ln))
            except json.JSONDecodeError:
                continue  # the truncated first line of the tail
        return objs

    big = parse_tail(out[-20480:])
    merged = {}
    for o in big:
        if o.get("metric") == "query_seconds_chunk":
            merged.update(o["chunk_queries"])
    assert merged == queries
    assert big[-1]["metric"] == "suite_seconds"  # trailer still last
    small = parse_tail(out[-4096:])
    assert small[-1]["metric"] == "suite_seconds"
    assert any(o.get("metric") == "query_seconds_chunk" for o in small)


def test_bench_artifact_line_picks_full_artifact_not_trailer():
    bench = _bench()
    text = "\n".join(
        [
            "noise",
            json.dumps({"metric": "suite_seconds", "queries": {"q_x": 1.0},
                        "value": 1.0}),
            json.dumps({"metric": "suite_seconds", "value": 1.0}),  # trailer
        ]
    )
    obj = bench._artifact_line(text)
    assert obj is not None and "queries" in obj


def test_bench_ref_loader_tolerates_two_line_artifacts(tmp_path):
    """r11 ADVICE (medium): a committed artifact captured by plain
    redirection holds TWO JSON lines (full + compact trailer); the
    reference loader must pick the line with the per-query dict instead
    of failing the whole-file parse and silently disabling the
    machine-factor / flag reference."""
    bench = _bench()
    two = tmp_path / "BENCH_local_r99.json"
    two.write_text(
        json.dumps({"metric": "suite_seconds", "value": 1.0,
                    "queries": {"q_x": 1.0}})
        + "\n"
        + json.dumps({"metric": "suite_seconds", "value": 1.0})
        + "\n"
    )
    assert bench._load_ref_queries(str(two)) == {"q_x": 1.0}
    # legacy pretty-printed single-object artifact still loads
    legacy = tmp_path / "BENCH_local_r98.json"
    legacy.write_text(json.dumps({"queries": {"q_y": 2.0}}, indent=2))
    assert bench._load_ref_queries(str(legacy)) == {"q_y": 2.0}
    assert bench._load_ref_queries(None) == {}


def test_bench_n_flag_is_validated(capsys):
    bench = _bench()
    import sys as _sys

    for argv in (["bench.py", "-n"], ["bench.py", "-n", "zero"],
                 ["bench.py", "-n", "0"]):
        old = _sys.argv
        _sys.argv = argv
        try:
            assert bench.main() == 2
        finally:
            _sys.argv = old
        assert "usage:" in capsys.readouterr().err


def test_bench_merge_runs_takes_per_query_min_and_unions_failures():
    bench = _bench()
    runs = [
        {"queries": {"q_a": 2.0, "q_b": 0.5}, "failures": []},
        {"queries": {"q_a": 1.0, "q_c": 3.0}, "failures": ["q_b"]},
        {"queries": {"q_a": 27.6, "q_b": 0.4}, "failures": []},
    ]
    merged, per_run, failures = bench._merge_runs(runs)
    # a single-session GC spike (27.6) cannot reach the merged headline
    assert merged == {"q_a": 1.0, "q_b": 0.4, "q_c": 3.0}
    assert per_run["q_a"] == [2.0, 1.0, 27.6]
    assert failures == ["q_b"]


def test_bench_flag_gate_applies_machine_factor_and_absolute_floor():
    bench = _bench()
    ref = {"q_slow": 1.0, "q_tiny": 0.1, "q_new": None}
    timings = {"q_slow": 2.5, "q_tiny": 0.5, "q_unref": 9.9}
    # mf_gate 1.0: q_slow is 2.5x ref and >1s -> flagged; q_tiny is 5x
    # but under the 1s floor; q_unref has no reference
    assert bench._flagged(timings, {"q_slow": 1.0, "q_tiny": 0.1}, 1.0) == [
        "q_slow"
    ]
    # a 1.3 machine factor widens the gate past 2.5x
    assert bench._flagged(timings, {"q_slow": 1.0}, 1.3) == []


def test_bench_machine_factor_controls_are_pure_shapes():
    """r10 ADVICE: controls must not share mutable operator infra. The
    allowed set is pinned here — scan/project, distinct shuffle-agg,
    Q1-style shuffle-agg — so a future edit that sneaks a
    shared-infra consumer (the old q_agg_gini / dprefix case) back in
    fails loudly."""
    bench = _bench()
    assert set(bench.CONTROLS) == {
        "q_date_extract", "q_agg_count_distinct", "q_agg_groupby",
    }
    mf, ratios = bench._machine_factor(
        {"q_date_extract": 0.2, "q_agg_count_distinct": 0.4,
         "q_agg_groupby": 2.0},
        {"q_date_extract": 0.1, "q_agg_count_distinct": 0.4,
         "q_agg_groupby": 1.0},
    )
    assert ratios == {"q_date_extract": 2.0, "q_agg_count_distinct": 1.0,
                      "q_agg_groupby": 2.0}
    assert mf == 2.0  # median
    mf_none, _ = bench._machine_factor({"q_date_extract": 0.2}, {})
    assert mf_none is None


def test_side_effects_have_one_owner():
    """Each side effect a query leaves behind has one implementation:
    scratch dirs (session.scratch / scratch_dir / session_dir), bounded
    stream drains (replay.drain) and session-conf overrides
    (session.conf_scope). Outside session.py and streaming/replay.py no
    package module may call tempfile.mkdtemp, call .start() on a
    writeStream chain, or call <session>.conf.set — a hand-rolled copy
    is how a drain ignores its timeout or a sink dir leaks. Exemptions:
    rate_demo.py's unbounded processingTime drain (stopped after N
    batches, not by a bounded trigger) and the janitor-deferred conf
    restore of q_source_python_datasource_pushdown. Both exemptions
    must still be FOUND, so the matchers are proven live."""
    import ast
    import pathlib

    import aws_lambda_stream_processing_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    owners = {"session.py", "streaming/replay.py"}
    exempt = {
        ("streaming/rate_demo.py", "drain_micro_batches", "start"),
        (
            "operators/sources.py",
            "q_source_python_datasource_pushdown",
            "conf.set",
        ),
    }

    def on_write_stream(node: ast.AST) -> bool:
        while isinstance(node, (ast.Call, ast.Attribute)):
            if isinstance(node, ast.Attribute):
                if node.attr == "writeStream":
                    return True
                node = node.value
            else:
                node = node.func
        return False

    def kind(call: ast.Call) -> str | None:
        f = call.func
        if isinstance(f, ast.Name) and f.id == "mkdtemp":
            return "mkdtemp"
        if not isinstance(f, ast.Attribute):
            return None
        if f.attr == "mkdtemp":
            return "mkdtemp"
        if f.attr == "start" and on_write_stream(f.value):
            return "start"
        if (
            f.attr == "set"
            and isinstance(f.value, ast.Attribute)
            and f.value.attr == "conf"
        ):
            return "conf.set"
        return None

    found: set[tuple[str, str, str]] = set()
    offences: list[str] = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel in owners:
            continue
        for top in ast.parse(path.read_text()).body:
            owner = getattr(top, "name", "<module>")
            for node in ast.walk(top):
                k = isinstance(node, ast.Call) and kind(node)
                if not k:
                    continue
                if (rel, owner, k) in exempt:
                    found.add((rel, owner, k))
                else:
                    offences.append(f"{rel}:{node.lineno} {owner}: {k}")
    assert not offences, offences
    assert found == exempt, f"exempt sites not found: {exempt - found}"


def test_per_application_state_has_one_owner():
    """Per-application memos have one implementation: registry.app_memo
    owns the applicationId key, the eviction of other applications'
    entries and the family-scoped janitor release. Outside registry.py
    no package module may read .applicationId or call track_cache with
    a scope — a hand-rolled copy is how a memo outlives its family or
    serves a dead application's frames. Exemption: session.session_dir,
    whose per-application root is a directory reaped at interpreter
    exit, not a memo. The exemption must still be FOUND, so the matcher
    is proven live."""
    import ast
    import pathlib

    import aws_lambda_stream_processing_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    exempt = {("session.py", "session_dir", "applicationId")}

    def kind(node: ast.AST) -> str | None:
        if isinstance(node, ast.Attribute) and node.attr == "applicationId":
            return "applicationId"
        if not isinstance(node, ast.Call):
            return None
        f = node.func
        name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
        scoped = len(node.args) > 1 or any(
            k.arg == "scope" for k in node.keywords
        )
        if name == "track_cache" and scoped:
            return "track_cache(scope)"
        return None

    found: set[tuple[str, str, str]] = set()
    offences: list[str] = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel == "registry.py":
            continue
        for top in ast.parse(path.read_text()).body:
            owner = getattr(top, "name", "<module>")
            for node in ast.walk(top):
                k = kind(node)
                if not k:
                    continue
                if (rel, owner, k) in exempt:
                    found.add((rel, owner, k))
                else:
                    offences.append(f"{rel}:{node.lineno} {owner}: {k}")
    assert not offences, offences
    assert found == exempt, f"exempt sites not found: {exempt - found}"
