"""registry.app_memo: the one owner of per-application memos.

Runs without a JVM: the session is a stub carrying only
sparkContext.applicationId, and the memoized frames are stubs that
record unpersist(). The janitor list and the memo table are swapped for
empty ones, so the live test session's entries are never touched."""

from __future__ import annotations

from types import SimpleNamespace

import pytest

from aws_lambda_stream_processing_spark import registry


class StubFrame:
    def __init__(self) -> None:
        self.is_cached = True
        self.unpersisted = 0

    def unpersist(self) -> None:
        self.unpersisted += 1


def stub_spark(app: str) -> SimpleNamespace:
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app))


@pytest.fixture(autouse=True)
def fresh_state(monkeypatch):
    monkeypatch.setattr(registry, "_APP_MEMO", {})
    monkeypatch.setattr(registry, "_CACHE_JANITOR", [])


def memo(spark, key, scope=None):
    builds = []

    def build() -> StubFrame:
        builds.append(key)
        return StubFrame()

    return registry.app_memo(spark, key, build, scope=scope), builds


def test_build_runs_once_per_application_and_key():
    a = stub_spark("app-a")
    f1, b1 = memo(a, ("k", 1))
    f2, b2 = memo(a, ("k", 1))
    f3, b3 = memo(a, ("k", 2))
    assert (len(b1), len(b2), len(b3)) == (1, 0, 1)
    assert f1 is f2 and f3 is not f1
    f4, b4 = memo(stub_spark("app-b"), ("k", 1))
    assert len(b4) == 1 and f4 is not f1


def test_other_application_evicts_entries():
    memo(stub_spark("app-a"), ("k", 1), scope="graphs")
    memo(stub_spark("app-a"), ("t", 1))
    memo(stub_spark("app-b"), ("k", 1))
    assert [app for app, _ in registry._APP_MEMO] == ["app-b"]


def test_scoped_entry_lives_with_its_family():
    spark = stub_spark("app-a")
    frame, _ = memo(spark, ("k", 1), scope="graphs")
    registry._sweep_caches("graphs")
    assert ("app-a", ("k", 1)) in registry._APP_MEMO
    assert frame.unpersisted == 0
    again, builds = memo(spark, ("k", 1), scope="graphs")
    assert again is frame and not builds

    registry._sweep_caches("tables")
    assert ("app-a", ("k", 1)) not in registry._APP_MEMO
    assert frame.unpersisted == 1
    assert not registry._CACHE_JANITOR


def test_scoped_release_visits_tuple_in_order_and_skips_uncached():
    order = []
    first, second, plain = StubFrame(), StubFrame(), StubFrame()
    first.unpersist = lambda: order.append("first")
    second.unpersist = lambda: order.append("second")
    plain.is_cached = False
    spark = stub_spark("app-a")
    registry.app_memo(spark, "pair", lambda: (first, second), scope="graphs")
    registry.app_memo(spark, "plain", lambda: plain, scope="graphs")
    registry._sweep_caches("sqlfront")
    assert order == ["first", "second"]
    assert plain.unpersisted == 0
    assert not registry._APP_MEMO


def test_unscoped_entry_survives_every_sweep():
    frame, _ = memo(stub_spark("app-a"), ("table", "sf", "events"))
    for family in ("graphs", "sqlfront", ""):
        registry._sweep_caches(family)
    assert ("app-a", ("table", "sf", "events")) in registry._APP_MEMO
    assert frame.unpersisted == 0
    assert not registry._CACHE_JANITOR
