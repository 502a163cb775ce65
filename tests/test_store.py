"""The session artifact store: one build per key under threads,
dead-context eviction, and the interpreter-exit cleanup."""

from __future__ import annotations

import os
import threading
import time
from types import SimpleNamespace

import pytest

from algoritmos_etl_spark import store


def _ctx(app_id):
    """A stand-in SparkContext: live until `_jsc` is set to None."""
    return SimpleNamespace(applicationId=app_id, _jsc=object())


@pytest.fixture
def entries(monkeypatch):
    """An empty table, so these tests neither see nor evict the
    session's own artifacts."""
    monkeypatch.setattr(store, "_ENTRIES", {})
    return store._ENTRIES


def test_ctx_memo_builds_once_under_concurrent_callers(spark):
    """Four threads ask for one key while the first build is still
    running (the foreachBatch thread-pool shape): exactly one build."""
    from algoritmos_etl_spark.functions.scalars import ctx_memo

    release = threading.Event()
    builds, results = [], []

    def build():
        builds.append(1)
        release.wait(timeout=10)
        return "v"

    threads = [
        threading.Thread(
            target=lambda: results.append(ctx_memo(("test_store", "once"), build))
        )
        for _ in range(4)
    ]
    for t in threads:
        t.start()
    time.sleep(0.5)  # let every caller reach the memo before the build ends
    release.set()
    for t in threads:
        t.join()
    assert len(builds) == 1
    assert results == ["v"] * 4


def test_concurrent_inserts_while_evicting(entries):
    """Threads insert distinct keys while every access evicts contexts
    that other threads stop: no 'dictionary changed size' error, and
    every live entry survives."""
    errors = []
    live = _ctx("live")

    def worker(t):
        try:
            for i in range(300):
                dead = _ctx(f"dead-{t}-{i}")
                store.value(dead, "n", i, lambda: i)
                dead._jsc = None
                store.value(live, "n", (t, i), lambda: i)
        except Exception as e:
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(t,)) for t in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []
    store.value(live, "n", "last", lambda: 0)  # evicts the last dead ones
    assert all(k[0] == "live" for k in entries)
    assert len(entries) == 4 * 300 + 1


def test_nested_builds_reenter_the_store(entries):
    ctx = _ctx("app")
    outer = store.value(
        ctx, "outer", 1, lambda: store.value(ctx, "inner", 1, lambda: 2) + 1
    )
    assert outer == 3
    assert set(entries) == {("app", "outer", 1), ("app", "inner", 1)}


def test_dead_context_entry_dropped_and_workdir_removed(entries):
    ctx = _ctx("app-a")
    work = store.workdir(
        ctx, "store_test", "sf", lambda w: open(f"{w}/f", "w").close()
    )
    assert os.path.basename(work).startswith("store_test_")
    assert os.path.exists(f"{work}/f")
    assert store.workdir(ctx, "store_test", "sf", None) == work  # no rebuild
    ctx._jsc = None  # the context stops
    assert os.path.exists(work)
    store.value(_ctx("app-b"), "other", 0, lambda: 0)  # next access
    assert not os.path.exists(work)
    assert not any(k[0] == "app-a" for k in entries)


def test_failed_populate_leaves_no_tree_and_no_entry(entries):
    seen = []

    def populate(w):
        seen.append(w)
        raise ValueError("boom")

    with pytest.raises(ValueError):
        store.workdir(_ctx("app"), "store_test", "sf", populate)
    assert not os.path.exists(seen[0])
    assert entries == {}


def test_exit_cleanup_removes_every_workdir(entries):
    a, b = _ctx("app-a"), _ctx("app-b")
    works = [
        store.workdir(a, "store_test", "x", lambda w: None),
        store.workdir(b, "store_test", "x", lambda w: None),
        store.workdir(b, "store_test_2", "y", lambda w: None),
    ]
    store.value(b, "v", 0, lambda: 1)
    assert all(os.path.isdir(w) for w in works)
    store._remove_workdirs()
    assert not any(os.path.exists(w) for w in works)
    assert entries == {}
