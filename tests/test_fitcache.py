"""The one per-(session, dataset) cache: its key rule
``(applicationId, sf_dir, name, *params)``, its scope-LRU bound (whole
datasets a long-lived driver has moved past are shed, their blocks
unpersisted on evict), and the scale_probe purge path (plain .clear()).
"""

import os
import sys
from types import SimpleNamespace

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from drive_health_etl_spark.operators import fitcache
from drive_health_etl_spark.operators.fitcache import FitCache, dataset_cached


class FakeDF:
    def __init__(self):
        self.persisted = True

    def unpersist(self):
        self.persisted = False


def test_scope_lru_evicts_oldest_scope_and_unpersists():
    c = FitCache(max_scopes=2)
    a1, a2, b1, c1 = FakeDF(), FakeDF(), FakeDF(), FakeDF()
    c.get_or_build(("app", "sfA", "x"), lambda: a1)
    c.get_or_build(("app", "sfA", "y"), lambda: a2)
    c.get_or_build(("app", "sfB", "x"), lambda: b1)
    assert a1.persisted and a2.persisted and b1.persisted
    # third scope: sfA (oldest) evicts wholesale, both entries unpersisted
    c.get_or_build(("app", "sfC", "x"), lambda: c1)
    assert not a1.persisted and not a2.persisted
    assert b1.persisted and c1.persisted
    assert ("app", "sfA", "x") not in c and ("app", "sfA", "y") not in c
    assert ("app", "sfB", "x") in c and ("app", "sfC", "x") in c


def test_touch_refreshes_lru_order():
    c = FitCache(max_scopes=2)
    a, b, d = FakeDF(), FakeDF(), FakeDF()
    c.get_or_build(("app", "sfA", "x"), lambda: a)
    c.get_or_build(("app", "sfB", "x"), lambda: b)
    # re-touch sfA: sfB becomes the LRU scope
    c.get_or_build(("app", "sfA", "x"), lambda: FakeDF())
    c.get_or_build(("app", "sfC", "x"), lambda: d)
    assert a.persisted and not b.persisted and d.persisted


def test_eviction_survives_unpersist_errors():
    class Dead:
        def unpersist(self):
            raise RuntimeError("session stopped")

    c = FitCache(max_scopes=1)
    c.get_or_build(("app", "sfA", "x"), lambda: Dead())
    fresh = FakeDF()
    c.get_or_build(("app", "sfB", "x"), lambda: fresh)  # must not raise
    assert list(c) == [("app", "sfB", "x")]
    assert fresh.persisted


def test_composite_tuple_values_unpersist_each_element():
    # graph's node-set cache stores (DataFrame, count) pairs; eviction must
    # free the DataFrame's blocks despite the tuple wrapper
    c = FitCache(max_scopes=1)
    df = FakeDF()
    c.get_or_build(("app", "sfA", "nodes"), lambda: (df, 42))
    c.get_or_build(("app", "sfB", "x"), lambda: FakeDF())
    assert not df.persisted


def test_non_unpersistable_values_are_just_dropped():
    c = FitCache(max_scopes=1)
    c.get_or_build(("app", "sfA"), lambda: [1.0, 2.0])  # plain fit weights
    c.get_or_build(("app", "sfB"), lambda: [3.0])
    assert ("app", "sfA") not in c


def test_custom_scope_extractor():
    # The fixed key order puts the artifact name and its params AFTER
    # (appId, sf_dir), so two codecs of one dataset share a scope and a
    # codec parameter never splits one dataset into two scopes.
    c = FitCache(max_scopes=1)
    png, gif, jpeg, png2 = FakeDF(), FakeDF(), FakeDF(), FakeDF()
    c.get_or_build(("app", "sfA", "png"), lambda: png)
    c.get_or_build(("app", "sfA", "gif"), lambda: gif)
    c.get_or_build(("app", "sfA", "jpeg", 2, 0), lambda: jpeg)
    assert png.persisted and gif.persisted and jpeg.persisted  # one scope
    c.get_or_build(("app", "sfB", "png"), lambda: png2)
    assert not png.persisted and not gif.persisted and not jpeg.persisted
    assert png2.persisted


def test_clear_drops_without_unpersist_for_session_recycle():
    # scale_probe recycles sessions and purges *_CACHE dicts via .clear();
    # the handles belong to a dead JVM, so clear must NOT call unpersist
    c = FitCache(max_scopes=4)

    class Boom:
        def unpersist(self):
            raise AssertionError("clear must not unpersist")

    c.get_or_build(("app", "sfA"), lambda: Boom())
    c.clear()
    assert len(c) == 0
    # and the LRU order reset: refilling works from scratch
    fresh = FakeDF()
    c.get_or_build(("app", "sfB"), lambda: fresh)
    assert ("app", "sfB") in c


def test_delete_drops_empty_scope_from_lru_order():
    # ADVICE r9: plain deletion must not leave a dead scope occupying an
    # LRU slot — after removing a scope's last key, a full complement of
    # NEW scopes must fit without evicting a live one.
    c = FitCache(max_scopes=2)
    a, b, d = FakeDF(), FakeDF(), FakeDF()
    c.get_or_build(("app", "sfA", "x"), lambda: a)
    c.get_or_build(("app", "sfB", "x"), lambda: b)
    del c[("app", "sfA", "x")]
    assert c._scope_order == [("app", "sfB")]
    c.get_or_build(("app", "sfC", "x"), lambda: d)
    assert b.persisted and d.persisted  # sfB survived: sfA's slot was freed
    # pop maintains the order list the same way (and returns the value)
    assert c.pop(("app", "sfB", "x")) is b
    assert c._scope_order == [("app", "sfC")]
    assert c.pop(("missing",), "dflt") == "dflt"


def test_delete_keeps_scope_while_siblings_remain():
    c = FitCache(max_scopes=2)
    c.get_or_build(("app", "sfA", "x"), lambda: FakeDF())
    c.get_or_build(("app", "sfA", "y"), lambda: FakeDF())
    del c[("app", "sfA", "x")]
    assert c._scope_order == [("app", "sfA")]  # sibling still lives


def test_purge_unpersists_and_maintains_order():
    # the per-family test reset path: purge(lambda k: k[2] == name)
    c = FitCache(max_scopes=4)
    old1, old2, live = FakeDF(), FakeDF(), FakeDF()
    c.get_or_build(("app1", "sfA", "png"), lambda: old1)
    c.get_or_build(("app1", "sfA", "gif"), lambda: old2)
    c.get_or_build(("app2", "sfA", "png"), lambda: live)
    n = c.purge(lambda k: k[0] != "app2")
    assert n == 2
    assert not old1.persisted and not old2.persisted and live.persisted
    assert list(c) == [("app2", "sfA", "png")]
    assert c._scope_order == [("app2", "sfA")]


def test_concurrent_touch_and_build_is_race_free():
    # ADVICE r9 (medium): rehearsal pools hit the module-global caches from
    # 6+ threads; unsynchronized check-then-remove raced (ValueError /
    # RuntimeError). Hammer one cache from many threads across overlapping
    # scopes and assert zero exceptions and exact bookkeeping.
    import threading

    c = FitCache(max_scopes=3)
    errors = []
    barrier = threading.Barrier(8)

    def worker(tid):
        try:
            barrier.wait()
            for i in range(300):
                scope = f"sf{(tid + i) % 6}"
                c.get_or_build(("app", scope, i % 4), lambda: FakeDF())
                if i % 7 == 0:
                    c.pop(("app", scope, i % 4), None)
                if i % 11 == 0:
                    c.purge(lambda k: k[1] == f"sf{(tid + i + 3) % 6}")
        except Exception as e:  # pragma: no cover - failure path
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(t,)) for t in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # switch threads often: widen race windows
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    with c._lock:
        live_scopes = {fitcache._scope(k) for k in c}
        assert len(c._scope_order) <= 3
        assert live_scopes <= set(c._scope_order)
        assert len(set(c._scope_order)) == len(c._scope_order)


def test_get_or_build_race_keeps_first_value():
    # two threads missing the same key concurrently: exactly one value is
    # retained; the loser's fresh DataFrame is unpersisted, not leaked
    import threading

    c = FitCache(max_scopes=4)
    built = []
    gate = threading.Barrier(2)

    def build():
        df = FakeDF()
        built.append(df)
        gate.wait()  # force both threads to finish building before storing
        return df

    threads = [
        threading.Thread(
            target=lambda: c.get_or_build(("app", "sfA", "k"), build))
        for _ in range(2)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(built) == 2
    winner = c[("app", "sfA", "k")]
    assert winner in built
    loser = built[0] if built[1] is winner else built[1]
    assert winner.persisted and not loser.persisted


def test_dedup_subtree_cache_sweep_frees_old_blocks(spark, monkeypatch):
    """End-to-end through dataset_cached with real persisted DataFrames:
    sweeping a second sf_dir past the scope bound unpersists the first
    dataset's subtree. A one-scope stand-in for the module's cache keeps
    the suite's live entries out of the sweep."""
    monkeypatch.setattr(fitcache, "_CACHE", FitCache(max_scopes=1))
    df1 = dataset_cached(spark, "/fake/dirA", "probe", lambda: spark.range(10).persist())
    assert df1.storageLevel.useMemory  # persisted while its scope lives
    df2 = dataset_cached(spark, "/fake/dirB", "probe", lambda: spark.range(20).persist())
    assert not df1.storageLevel.useMemory  # evicted AND unpersisted
    assert df2.storageLevel.useMemory
    assert len(fitcache._CACHE) == 1
    df2.unpersist()


def test_get_or_build_reregisters_scope_evicted_during_build():
    """ADVICE r10: touch() runs before the build, so concurrent touches can
    evict the building scope mid-build; the store must re-register the
    scope (and re-apply the bound) so dict contents and _scope_order never
    diverge and the entry stays under LRU control."""
    c = FitCache(max_scopes=2)

    def build():
        # while "sfA" builds, two other scopes touch in and evict it
        c.touch(("app", "sfB", "k"))
        c.touch(("app", "sfC", "k"))
        assert ("app", "sfA") not in c._scope_order
        return FakeDF()

    v = c.get_or_build(("app", "sfA", "k"), build)
    with c._lock:
        # stored entry's scope is back in the LRU list...
        assert ("app", "sfA") in c._scope_order
        # ...the bound still holds (oldest of B/C was evicted to make room)
        assert len(c._scope_order) <= 2
        assert {fitcache._scope(k) for k in c} <= set(c._scope_order)
    assert c[("app", "sfA", "k")] is v
    # and a later scope storm can actually evict it (it is LRU-tracked)
    e1, e2 = FakeDF(), FakeDF()
    c.get_or_build(("app", "sfD", "k"), lambda: e1)
    c.get_or_build(("app", "sfE", "k"), lambda: e2)
    assert ("app", "sfA", "k") not in c
    assert not v.persisted


def _fake_spark(app="app"):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app))


def test_two_names_on_one_dataset_get_distinct_entries(monkeypatch):
    # e.g. the graph edge list and the support-pair relation: one dataset,
    # two artifacts — each must get its own value, never the other's
    monkeypatch.setattr(fitcache, "_CACHE", FitCache())
    spark = _fake_spark()
    edges = dataset_cached(spark, "sfA", "pr_edges", lambda: "edges")
    support = dataset_cached(spark, "sfA", "support_pairs", lambda: "support")
    assert (edges, support) == ("edges", "support")
    assert dataset_cached(spark, "sfA", "pr_edges", lambda: "rebuilt") == "edges"
    assert set(fitcache._CACHE) == {
        ("app", "sfA", "pr_edges"), ("app", "sfA", "support_pairs")}


def test_params_get_distinct_entries(monkeypatch):
    # the centroid fit at two cell counts k: params are part of the key
    monkeypatch.setattr(fitcache, "_CACHE", FitCache())
    spark = _fake_spark()
    c16 = dataset_cached(spark, "sfA", "centroids", lambda: ["k16"], 16)
    c32 = dataset_cached(spark, "sfA", "centroids", lambda: ["k32"], 32)
    assert c16 == ["k16"] and c32 == ["k32"]
    assert dataset_cached(spark, "sfA", "centroids", lambda: ["new"], 16) is c16
    assert set(fitcache._CACHE) == {
        ("app", "sfA", "centroids", 16), ("app", "sfA", "centroids", 32)}


def test_sessions_never_share_entries(monkeypatch):
    monkeypatch.setattr(fitcache, "_CACHE", FitCache())
    a = dataset_cached(_fake_spark("app1"), "sfA", "sigs", lambda: "from app1")
    b = dataset_cached(_fake_spark("app2"), "sfA", "sigs", lambda: "from app2")
    assert (a, b) == ("from app1", "from app2")


def test_exactly_one_fitcache_in_package():
    """Every family shares the one module-level cache. The walk is the one
    the benchmark's cache-build counter uses: a second module binding a
    FitCache (even the same object) would be counted twice."""
    import drive_health_etl_spark.plans.registry  # noqa: F401 — loads every family

    found = [
        f"{mod.__name__}.{attr}"
        for mod in list(sys.modules.values())
        if getattr(mod, "__name__", "").startswith("drive_health_etl_spark")
        for attr, obj in list(vars(mod).items())
        if isinstance(obj, FitCache)
    ]
    assert found == ["drive_health_etl_spark.operators.fitcache._CACHE"]


def test_purge_resets_one_family_only(monkeypatch):
    monkeypatch.setattr(fitcache, "_CACHE", FitCache())
    spark = _fake_spark()
    sigs, merges = FakeDF(), FakeDF()
    dataset_cached(spark, "sfA", "sigs", lambda: sigs)
    dataset_cached(spark, "sfA", "bpe_merges", lambda: merges)
    assert fitcache.purge(lambda k: k[2] == "bpe_merges") == 1
    assert not merges.persisted and sigs.persisted
    assert list(fitcache._CACHE) == [("app", "sfA", "sigs")]
