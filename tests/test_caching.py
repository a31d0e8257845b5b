"""Bounded session-cache behavior (big_data_analysis_of_airline_data_set_spark.caching) — round-3
advice: per-session caches must not grow without bound in a long-lived
server session cycling many sf_dirs."""

from __future__ import annotations

import pytest

from big_data_analysis_of_airline_data_set_spark.caching import BoundedCache


def test_lru_eviction_order_and_bound():
    evicted = []
    c = BoundedCache(3, on_evict=lambda k, v: evicted.append(k))
    for i in range(3):
        c.put(i, str(i))
    c.get(0)  # refresh 0 → next eviction must pick 1
    c.put(3, "3")
    assert evicted == [1]
    assert len(c) == 3
    assert 0 in c and 2 in c and 3 in c


def test_put_existing_key_refreshes_not_grows():
    c = BoundedCache(2)
    c.put("a", 1)
    c.put("b", 2)
    c.put("a", 10)  # refresh, not insert
    assert len(c) == 2
    c.put("c", 3)  # evicts b (oldest), not a
    assert "a" in c and "c" in c and "b" not in c
    assert c.get("a") == 10


def test_clear_runs_evict_callback_for_all():
    evicted = []
    c = BoundedCache(5, on_evict=lambda k, v: evicted.append((k, v)))
    c.put("x", 1)
    c.put("y", 2)
    c.clear()
    assert sorted(evicted) == [("x", 1), ("y", 2)]
    assert len(c) == 0


def test_rejects_nonpositive_bound():
    with pytest.raises(ValueError):
        BoundedCache(0)


def _package_modules():
    """Import and return every module of the package."""
    import importlib
    import pkgutil

    import big_data_analysis_of_airline_data_set_spark as pkg

    return [
        importlib.import_module(info.name)
        for info in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + ".")
    ]


def test_module_caches_are_bounded():
    """Every module-level session cache is a BoundedCache, so cycling
    many sf_dirs cannot grow any of them past its cap."""
    found = {
        f"{mod.__name__}.{name}": value
        for mod in _package_modules()
        for name, value in vars(mod).items()
        if name.endswith("_CACHE")
    }
    assert len(found) >= 11
    loose = [name for name, value in found.items() if not isinstance(value, BoundedCache)]
    assert not loose, f"module-level caches that are not BoundedCache: {loose}"


def test_schema_verdict_cache_bounded_across_many_dirs():
    from big_data_analysis_of_airline_data_set_spark.sources.readers import _SCHEMA_VERDICT_CACHE

    cap = _SCHEMA_VERDICT_CACHE.max_entries
    for i in range(cap * 3):
        _SCHEMA_VERDICT_CACHE.put(("app", f"/fake/sf{i}/lineitem.parquet"), "pin")
    assert len(_SCHEMA_VERDICT_CACHE) <= cap


def test_call_scoped_dirs_leave_no_leftovers(spark, sf_dir, tmp_path, monkeypatch):
    """A stream drain and a sink round-trip own their scratch dirs for
    the call only: with the temp root pointed at tmp_path, no ckpt-* or
    sink_* dir is left once each returns, and both results still read."""
    import os
    import tempfile

    from big_data_analysis_of_airline_data_set_spark.plans.events_queries import (
        _landed_events_dir,
    )
    from big_data_analysis_of_airline_data_set_spark.plans.patterns import (
        q_sink_report_csv_roundtrip,
    )
    from big_data_analysis_of_airline_data_set_spark.streaming.jobs import (
        run_tumbling_stream_available_now,
    )

    landed = _landed_events_dir(spark, sf_dir)  # session-scoped: outside tmp_path
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    assert q_sink_report_csv_roundtrip(spark, sf_dir).count() > 0
    drained = run_tumbling_stream_available_now(
        spark, landed, query_name="scoped_ckpt_check", max_files_per_trigger=None
    )
    assert drained.count() > 0
    left = [p for p in os.listdir(tmp_path) if p.startswith(("ckpt-", "sink_"))]
    assert not left, left


def test_clear_all_empties_every_cache_and_fires_hooks(tmp_path, monkeypatch):
    import weakref

    from big_data_analysis_of_airline_data_set_spark import caching

    # a private registry, so the package's own session caches survive
    monkeypatch.setattr(caching, "_CACHES", weakref.WeakSet())
    owned = tmp_path / "owned"
    owned.mkdir()
    dirs = BoundedCache(2, on_evict=caching.remove_dir)
    dirs.put("k", str(owned))
    seen = []
    plain = BoundedCache(2, on_evict=lambda k, v: seen.append(k))
    plain.put("a", 1)
    caching.clear_all()
    assert len(dirs) == 0 and len(plain) == 0
    assert not owned.exists()
    assert seen == ["a"]


def test_unpersist_quietly_swallows_release_errors():
    """An entry can outlive its session; releasing it must not raise."""
    from big_data_analysis_of_airline_data_set_spark.caching import unpersist_quietly

    class StaleFrame:
        def unpersist(self):
            raise RuntimeError("SparkContext was shut down")

    unpersist_quietly("k", StaleFrame())
    unpersist_quietly("k", (StaleFrame(), 42))


def test_get_or_build_builds_once_per_key():
    c = BoundedCache(2)
    calls = []
    for _ in range(3):
        assert c.get_or_build("k", lambda: calls.append(1) or "v") == "v"
    assert calls == [1]


def test_resource_lifetimes_have_one_owner():
    """Guard: interpreter-exit cleanup is registered only by caching.py,
    and no module-level ``X = None`` is later rebound to a BoundedCache
    through ``global`` (caches are built at import)."""
    import ast
    import os

    import big_data_analysis_of_airline_data_set_spark as pkg

    root = os.path.dirname(pkg.__file__)
    offenders = []
    for dirpath, _, files in os.walk(root):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            rel = os.path.relpath(path, root)
            with open(path) as fh:
                tree = ast.parse(fh.read())
            for node in ast.walk(tree):
                if isinstance(node, ast.Import):
                    names = [a.name for a in node.names]
                elif isinstance(node, ast.ImportFrom):
                    names = [node.module or ""]
                else:
                    continue
                if "atexit" in names and rel != "caching.py":
                    offenders.append(f"{rel}:{node.lineno} imports atexit")
            none_globals = set()
            for node in tree.body:
                targets = (
                    node.targets if isinstance(node, ast.Assign)
                    else [node.target] if isinstance(node, ast.AnnAssign)
                    else []
                )
                value = getattr(node, "value", None)
                if isinstance(value, ast.Constant) and value.value is None:
                    none_globals |= {t.id for t in targets if isinstance(t, ast.Name)}
            for fn in ast.walk(tree):
                if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    continue
                declared = {
                    n for g in ast.walk(fn) if isinstance(g, ast.Global) for n in g.names
                }
                for node in ast.walk(fn):
                    if not (isinstance(node, ast.Assign) and isinstance(node.value, ast.Call)):
                        continue
                    func = node.value.func
                    callee = func.id if isinstance(func, ast.Name) else getattr(func, "attr", "")
                    rebound = {
                        t.id for t in node.targets if isinstance(t, ast.Name)
                    } & declared & none_globals
                    if callee == "BoundedCache" and rebound:
                        offenders.append(f"{rel}:{node.lineno} lazily builds {rebound}")
    assert not offenders, offenders


def test_rejects_none_values():
    import pytest as _pytest

    c = BoundedCache(2)
    with _pytest.raises(ValueError, match="None"):
        c.put("k", None)


def test_plan_pin_reuses_identical_plan_and_swaps(spark):
    """PlanPin: plan-identical frames share one Spark cache entry, so
    pin() must hand back the existing pin (not evict it); a different
    plan swaps; release() through the pin leaves nothing dangling."""
    from big_data_analysis_of_airline_data_set_spark.caching import PlanPin

    pin = PlanPin()
    df1 = spark.range(100).selectExpr("id", "id * 2 as v")
    df2 = spark.range(100).selectExpr("id", "id * 3 as v")

    a = pin.pin(df1)
    a.count()
    assert a.storageLevel.useMemory
    # plan-identical frame (fresh object): reuse, still cached
    b = pin.pin(spark.range(100).selectExpr("id", "id * 2 as v"))
    assert b is a
    assert a.storageLevel.useMemory and len(pin) == 1
    # different plan: swap, old released
    c = pin.pin(df2)
    assert c is not a and len(pin) == 1
    assert not a.storageLevel.useMemory
    # release through the pin
    pin.release(c)
    assert len(pin) == 0 and not c.storageLevel.useMemory


def test_plan_pin_release_of_unpinned_twin_is_noop(spark):
    """Round-10 advice: release() of a plan-identical TWIN of the
    pinned frame must not unpersist — the two share one CacheManager
    entry owned by the pin, and unpersisting the twin would evict it
    out from under the pin (silent recompute). A genuinely different
    frame still unpersists normally."""
    from big_data_analysis_of_airline_data_set_spark.caching import PlanPin

    pin = PlanPin()
    a = pin.pin(spark.range(50).selectExpr("id", "id * 7 as v"))
    a.count()
    assert a.storageLevel.useMemory
    twin = spark.range(50).selectExpr("id", "id * 7 as v")
    pin.release(twin)  # NOT the pinned object — must be a no-op
    assert len(pin) == 1 and a.storageLevel.useMemory
    other = spark.range(50).selectExpr("id", "id * 9 as v").persist()
    other.count()
    pin.release(other)  # different plan: releases normally
    assert not other.storageLevel.useMemory
    assert len(pin) == 1 and a.storageLevel.useMemory
    pin.release(a)
    assert len(pin) == 0 and not a.storageLevel.useMemory


def test_one_session_per_process_discipline(spark):
    """Pins the discipline that makes caching.unpersist_quietly's
    plan-identity caveat unreachable (evicting an
    OLD session's cache entry whose canonical plan matches a LIVE
    session's twin would evict the live entry too, because Spark's
    CacheManager is shared across sessions of one SparkContext and
    keys by canonical plan). Two guarantees: (1) get_session() can
    never mint a second concurrent session — getOrCreate() hands back
    the one active session; (2) no library code calls newSession(),
    the only API that could create a concurrent sibling."""
    import glob
    import os

    from pyspark.sql import SparkSession

    from big_data_analysis_of_airline_data_set_spark.session import get_session

    s1 = get_session("discipline-probe")
    s2 = get_session("discipline-probe-2")
    assert s1 is s2 is spark
    assert SparkSession.getActiveSession() is spark

    pkg = os.path.dirname(
        os.path.dirname(os.path.abspath(get_session.__code__.co_filename))
    )
    offenders = []
    for path in glob.glob(
        os.path.join(pkg, "big_data_analysis_of_airline_data_set_spark", "**", "*.py"),
        recursive=True,
    ):
        with open(path) as fh:
            if ".newSession(" in fh.read():
                offenders.append(path)
    assert not offenders, f"newSession() would break the discipline: {offenders}"
