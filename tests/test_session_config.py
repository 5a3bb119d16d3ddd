"""Engine session configuration invariants.

The settings asserted here are load-bearing scale decisions, not
tuning defaults — each one was measured (ROUND4.md / BENCH_SCALING.md)
and regressing it silently would reintroduce a known cliff.
"""

from __future__ import annotations

import inspect


def _builder_configs() -> dict[str, str]:
    """Static read of ``get_spark``'s builder .config(...) pairs — the
    session test must not depend on whatever session pytest already
    created (SparkSession.builder.getOrCreate reuses it)."""
    import re

    from meilisearchcrawler_spark import session

    src = inspect.getsource(session.get_spark)
    return dict(re.findall(r'\.config\("([^"]+)",\s*"?([^")]*)"?\)', src))


def test_parquet_in_pushdown_threshold_pinned():
    """parquet-mr's recursive Or-tree builder stack-overflows at ~10^4
    pushed In-values (measured, BENCH_r04 scan10k probe) — the engine
    session must pin the threshold at the safe default so no engine
    path (or cluster-level override) can ever reach the overflow."""
    cfgs = _builder_configs()
    assert cfgs.get("spark.sql.parquet.pushdown.inFilterThreshold") == "10"


def test_runtime_bloom_filter_injection_disabled():
    """InjectRuntimeFilter burns 0.3-0.5 s of driver CPU per
    join-bearing action on this engine's plans and never fires
    (tracker-measured, round 6: effective count 0 on every engine
    action and all 39 declared queries). The engine owns its Bloom
    prefilters (engine/bloom.py, _present_keys) — the automatic rule
    must stay off so per-round planning stays O(1)-ish."""
    cfgs = _builder_configs()
    assert cfgs.get(
        "spark.sql.optimizer.runtime.bloomFilter.enabled") == "false"


def test_codegen_cache_sized_to_round_plan_diversity():
    """One crawl round generates ~200 distinct codegen units; the
    default 100-entry JVM-global class cache thrashes and recompiles
    ~1,100 classes per crawl (round-6 CodegenMetrics measurement;
    fresh-JVM A/B 24.0/25.2 -> 19.5/19.9 s at 5,000 entries)."""
    cfgs = _builder_configs()
    assert int(cfgs.get("spark.sql.codegen.cache.maxEntries", "0")) >= 5000


def test_aqe_byte_based_coalescing_pinned():
    """Byte-based AQE coalescing (parallelismFirst=false + 16m
    advisory) — kilobyte round frames must coalesce below core count
    (measured 22% of full-crawl wall at local[32], ROUND4.md #2)."""
    cfgs = _builder_configs()
    assert cfgs.get(
        "spark.sql.adaptive.coalescePartitions.parallelismFirst") == "false"
    assert cfgs.get(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes") == "16m"
    assert cfgs.get("spark.sql.adaptive.enabled") == "true"


def test_package_shipped_once_per_application(monkeypatch):
    """A context object's ``id()`` can be reused after it stops; the
    shipped-package set must key on the application id so a new
    application always gets the package zip."""
    import os
    from types import SimpleNamespace

    from meilisearchcrawler_spark import session

    monkeypatch.setattr(session, "_SHIPPED", set())
    shipped: list[str] = []
    sc = SimpleNamespace(applicationId="app-1", addPyFile=shipped.append)
    fake = SimpleNamespace(sparkContext=sc)
    try:
        session.ship_package(fake)
        session.ship_package(fake)
        assert len(shipped) == 1
        sc.applicationId = "app-2"  # same context object, same id()
        session.ship_package(fake)
        assert len(shipped) == 2
    finally:
        for path in shipped:
            os.remove(path)
