"""Lifecycle semantics of the scoped materialization registry (an
operator that raises mid-build must not pin frames for later queries,
nested composition must never release a caller's live caches, and a
query's checkpoints end with its scope), plus the guard that keeps
operators/_cache.py the only place that materializes."""

from __future__ import annotations

import re
from pathlib import Path

import pytest

from apache_iceberg_with_clickhouse_olake_spark.operators import registry
from apache_iceberg_with_clickhouse_olake_spark.operators._cache import (
    cache_scope,
    checkpoint_tracked,
    finalize,
    keep_lineage,
    persist_tracked,
    release_caches,
    scoped,
)


def _is_cached(df) -> bool:
    return df.storageLevel.useMemory or df.storageLevel.useDisk


def test_exception_in_scope_releases_its_caches(spark):
    df = spark.range(10)
    with pytest.raises(RuntimeError):
        with cache_scope():
            persist_tracked(df)
            assert _is_cached(df)
            raise RuntimeError("mid-build failure")
    assert not _is_cached(df)


def test_nested_scope_cannot_release_outer_caches(spark):
    outer = spark.range(5)
    inner = spark.range(7)
    with cache_scope():
        persist_tracked(outer)
        with cache_scope():
            persist_tracked(inner)
            # the inner op's mid-op release (the streaming trainer
            # idiom) must drain only ITS scope
            release_caches()
            assert not _is_cached(inner)
            assert _is_cached(outer)
        assert _is_cached(outer)
    assert not _is_cached(outer)


def test_finalize_releases_current_scope_even_on_failed_collect(spark):
    from pyspark.sql import functions as F

    df = spark.range(4)
    with cache_scope():
        persist_tracked(df)
        bad = df.select(
            F.assert_true(F.col("id") < 2).alias("x")
        )
        with pytest.raises(Exception):
            finalize(spark, bad)
        assert not _is_cached(df)


def test_scoped_decorator_wraps_a_query_fn(spark):
    captured = {}

    @scoped
    def op(spark, sf_dir):
        df = spark.range(3)
        captured["df"] = persist_tracked(df)
        return finalize(spark, df)

    out = op(spark, "unused")
    assert out.count() == 3
    assert not _is_cached(captured["df"])
    # the finalized frame is rebuilt from local rows: still valid here
    assert out.count() == 3


def _persistent_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def test_scope_exit_releases_its_checkpoints(spark):
    with cache_scope():
        cp = checkpoint_tracked(spark.range(6), eager=True)
        rdd_id = cp._jdf.queryExecution().logical().rdd().id()
        assert rdd_id in _persistent_ids(spark)
        with keep_lineage():
            df = spark.range(3)
            assert checkpoint_tracked(df) is df
    assert rdd_id not in _persistent_ids(spark)
    # a cut frame read after its scope fails loudly, never silently
    with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
        cp.collect()


@pytest.mark.parametrize(
    "name",
    [
        "bpe_heldout_compression",
        "bpe_learn_merges",
        "greedy_kcenter_sample",
        "semantic_dedup_cascade_stats",
    ],
)
def test_scoped_query_leaves_no_persistent_rdds(spark, sf_dir, name):
    """The iterative and multi-consumer queries checkpoint every round;
    once collected, none of those RDDs may outlive the query. Compared
    by id, so the ContextCleaner reclaiming an unrelated RDD meanwhile
    cannot mask a leak."""
    before = _persistent_ids(spark)
    registry.all_queries()[name](spark, sf_dir).collect()
    assert _persistent_ids(spark) - before == set()


_OPERATORS = Path(registry.__file__).parent
_MATERIALIZE = re.compile(r"\.(localCheckpoint|checkpoint|persist|cache)\(")


def test_operators_materialize_only_through_cache_module():
    """One materialization policy: every persist or lineage cut goes
    through _cache (persist_tracked / checkpoint_tracked), so its
    lifetime is bounded by the query scope; and no per-call option
    turns a cut off (keep_lineage is the one test seam)."""
    hits = []
    for path in sorted(_OPERATORS.glob("*.py")):
        for no, line in enumerate(path.read_text().splitlines(), 1):
            raw = path.name != "_cache.py" and _MATERIALIZE.search(line)
            if raw or "lineage_cut" in line:
                hits.append(f"{path.name}:{no}: {line.strip()}")
    assert not hits, "\n".join(hits)
