"""The one materialization policy: every operator that keeps data in
Spark's block store goes through this module (a guard test fails on
``.persist(``, ``.cache(``, ``.localCheckpoint(`` or ``.checkpoint(``
anywhere else under ``operators/``).

- :func:`persist_tracked` keeps lineage: for an input that later stages
  re-read (a k-means training frame, a PCA basis). A lost block is
  recomputed.
- :func:`checkpoint_tracked` cuts lineage (``localCheckpoint``): for a
  self-referencing loop, whose step i reads step i-1 more than once
  (BPE merges, greedy k-center, label propagation) so the un-cut plan
  doubles per round; and for a superstep with several consumers, whose
  upstream would otherwise be re-planned and re-run per consumer.

Both record what they materialized in the innermost scope of a stack,
and draining a scope unpersists all of it. Spark never unpersists on
its own, and its CacheManager substitutes a leaked InMemoryRelation
into any later plan that matches it.

- :func:`cache_scope` drains its scope on exit, even on an exception,
  and a nested op drains only its own scope, never its caller's.
- :func:`scoped` runs a query fn ``(spark, sf_dir) -> DataFrame`` in
  its own scope, so it must collect before returning: :func:`finalize`
  collects the small result, drains the scope (in a ``finally``) and
  returns a frame rebuilt from the local rows. A checkpointed frame
  read after its scope drained fails loudly
  (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND).
- Base-scope rule: whatever is materialized outside any scope (a
  lazily returned, unscoped query; a plan test building a frame
  directly) stays until :func:`release_caches` runs there. Checkpoints are recorded by
  RDD id, not py4j handle, so the base scope pins no JVM object and
  Spark's ContextCleaner still reclaims an unscoped checkpoint once its
  frame is garbage.

:func:`keep_lineage` is a test seam: inside it, checkpoint_tracked
returns its input unchanged, so a plan test sees what a cut hides.

Queries execute sequentially per Spark session, so module-level state
is safe here.
"""

from __future__ import annotations

import functools
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession

# A scope holds persisted frames and (context, rdd id) checkpoint pairs.
_SCOPES: list[list[DataFrame | tuple[SparkContext, int]]] = [[]]
_keep_lineage = False


def persist_tracked(df: DataFrame) -> DataFrame:
    """persist() tracked in the innermost live scope; see module doc."""
    df = df.persist()
    _SCOPES[-1].append(df)
    return df


def checkpoint_tracked(df: DataFrame, eager: bool = False) -> DataFrame:
    """localCheckpoint() tracked by RDD id in the innermost live scope;
    see module doc."""
    if _keep_lineage:
        return df
    df = df.localCheckpoint(eager=eager)
    rdd_id = df._jdf.queryExecution().logical().rdd().id()
    _SCOPES[-1].append((df.sparkSession.sparkContext, rdd_id))
    return df


@contextmanager
def keep_lineage() -> Iterator[None]:
    """Test seam: checkpoint_tracked is the identity inside the block."""
    global _keep_lineage
    prev, _keep_lineage = _keep_lineage, True
    try:
        yield
    finally:
        _keep_lineage = prev


def _drain(scope: list) -> None:
    while scope:
        item = scope.pop()
        if isinstance(item, DataFrame):
            item.unpersist()
            continue
        sc, rdd_id = item
        rdd = sc._jsc.getPersistentRDDs().get(rdd_id)
        if rdd is not None:  # None: the ContextCleaner got there first
            rdd.unpersist(False)


def release_caches() -> None:
    """Unpersist everything tracked by the CURRENT scope."""
    _drain(_SCOPES[-1])


@contextmanager
def cache_scope() -> Iterator[None]:
    """Push a fresh tracking scope; drain it on exit (even on
    exception), leaving enclosing scopes' materializations untouched."""
    _SCOPES.append([])
    try:
        yield
    finally:
        _drain(_SCOPES.pop())


def scoped(fn: Callable[..., DataFrame]) -> Callable[..., DataFrame]:
    """Decorator: run the query fn inside its own :func:`cache_scope`."""

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with cache_scope():
            return fn(*args, **kwargs)

    return wrapper


def finalize(spark: SparkSession, out: DataFrame) -> DataFrame:
    """Materialize the small result rows, release the current scope's
    tracked materializations (in a ``finally`` -- a failed collect must
    not pin them either), and return a frame rebuilt from the local
    rows."""
    try:
        rows = out.collect()
    finally:
        release_caches()
    return spark.createDataFrame(rows, out.schema)
