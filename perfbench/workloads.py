"""The three closed-loop workloads, driven through the engine's public
functions.

Each workload has ``make_inputs`` (the seeded input files, written once
and not timed: generating them is the benchmark's work, not the
engine's), ``prepare`` (what a user would materialise from the inputs
before querying, timed as set-up), ``warm_up`` (the first, cold calls), a
sequence of measured *units* of operations, and ``check`` (oracles run
after the loop). Every operation runs inside an ``op`` span. In a traced
unit each call into a layer also gets Spark's counters for its window;
untraced units record only the op spans the end-to-end metrics need.
"""

from __future__ import annotations

import os
import sys
import time
import traceback
from collections.abc import Callable, Iterator
from contextlib import contextmanager, nullcontext

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from apache_iceberg_with_clickhouse_olake_spark.functions import dsum, dsum_sql
from apache_iceberg_with_clickhouse_olake_spark.operators import registry
from apache_iceberg_with_clickhouse_olake_spark.operators.cdc import apply_cdc_upsert
from apache_iceberg_with_clickhouse_olake_spark.operators.medallion import (
    build_gold,
    build_silver,
    write_layer,
)
from apache_iceberg_with_clickhouse_olake_spark.sources import parquet
from apache_iceberg_with_clickhouse_olake_spark.sources.lake import (
    read_snapshot,
    write_snapshot,
)
from apache_iceberg_with_clickhouse_olake_spark.streaming import (
    CDC_EVENT_SCHEMA,
    run_cdc_upsert_stream,
)
from perfbench import catalog, datagen
from perfbench.checks import Oracle, digest
from perfbench.trace import SparkCounters, Tracer, catalyst_ms, median, tail

PKG = "apache_iceberg_with_clickhouse_olake_spark"


class Ctx:
    """Run-wide state handed to every workload."""

    def __init__(self, spark, seed: int, work: str, trace: bool, cpus: int):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.trace = trace
        self.cpus = cpus
        self.tracer = Tracer()
        self.counters = SparkCounters(spark) if trace else None
        self.tracing = False  # True inside a traced unit
        self.failures: list[str] = []
        self.attempted = 0

    def fail(self, what: str) -> None:
        self.failures.append(what)
        print(f"FAIL {what}", file=sys.stderr, flush=True)

    @contextmanager
    def layer(self, name: str, python: bool = False, **attrs) -> Iterator:
        """A span around one call into a layer; traced, it also carries
        the Spark counters of the jobs the call started (and, with
        ``python``, the Python-boundary SQL metrics)."""
        if self.tracing:
            self.counters.mark()
        with self.tracer.span(name, **attrs) as sp:
            yield sp
        if self.tracing:
            sp.attrs["window"] = self.counters.collect(python)

    def query(self, shape: str, build: Callable) -> tuple[list[str], list]:
        """Build a DataFrame fresh and collect it, as one ``q`` span."""
        python = shape in catalog.CORPUS_SHAPES
        with self.layer("q", python=python, shape=shape) as sp:
            with self.tracer.span("build"):
                df = build()
            with self.tracer.span("collect"):
                rows = df.collect()
        if self.tracing:
            sp.attrs["catalyst_ms"] = catalyst_ms(df)
            sp.attrs["persistent_rdds"] = self.counters.persistent_rdds()
        sp.attrs["result"] = (df.columns, rows)
        return df.columns, rows

    def op(self, shape: str, fn: Callable, measured: bool):
        """One closed-loop operation. Returns fn's result, or None when it
        raised (counted as a failed operation)."""
        self.attempted += 1
        with self.tracer.span(
            "op", shape=shape, measured=measured, traced=self.tracing
        ) as sp:
            try:
                return fn()
            except Exception as exc:  # a failed op is counted, the loop goes on
                sp.attrs["error"] = f"{type(exc).__name__}: {exc}"
                self.fail(f"{shape}: {sp.attrs['error'][:300]}")
                traceback.print_exc(file=sys.stderr)
                return None

    def check(self, what: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.fail(f"check {what}")


@contextmanager
def spans_around_load_table(tracer: Tracer) -> Iterator[None]:
    """Give every ``sources.parquet.load_table`` call a span, by rebinding
    the name in each engine module that imported it."""
    orig = parquet.load_table

    def load_table(*args, **kwargs):
        with tracer.span("sources.load_table"):
            return orig(*args, **kwargs)

    mods = [
        m for name, m in list(sys.modules.items())
        if name.startswith(PKG) and getattr(m, "load_table", None) is orig
    ]
    for m in mods:
        m.load_table = load_table
    try:
        yield
    finally:
        for m in mods:
            m.load_table = orig


def du(path: str) -> tuple[int, int]:
    """(bytes, parquet files) under a path."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return total, files


def parquet_rows(path: str) -> int:
    return sum(
        pq.read_metadata(os.path.join(path, n)).num_rows
        for n in os.listdir(path)
        if n.endswith(".parquet")
    )


def _batches_committed(commits_dir: str) -> int:
    """Micro-batches a streaming checkpoint has committed."""
    if not os.path.isdir(commits_dir):
        return 0
    return sum(n.isdigit() for n in os.listdir(commits_dir))


class Workload:
    name = ""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx

    def make_inputs(self, data_dir: str) -> None:
        raise NotImplementedError

    def prepare(self, setup_dir: str) -> None:
        pass

    def warm_up(self) -> None:
        raise NotImplementedError

    def unit(self, k: int) -> list[Callable[[], None]]:
        """The k-th measured unit: each callable runs one operation."""
        raise NotImplementedError

    def check(self) -> None:
        """Run the oracles; every mismatch is a failed check."""
        raise NotImplementedError

    def report(self) -> dict:
        """The workload's named figures for the ``report`` line."""
        raise NotImplementedError


# --- analytics_mix -----------------------------------------------------------


class AnalyticsMix(Workload):
    """One analyst: registry queries on the raw tier and status rollups on
    silver and gold materialised in set-up. One operation is one pass over
    the ten shapes in a seeded order, so its wall moves with every shape's."""

    name = "analytics_mix"
    N_ORDERS = 150_000

    def make_inputs(self, data_dir: str) -> None:
        self.data_dir = data_dir
        self.tables = datagen.write_star(data_dir, self.ctx.seed, self.N_ORDERS)

    def prepare(self, setup_dir: str) -> None:
        ctx, spark = self.ctx, self.ctx.spark
        wh = os.path.join(setup_dir, "warehouse")
        with ctx.tracer.span("medallion.silver") as sp:
            self.silver = write_layer(
                build_silver(parquet.load_table(spark, self.data_dir, "orders")),
                wh,
                "silver_orders",
                ("order_month", "status"),
            )
        sp.attrs["bytes"], sp.attrs["files"] = du(self.silver)
        with ctx.tracer.span("medallion.gold") as sp:
            self.gold = write_layer(
                build_gold(spark.read.parquet(self.silver)).coalesce(1),
                wh,
                "gold_order_metrics",
                ("order_month", "status"),
            )
        sp.attrs["bytes"], sp.attrs["files"] = du(self.gold)

    def _shape(self, shape: str) -> Callable:
        spark = self.ctx.spark
        if shape == "silver_status":
            def build():
                return spark.read.parquet(self.silver).groupBy("status").agg(
                    F.count("*").alias("order_count"),
                    dsum("total_amount", "total_revenue"),
                )
        elif shape == "gold_status":
            def build():
                return spark.read.parquet(self.gold).groupBy("status").agg(
                    F.sum("order_count").alias("order_count"),
                    dsum("gross_revenue", "total_revenue"),
                )
        else:
            fn = registry.all_queries()[shape]

            def build():
                return fn(spark, self.data_dir)
        return lambda: self.ctx.query(shape, build)

    def _pass(self, k: int) -> Callable[[], None]:
        shapes = catalog.ANALYTICS_SHAPES
        order = np.random.default_rng([self.ctx.seed, k]).permutation(len(shapes))

        def run() -> None:
            for i in order:
                self._shape(shapes[i])()
        return run

    def warm_up(self) -> None:
        self.ctx.op("analytics_pass", self._pass(0), measured=False)

    def unit(self, k: int) -> list[Callable[[], None]]:
        return [lambda: self.ctx.op("analytics_pass", self._pass(k + 1), measured=True)]

    def check(self) -> None:
        oracles = registry.all_oracles()
        tier_sql = f"""
            SELECT o_orderstatus AS status, COUNT(*) AS order_count,
                   {dsum_sql('o_totalprice')} AS total_revenue
            FROM orders GROUP BY 1"""
        oracle = Oracle(self.tables, self.ctx.cpus, os.path.join(self.ctx.work, "duck"))
        try:
            expected = {s: oracle.digest(oracles[s]) for s in catalog.RAW_SHAPES}
            expected.update(dict.fromkeys(catalog.TIER_SHAPES, oracle.digest(tier_sql)))
        finally:
            oracle.close()
        check_digests(self.ctx, expected)

    def report(self) -> dict:
        by_tier = {"raw": [], "silver": [], "gold": []}
        for sp in measured_queries(self.ctx.tracer):
            shape = sp.attrs["shape"]
            tier = shape.split("_")[0] if shape in catalog.TIER_SHAPES else "raw"
            by_tier[tier].append(sp.seconds * 1e3)
        walls = [w for ws in by_tier.values() for w in ws]
        t = tail(walls)
        out = {f"{tier}_query_p50_ms": median(ws) for tier, ws in by_tier.items()}
        out["query_tail_pct"], out["query_tail_ms"] = t[:2] if t else (None, None)
        out["query_tail_samples"] = len(walls)
        out["queries_per_s"] = len(walls) / (sum(walls) / 1e3) if walls else 0.0
        return out


# --- corpus_dedup ------------------------------------------------------------


class CorpusDedup(Workload):
    """The flagship corpus pipelines, alternating."""

    name = "corpus_dedup"
    N_DOCS = 5_000
    N_VECS = 2_000

    def make_inputs(self, data_dir: str) -> None:
        self.data_dir = data_dir
        self.tables = datagen.write_corpus(
            data_dir, self.ctx.seed, self.N_DOCS, self.N_VECS
        )

    def _pass(self) -> None:
        """One curation pass: the corpus build, then semantic dedup."""
        queries = registry.all_queries()
        for shape in catalog.CORPUS_SHAPES:
            fn = queries[shape]
            self.ctx.query(shape, lambda: fn(self.ctx.spark, self.data_dir))

    def warm_up(self) -> None:
        self.ctx.op("corpus_pass", self._pass, measured=False)

    def unit(self, k: int) -> list[Callable[[], None]]:
        return [lambda: self.ctx.op("corpus_pass", self._pass, measured=True)]

    def check(self) -> None:
        oracles = registry.all_oracles()
        oracle = Oracle(self.tables, self.ctx.cpus, os.path.join(self.ctx.work, "duck"))
        try:
            expected = {s: oracle.digest(oracles[s]) for s in catalog.CORPUS_SHAPES}
        finally:
            oracle.close()
        check_digests(self.ctx, expected)

    def report(self) -> dict:
        walls = {s: [] for s in catalog.CORPUS_SHAPES}
        for sp in measured_queries(self.ctx.tracer):
            walls[sp.attrs["shape"]].append(sp.seconds)
        return {
            "corpus_build_s": median(walls["corpus_build_pipeline"]),
            "semdedup_s": median(walls["semantic_dedup_cascade_stats"]),
        }


# --- lakehouse_refresh -------------------------------------------------------


class LakehouseRefresh(Workload):
    """CDC batch landing -> streaming upsert -> bronze snapshot -> silver
    -> gold -> gold status query, one cycle per operation."""

    name = "lakehouse_refresh"
    N_ORDERS = 150_000
    BATCH_KEYS = 3_000  # 2% of the keys per incremental cycle
    # A unit is two cycles, so every run measures the same ones (the third
    # and fourth): the first measured cycle is still warming up, and a run
    # that measured one or two cycles as time allowed would mix warm and
    # warming cycles in different shares.
    CYCLES_PER_UNIT = 2

    def make_inputs(self, data_dir: str) -> None:
        self.feed = datagen.CdcFeed(self.ctx.seed, self.N_ORDERS, self.BATCH_KEYS)
        self.dim_path = self.feed.write_orders_dim(data_dir)

    def prepare(self, setup_dir: str) -> None:
        d = {k: os.path.join(setup_dir, k) for k in (
            "events", "state", "checkpoint", "bronze", "warehouse", "landing")}
        for k in ("events", "landing"):
            os.makedirs(d[k], exist_ok=True)
        self.dirs = d
        self.gold_answers: list[tuple[int, list]] = []

    def _land(self, batch: datagen.CdcBatch) -> int:
        """Write the batch beside the events directory, then move it in,
        so the stream never lists a half-written file."""
        name = f"batch-{batch.seq:06d}.parquet"
        tmp = os.path.join(self.dirs["landing"], name)
        pq.write_table(batch.table, tmp)
        size = os.path.getsize(tmp)
        os.rename(tmp, os.path.join(self.dirs["events"], name))
        return size

    def _cycle(self) -> None:
        ctx, spark, d = self.ctx, self.ctx.spark, self.dirs
        batch = self.feed.next_batch()
        expected = self.feed.live_by_status()

        def cycle():
            commits = os.path.join(d["checkpoint"], "commits")
            n_commits = _batches_committed(commits)
            with ctx.tracer.span("land"):
                landed = self._land(batch)
            with ctx.layer("streaming.apply") as sp:
                run_cdc_upsert_stream(spark, d["events"], d["state"], d["checkpoint"])
            if ctx.tracing:
                sp.attrs.update(
                    batches=_batches_committed(commits) - n_commits,
                    events=batch.table.num_rows,
                    landed_bytes=landed,
                    state_rows=parquet_rows(d["state"]),
                )
            with ctx.layer("lake.snapshot") as sp:
                state = spark.read.parquet(d["state"])
                dim = spark.read.parquet(self.dim_path)
                bronze = state.join(dim, state["key"] == dim["o_orderkey"]).select(
                    "o_orderkey",
                    F.col("custkey").alias("o_custkey"),
                    "o_orderstatus",
                    F.col("price").alias("o_totalprice"),
                    "o_orderdate",
                    "o_orderpriority",
                )
                version = write_snapshot(bronze, d["bronze"])
            if ctx.tracing:
                sp.attrs["bytes"] = du(os.path.join(d["bronze"], f"v{version}"))[0]
            with ctx.layer("medallion.silver") as sp:
                silver = write_layer(
                    build_silver(read_snapshot(spark, d["bronze"])),
                    d["warehouse"],
                    "silver_orders",
                    ("order_month", "status"),
                )
            if ctx.tracing:
                sp.attrs["bytes"], sp.attrs["files"] = du(silver)
            with ctx.layer("medallion.gold") as sp:
                gold = write_layer(
                    build_gold(spark.read.parquet(silver)).coalesce(1),
                    d["warehouse"],
                    "gold_order_metrics",
                    ("order_month", "status"),
                )
            if ctx.tracing:
                sp.attrs["bytes"], sp.attrs["files"] = du(gold)
            return ctx.query(
                "refresh_gold_query",
                lambda: spark.read.parquet(gold).groupBy("status").agg(
                    F.sum("order_count").alias("total_orders"),
                    dsum("gross_revenue", "total_revenue"),
                ),
            )

        measured = batch.seq >= 2
        out = ctx.op("refresh_cycle", cycle, measured=measured)
        if out is None:
            return
        got = {r["status"]: (r["total_orders"], r["total_revenue"]) for r in out[1]}
        want = {s: (n, cents / 100.0) for s, (n, cents) in expected.items() if n}
        ctx.check(f"refresh cycle {batch.seq} gold == model state", got == want)
        self.gold_answers.append((batch.seq, out))

    def warm_up(self) -> None:
        self._cycle()  # cycle 0: the full snapshot load
        self._cycle()  # cycle 1: the first incremental refresh

    def unit(self, k: int) -> list[Callable[[], None]]:
        return [self._cycle] * self.CYCLES_PER_UNIT

    def check(self) -> None:
        ctx, spark, d = self.ctx, self.ctx.spark, self.dirs
        batch_apply = os.path.join(ctx.work, "check", "batch_apply")
        apply_cdc_upsert(
            spark.read.schema(CDC_EVENT_SCHEMA).parquet(d["events"])
        ).write.parquet(batch_apply)
        oracle = Oracle(
            {
                "events": os.path.join(d["events"], "*.parquet"),
                "state": os.path.join(d["state"], "*.parquet"),
                "batch_apply": os.path.join(batch_apply, "*.parquet"),
                "orders_dim": self.dim_path,
            },
            ctx.cpus,
            os.path.join(ctx.work, "duck"),
        )
        cols = "key, custkey, price, _op, _seq, _sync_ts_epoch"
        state = f"SELECT {cols} FROM state"
        try:
            ctx.check(
                "final state == apply_cdc_upsert(all batches)",
                oracle.same_rows(state, f"SELECT {cols} FROM batch_apply"),
            )
            ctx.check(
                "final state == DuckDB replay of the event files",
                oracle.same_rows(
                    state,
                    f"SELECT {cols} FROM events QUALIFY row_number() OVER "
                    "(PARTITION BY key ORDER BY _seq DESC) = 1 AND _op != 'd'",
                ),
            )
            layers = oracle.digest(
                f"""SELECT o.o_orderstatus AS status, COUNT(*) AS total_orders,
                           {dsum_sql('s.price')} AS total_revenue
                    FROM state s JOIN orders_dim o ON s.key = o.o_orderkey
                    GROUP BY 1"""
            )
        finally:
            oracle.close()
        if self.gold_answers:
            cols, rows = self.gold_answers[-1][1]
            ctx.check("gold re-aggregate == raw-state group-by", digest(cols, rows) == layers)
        ctx.check(
            "read_snapshot(v1) rows == cycle-0 state rows",
            read_snapshot(spark, d["bronze"], 1).count() == self.N_ORDERS,
        )

    def report(self) -> dict:
        ops = [s for s in self.ctx.tracer.spans if s.name == "op"]
        cycles = [s.seconds for s in ops if s.attrs.get("measured")]
        live = du(self.dirs["state"])[0]
        stored = sum(
            du(p)[0]
            for p in (
                self.dirs["state"],
                self.dirs["bronze"],
                os.path.join(self.dirs["warehouse"], "silver_orders"),
                os.path.join(self.dirs["warehouse"], "gold_order_metrics"),
            )
        )
        return {
            "snapshot_load_s": ops[0].seconds if ops else None,
            "refresh_s": median(cycles),
            "cycles": len(ops),
            "bytes_stored_per_live_byte": stored / live if live else None,
        }


WORKLOADS = {w.name: w for w in (LakehouseRefresh, AnalyticsMix, CorpusDedup)}


def measured_ops(tracer: Tracer) -> list:
    return [
        s for s in tracer.spans
        if s.name == "op" and s.attrs.get("measured") and "error" not in s.attrs
    ]


def measured_queries(tracer: Tracer) -> list:
    """The ``q`` spans of measured operations that succeeded."""
    ops = {id(s) for s in measured_ops(tracer)}
    spans = tracer.spans
    return [s for s in spans if s.name == "q" and id(spans[s.parent]) in ops]


def check_digests(ctx: Ctx, expected: dict[str, str]) -> None:
    """Every collected query result must match its shape's oracle."""
    for i, sp in enumerate(ctx.tracer.spans):
        if sp.name == "q" and "result" in sp.attrs:
            shape = sp.attrs["shape"]
            ctx.check(
                f"{shape} result #{i} == oracle",
                digest(*sp.attrs["result"]) == expected[shape],
            )


def run_loop(ctx: Ctx, wl: Workload, seconds: float) -> None:
    """Closed loop: whole units of operations, started until ``seconds``
    have passed, so every run measures the same mix. In a traced run
    every other unit is traced, starting with the second, and at least
    three units run: the traced unit sits between two untraced ones, so
    the tracing overhead measured against them is not skewed by the
    operations still speeding up as the run warms."""
    deadline = time.perf_counter() + seconds
    k = 0
    while time.perf_counter() < deadline or (ctx.trace and k < 3):
        ctx.tracing = ctx.trace and k % 2 == 1
        patch = spans_around_load_table(ctx.tracer) if ctx.tracing else nullcontext()
        with ctx.tracer.span("unit", k=k, traced=ctx.tracing), patch:
            for op in wl.unit(k):
                op()
        k += 1
    ctx.tracing = False
