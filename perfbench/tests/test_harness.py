"""Tests of the benchmark's own logic (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import catalog, datagen  # noqa: E402
from perfbench.checks import digest  # noqa: E402
from perfbench.trace import (  # noqa: E402
    Span,
    Tracer,
    Window,
    median,
    parse_metric_value,
    self_time,
    tail,
)

NAME = re.compile(r"[A-Za-z0-9_.-]+")


# --- tail percentile ---------------------------------------------------------


def test_tail_leaves_exactly_ten_samples_beyond():
    values = [float(v) for v in range(100)]
    pct, value, n = tail(values)
    assert n == 100
    assert sum(v > value for v in values) == 10
    assert value == 89.0 and pct == 90.0


def test_tail_reports_sample_count_and_ignores_input_order():
    values = [float(v) for v in np.random.default_rng(3).permutation(37)]
    pct, value, n = tail(values)
    assert n == 37
    assert sum(v > value for v in values) == 10
    assert pct == pytest.approx(100.0 * 27 / 37)


def test_tail_needs_more_than_ten_samples():
    assert tail([1.0] * 10) is None
    assert tail([float(v) for v in range(11)])[1] == 0.0


def test_median_even_and_odd():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 3.0, 2.0]) == 2.5
    assert median([]) == 0.0


# --- span self time ----------------------------------------------------------


def _span(start, end, parent=None):
    return Span("s", start, end, parent)


def test_self_time_subtracts_children():
    parent = _span(0.0, 10.0)
    kids = [_span(1.0, 3.0, 0), _span(5.0, 6.0, 0)]
    assert self_time(parent, kids) == pytest.approx(7.0)


def test_self_time_counts_overlapping_children_once_and_clips():
    parent = _span(0.0, 10.0)
    kids = [_span(1.0, 4.0, 0), _span(3.0, 5.0, 0), _span(9.0, 12.0, 0)]
    assert self_time(parent, kids) == pytest.approx(10.0 - 4.0 - 1.0)


def test_self_time_without_children_is_duration():
    assert self_time(_span(2.0, 2.5), []) == pytest.approx(0.5)


def test_tracer_nests_spans():
    t = Tracer()
    with t.span("op"):
        with t.span("build"):
            pass
        with t.span("collect"):
            pass
    assert [s.name for s in t.spans] == ["op", "build", "collect"]
    assert [s.parent for s in t.spans] == [None, 0, 0]
    assert all(s.end >= s.start for s in t.spans)
    assert self_time(t.spans[0], t.spans[1:]) >= 0.0


# --- seeded inputs -----------------------------------------------------------


def _batches(seed, n=4):
    feed = datagen.CdcFeed(seed, n_orders=2_000, batch_keys=100)
    return [feed.next_batch().table for _ in range(n)]


def test_cdc_feed_is_a_pure_function_of_the_seed():
    a, b = _batches(7), _batches(7)
    assert all(x.equals(y) for x, y in zip(a, b))


def test_cdc_feed_other_seed_gives_other_keys():
    a, b = _batches(7), _batches(8)
    keys = lambda t: t.column("key").to_pylist()  # noqa: E731
    assert any(keys(x) != keys(y) for x, y in zip(a[1:], b[1:]))


def test_cdc_feed_shape():
    feed = datagen.CdcFeed(1, n_orders=2_000, batch_keys=100)
    snap = feed.next_batch().table
    assert snap.num_rows == 2_000
    assert set(snap.column("_op").to_pylist()) == {"c"}
    # The snapshot carries each order's customer and total price.
    assert snap.column("custkey").to_numpy().tolist() == feed.orders["o_custkey"][:2_000].tolist()
    assert snap.column("price").to_pylist() == (feed.orders["cents"][:2_000] / 100.0).tolist()
    prices = dict(zip(snap.column("key").to_pylist(), snap.column("price").to_pylist()))
    for seq in range(1, 5):
        t = feed.next_batch().table
        keys = t.column("key").to_pylist()
        assert len(keys) == len(set(keys)) == 100
        assert set(t.column("_seq").to_pylist()) == {seq}
        ops = t.column("_op").to_pylist()
        # late inserts : updates : deletes = 28 : 21 : 20, as the engine's feed
        assert ops.count("c") == 40 and ops.count("u") == 30 and ops.count("d") == 30
        rows = t.to_pylist()
        assert [r["price"] for r in rows if r["_op"] == "d"] == [None] * 30
        for r in rows:
            if r["_op"] == "u":  # +10% or +20%, to the cent
                old = round(prices[r["key"]] * 100)
                assert round(r["price"] * 100) in ((old * 11 + 5) // 10, (old * 12 + 5) // 10)
            if r["_op"] == "c":
                assert r["key"] not in prices
            if r["_op"] == "d":
                prices.pop(r["key"])
            else:
                prices[r["key"]] = r["price"]
    assert feed.live.sum() == len(prices) == 2_000 + 4 * (40 - 30)


def test_cdc_model_tracks_live_state():
    feed = datagen.CdcFeed(2, n_orders=500, batch_keys=50)
    live = {}
    for _ in range(5):
        for r in feed.next_batch().table.to_pylist():
            if r["_op"] == "d":
                live.pop(r["key"], None)
            else:
                live[r["key"]] = round(r["price"] * 100)
    by = feed.live_by_status()
    for s, (n, cents) in by.items():
        keys = [k for k in live if feed.status[k] == s]
        assert n == len(keys)
        assert cents == sum(live[k] for k in keys)


def test_star_tables_are_seeded(tmp_path):
    a = datagen.write_star(str(tmp_path / "a"), 5, 300)
    b = datagen.write_star(str(tmp_path / "b"), 5, 300)
    c = datagen.write_star(str(tmp_path / "c"), 6, 300)
    read = lambda p: open(p, "rb").read()  # noqa: E731
    assert all(read(a[t]) == read(b[t]) for t in a)
    assert read(a["orders"]) != read(c["orders"])


def test_generated_inputs_keep_the_fixture_statistics(tmp_path):
    """The properties datagen's table records for the sf0.1 fixtures."""
    star = datagen.write_star(str(tmp_path / "s"), 3, 30_000)
    lines = np.bincount(
        pq.read_table(star["lineitem"]).column("l_orderkey").to_numpy(), minlength=30_000
    )
    assert lines.mean() == 4.0
    assert 0.014 < (lines == 0).mean() < 0.023  # Poisson(4): e^-4 = 1.8%

    corpus = datagen.write_corpus(str(tmp_path / "c"), 3, 5_000, 2_000)
    docs = pq.read_table(corpus["documents"]).to_pydict()
    words = [t.split() for t in docs["text"]]
    assert sum("dup" in w for w in words) == 250
    assert min(map(len, words)) == 10 and max(map(len, words)) <= 101
    assert set(w for ws in words for w in ws) == set(datagen.VOCAB) | {"dup"}
    assert docs["source"][:21] == [f"src{i % 20}" for i in range(21)]
    assert 0.37 < docs["lang"].count("en") / 5_000 < 0.43
    assert docs["n_chars"] == [len(t) for t in docs["text"]]

    emb = pq.read_table(corpus["embeddings"])
    vecs = np.array(emb.column("embedding").to_pylist())
    assert np.allclose(np.linalg.norm(vecs, axis=1), 1.0, atol=1e-6)
    cos = vecs @ vecs.T
    np.fill_diagonal(cos, -1.0)
    assert cos.max() < 0.7  # isotropic: no replicas or near-duplicates
    assert set(emb.column("label").to_pylist()) == set(range(10))


# --- digests -----------------------------------------------------------------


def test_digest_ignores_row_and_column_order():
    d1 = digest(["b", "a"], [(1, "x"), (2, "y")])
    d2 = digest(["a", "b"], [("y", 2), ("x", 1)])
    assert d1 == d2
    assert digest(["a"], [(1.0,)]) != digest(["a"], [(1.0000001,)])


# --- status-store value parsing ---------------------------------------------


def test_parse_metric_values():
    assert parse_metric_value("1,234") == 1234.0
    assert parse_metric_value("4.0 KiB") == 4096.0
    assert parse_metric_value("83 ms") == 83.0
    assert parse_metric_value(
        "total (min, med, max (stageId: taskId))\n1.5 s (0 ms, 1 ms, 1 ms (stage 93.0: task 64))"
    ) == 1500.0


# --- declared metrics --------------------------------------------------------


def _declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_declarations_are_well_formed():
    bench = _declared()
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert len(names) == len(set(names))
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert NAME.fullmatch(m["name"]) and len(m["name"]) <= 64
        assert m["better"] in ("lower", "higher")
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])
    assert {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25} in bench["end_to_end"]


def _traced_run():
    """A tracer holding one traced, measured call of every layer and shape,
    shaped like the spans the workloads record."""
    from perfbench.workloads import Ctx

    class NoCounters:
        def persistent_rdds(self):
            return 0

    ctx = Ctx.__new__(Ctx)
    ctx.tracer = t = Tracer()
    ctx.counters = NoCounters()
    for shape in catalog.QUERY_SHAPES:
        for traced in (True, False):
            with t.span("op", shape=shape, measured=True, traced=traced):
                with t.span("q", shape=shape, window=Window(), catalyst_ms=1.0,
                            persistent_rdds=0):
                    with t.span("build"):
                        with t.span("sources.load_table"):
                            pass
                    with t.span("collect"):
                        pass
    with t.span("op", shape="refresh_cycle", measured=True, traced=True):
        with t.span("streaming.apply", window=Window(), batches=1, events=10,
                    landed_bytes=100, state_rows=10):
            pass
        with t.span("lake.snapshot", window=Window(), bytes=100):
            pass
        for tier in ("silver", "gold"):
            with t.span(f"medallion.{tier}", window=Window(), bytes=100, files=1):
                pass
    return ctx


def test_every_emitted_metric_name_is_well_formed_and_declared():
    """Both metric sets, emitted from a traced run touching every layer and
    shape: each name is well formed and declared in BENCHMARK.json, and
    every declared name is emitted."""
    from perfbench import run

    bench = _declared()
    ctx = _traced_run()
    e2e = run.end_to_end(ctx, 1.0, 1.0)
    layer = run.per_layer(ctx, 1.0)
    for name in list(e2e) + list(layer):
        assert NAME.fullmatch(name) and len(name) <= 64
    assert set(e2e) == {m["name"] for m in bench["end_to_end"]}
    assert set(layer) == {m["name"] for m in bench["per_layer"]}
    assert all(layer[f"q.{q}.catalyst_ms"] == 1.0 for q in catalog.QUERY_SHAPES)


def test_undeclared_metric_is_refused(monkeypatch):
    from perfbench import run

    ctx = _traced_run()
    monkeypatch.setattr(catalog, "QUERY_SHAPES", catalog.QUERY_SHAPES + ("nameless",))
    t = ctx.tracer
    with t.span("op", shape="nameless", measured=True, traced=True):
        with t.span("q", shape="nameless", window=Window(), catalyst_ms=1.0,
                    persistent_rdds=0):
            with t.span("build"):
                pass
            with t.span("collect"):
                pass
    with pytest.raises(ValueError, match="undeclared"):
        run.per_layer(ctx, 1.0)


def test_workloads_match_declarations():
    from perfbench.workloads import WORKLOADS

    assert list(WORKLOADS) == [w["name"] for w in _declared()["workloads"]]
