"""Seeded benchmark inputs: a TPC-H-shaped star schema, an events table,
an LLM-corpus pair (documents + embeddings) and a CDC change feed.

Everything is a pure function of the seed and the requested sizes, drawn
with NumPy and written with pyarrow, so the benchmark never reads data
from outside its own working directory and the engine under test only
ever sees the generated parquet files. Table shapes and column types
follow the engine's test fixtures (TESTDATA.md: one parquet file per
table, one row group each, microsecond timestamps without a zone).

Every distribution below reproduces a statistic measured on the sf0.1
fixture tables (150,000 orders), which the benchmark cannot read at run
time; the measured figure is noted beside each parameter. At 150,000
orders the star tables have the fixture's row counts.

    table       statistic (sf0.1 fixture)                      here
    orders      o_orderstatus F/O/P 33.1/33.4/33.5%            uniform F/O/P
                o_orderpriority, 5 values, 19.9-20.1% each     uniform
                o_totalprice 1001.91-499993.18, mean 250156    uniform cents 1000-500000
                o_orderdate 1995-01-01 .. 2001-08-01           uniform days
                o_custkey 0..14999, 14,999 distinct            uniform over n/10 customers
    lineitem    4.0 lines per order, Poisson-like: 1.8% of     l_orderkey uniform over
                orders have none (2,764), 1-17 otherwise       the orders (e^-4 = 1.8%)
                l_extendedprice 900.68-104999.91, mean 52952   uniform cents 900-105000
                l_quantity 1-50, l_discount 0-0.10,            uniform integers
                l_tax 0-0.08, l_linenumber 1-7
                l_returnflag x l_linestatus, 6 pairs 16.6-16.7%  uniform
                l_shipdate 1995-01-02 .. 2001-11-04            uniform days
    customer    c_mktsegment 5 values 19.6-20.3%, c_nationkey  uniform
                0-24, c_acctbal -999.85..9999.80
    events      100,000 rows (2/3 of orders), ts sorted over   same
                30 days from 2024-01-01, user_id 0-1499, 5
                event types 19.8-20.3%, value exponential
                (quartiles 14.6/34.8/68.9, mean 49.9)
    documents   5,000 docs of 10-99 words (uniform; a copy     same
                below is one word longer; mean 54.1) from a
                30-word vocabulary (each 8,829-9,182 uses);
                lang en 41.2%, de/es/fr/zh 14.0-15.1%;
                source = src<doc_id % 20>; exactly 5% of docs
                (250) are another doc's text + " dup" (5 of
                them copies of such a doc), which leaves 8
                exact-duplicate pairs; no other duplicates
    embeddings  2,000 64-d float32 unit vectors, isotropic:     iid normal, normalised
                largest cosine to any other vector 0.33-0.60,
                no replicas or near-duplicates; label 0-9
                uniform (182-218 each), unrelated to the vector
"""

from __future__ import annotations

import os
import zlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ORDER_STATUSES = np.array(["F", "O", "P"])
PRIORITIES = np.array(
    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
)
SEGMENTS = np.array(
    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
)
RETURN_FLAGS = np.array(["A", "N", "R"])
LINE_STATUSES = np.array(["F", "O"])
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_SHARES = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = np.array(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch".split()
)
DOC_WORDS = (10, 99)  # inclusive
NEAR_DUP_SHARE = 20  # one doc in 20 is another doc's text + " dup"
N_SOURCES = 20
EMBED_DIM = 64
N_LABELS = 10

_DAY_US = 86_400 * 1_000_000
_ORDER_EPOCH_DAY = 9131  # 1995-01-01
_ORDER_SPAN_DAYS = 2405  # through 2001-08-01
_SHIP_SPAN_DAYS = 2500  # 1995-01-02 through 2001-11-04
_EVENTS_T0_US = 1_704_067_200 * 1_000_000  # 2024-01-01 UTC
_EVENTS_SPAN_US = 30 * _DAY_US

# CDC audit epoch (2000-01-01 UTC, one minute per sequence step), the
# same convention as the engine's synthetic change feed.
CDC_EPOCH0 = 946_684_800
CDC_SCHEMA = pa.schema(
    [
        ("key", pa.int64()),
        ("custkey", pa.int64()),
        ("price", pa.float64()),
        ("_op", pa.string()),
        ("_seq", pa.int64()),
        ("_sync_ts_epoch", pa.int64()),
    ]
)


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, table) so adding a table never
    shifts another table's draws."""
    return np.random.default_rng([seed, zlib.crc32(stream.encode())])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Prices with exactly two decimals (integer cents / 100)."""
    cents = rng.integers(int(lo * 100), int(hi * 100), n)
    return cents / 100.0


def _ts_days(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype(np.int64) * _DAY_US, pa.timestamp("us"))


def _write(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1))
    return path


def n_customers(n_orders: int) -> int:
    return max(n_orders // 10, 10)


def write_star(out_dir: str, seed: int, n_orders: int) -> dict[str, str]:
    """orders, lineitem, customer, nation and events for the raw tier,
    at the fixture's row ratios to orders."""
    n_cust = n_customers(n_orders)
    n_line = n_orders * 4
    n_events = max(n_orders * 2 // 3, 10)
    paths = {}

    paths["nation"] = _write(
        pa.table(
            {
                "n_nationkey": pa.array(np.arange(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
            }
        ),
        os.path.join(out_dir, "nation.parquet"),
    )

    r = _rng(seed, "customer")
    paths["customer"] = _write(
        pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
                "c_mktsegment": SEGMENTS[r.integers(0, 5, n_cust)],
            }
        ),
        os.path.join(out_dir, "customer.parquet"),
    )

    paths["orders"] = _write(
        orders_table(orders_columns(seed, n_orders, n_cust)),
        os.path.join(out_dir, "orders.parquet"),
    )

    r = _rng(seed, "lineitem")
    ship = _ORDER_EPOCH_DAY + r.integers(1, _SHIP_SPAN_DAYS, n_line)
    paths["lineitem"] = _write(
        pa.table(
            {
                "l_orderkey": pa.array(r.integers(0, n_orders, n_line), pa.int64()),
                "l_partkey": pa.array(r.integers(0, 20_000, n_line), pa.int64()),
                "l_suppkey": pa.array(r.integers(0, 1_000, n_line), pa.int64()),
                "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
                "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": _money(r, 900.0, 105_000.0, n_line),
                "l_discount": r.integers(0, 11, n_line) / 100.0,
                "l_tax": r.integers(0, 9, n_line) / 100.0,
                "l_returnflag": RETURN_FLAGS[r.integers(0, 3, n_line)],
                "l_linestatus": LINE_STATUSES[r.integers(0, 2, n_line)],
                "l_shipdate": _ts_days(ship),
            }
        ),
        os.path.join(out_dir, "lineitem.parquet"),
    )

    r = _rng(seed, "events")
    ts = np.sort(_EVENTS_T0_US + r.integers(0, _EVENTS_SPAN_US, n_events))
    paths["events"] = _write(
        pa.table(
            {
                "event_id": pa.array(np.arange(n_events), pa.int64()),
                "ts": pa.array(ts, pa.timestamp("us")),
                "user_id": pa.array(r.integers(0, 1_500, n_events), pa.int64()),
                "event_type": EVENT_TYPES[r.integers(0, 5, n_events)],
                "value": np.round(r.exponential(50.0, n_events), 2),
                "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_events)],
            }
        ),
        os.path.join(out_dir, "events.parquet"),
    )
    return paths


def orders_columns(seed: int, n_orders: int, n_cust: int) -> dict[str, np.ndarray]:
    """The orders table as arrays, prices in integer cents."""
    r = _rng(seed, "orders")
    return {
        "o_orderkey": np.arange(n_orders),
        "o_custkey": r.integers(0, n_cust, n_orders),
        "o_orderstatus": ORDER_STATUSES[r.integers(0, 3, n_orders)],
        "cents": r.integers(100_000, 50_000_000, n_orders),
        "days": _ORDER_EPOCH_DAY + r.integers(0, _ORDER_SPAN_DAYS, n_orders),
        "o_orderpriority": PRIORITIES[r.integers(0, 5, n_orders)],
    }


def orders_table(cols: dict[str, np.ndarray]) -> pa.Table:
    return pa.table(
        {
            "o_orderkey": pa.array(cols["o_orderkey"], pa.int64()),
            "o_custkey": pa.array(cols["o_custkey"], pa.int64()),
            "o_orderstatus": cols["o_orderstatus"],
            "o_totalprice": cols["cents"] / 100.0,
            "o_orderdate": _ts_days(cols["days"]),
            "o_orderpriority": cols["o_orderpriority"],
        }
    )


def corpus_texts(seed: int, n_docs: int) -> list[str]:
    """Documents of 10-99 vocabulary words; one in twenty is replaced, in
    doc order, by another doc's text plus " dup", so a few copy a copy
    and a few pairs end up identical, as in the fixture."""
    r = _rng(seed, "documents")
    lens = r.integers(DOC_WORDS[0], DOC_WORDS[1] + 1, n_docs)
    words = VOCAB[r.integers(0, len(VOCAB), int(lens.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n_docs)]
    copies = np.sort(r.choice(n_docs, n_docs // NEAR_DUP_SHARE, replace=False))
    for i in copies:
        j = int(r.integers(0, n_docs - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    return texts


def write_corpus(out_dir: str, seed: int, n_docs: int, n_vecs: int) -> dict[str, str]:
    """documents + embeddings with the fixture's distributions (see the
    module docstring)."""
    texts = corpus_texts(seed, n_docs)
    r = _rng(seed, "documents-meta")
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": LANGS[r.choice(len(LANGS), n_docs, p=LANG_SHARES)],
            "source": [f"src{i % N_SOURCES}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )

    r = _rng(seed, "embeddings")
    vecs = r.normal(size=(n_vecs, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(
                list(vecs.astype(np.float32)), pa.list_(pa.float32())
            ),
            "label": pa.array(r.integers(0, N_LABELS, n_vecs), pa.int32()),
        }
    )
    return {
        "documents": _write(docs, os.path.join(out_dir, "documents.parquet")),
        "embeddings": _write(emb, os.path.join(out_dir, "embeddings.parquet")),
    }


@dataclass
class CdcBatch:
    seq: int
    table: pa.Table  # CDC_SCHEMA rows, at most one event per key


class CdcFeed:
    """Seeded change feed over order keys, with the live state it implies
    kept beside it as the correctness model.

    The op mix and price changes follow the engine's own change feed
    (``operators.cdc.synthetic_change_events``), which over an orders
    table inserts every key, re-prices a tenth of them by +10% and a
    twentieth by +20%, and deletes a seventh, with a fifth of the inserts
    arriving late. Here:

    - cycle 0 is the full snapshot: one insert per order key, carrying
      the order's customer and total price;
    - every later cycle touches ``batch_keys`` distinct keys with
      sequence number equal to the cycle, split like that feed's changes
      after its snapshot (late inserts : updates : deletes = 1/5 : 3/20 :
      1/7 = 28 : 21 : 20). Updates raise a live key's price by 10% or 20%
      (2 : 1, rounded half up to the cent); deletes remove live keys;
      inserts add keys that are not live at their order's price -- first
      a reserve of a fifth beyond the snapshot (the late inserts), then
      deleted keys. Inserts outnumber deletes, so the state grows by
      8/69 of a batch per cycle, as that feed's state does.
    """

    MIX = (28, 21, 20)  # inserts, updates, deletes

    def __init__(self, seed: int, n_orders: int, batch_keys: int):
        self.n_orders = n_orders
        self.batch_keys = batch_keys
        self.universe = n_orders + n_orders // 5
        self.orders = orders_columns(seed, self.universe, n_customers(n_orders))
        self.status = self.orders["o_orderstatus"]
        self._rng = _rng(seed, "cdc")
        self.live = np.zeros(self.universe, dtype=bool)
        self.cents = np.zeros(self.universe, dtype=np.int64)
        self.seq = -1

    def next_batch(self) -> CdcBatch:
        r = self._rng
        self.seq += 1
        if self.seq == 0:
            keys = np.arange(self.n_orders)
            ops = np.full(self.n_orders, "c")
            cents = self.orders["cents"][keys]
        else:
            m = self.batch_keys
            n_ins = m * self.MIX[0] // sum(self.MIX)
            n_upd = m * self.MIX[1] // sum(self.MIX)
            n_del = m - n_ins - n_upd
            dead = np.flatnonzero(~self.live)
            if len(dead) < n_ins:
                raise ValueError(f"cycle {self.seq}: the insert reserve is used up")
            fresh = dead[dead >= self.n_orders]
            pool = fresh if len(fresh) >= n_ins else dead
            ins = r.choice(pool, n_ins, replace=False)
            touched = r.choice(np.flatnonzero(self.live), n_upd + n_del, replace=False)
            keys = np.concatenate([ins, touched])
            ops = np.array(["c"] * n_ins + ["u"] * n_upd + ["d"] * n_del)
            factor = np.where(r.random(n_upd) < 2 / 3, 11, 12)
            cents = np.concatenate([
                self.orders["cents"][ins],
                (self.cents[touched[:n_upd]] * factor + 5) // 10,
                np.zeros(n_del, dtype=np.int64),
            ])
        deleted = ops == "d"
        self.live[keys] = ~deleted
        self.cents[keys] = np.where(deleted, 0, cents)
        table = pa.table(
            {
                "key": pa.array(keys, pa.int64()),
                "custkey": pa.array(self.orders["o_custkey"][keys], pa.int64()),
                "price": pa.array(cents / 100.0, mask=deleted),
                "_op": ops,
                "_seq": pa.array(np.full(len(keys), self.seq), pa.int64()),
                "_sync_ts_epoch": pa.array(
                    np.full(len(keys), CDC_EPOCH0 + 60 * self.seq), pa.int64()
                ),
            },
            schema=CDC_SCHEMA,
        )
        return CdcBatch(self.seq, table)

    def live_by_status(self) -> dict[str, tuple[int, int]]:
        """status -> (live rows, revenue in cents) of the current state."""
        out = {}
        for s in np.unique(self.status):
            sel = self.live & (self.status == s)
            out[str(s)] = (int(sel.sum()), int(self.cents[sel].sum()))
        return out

    def write_orders_dim(self, out_dir: str) -> str:
        """Immutable order columns for every key the feed may touch;
        bronze is the CDC state joined to this table."""
        t = orders_table(self.orders).select(
            ["o_orderkey", "o_orderstatus", "o_orderdate", "o_orderpriority"]
        )
        return _write(t, os.path.join(out_dir, "orders_dim.parquet"))
