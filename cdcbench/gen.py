"""Seeded input generators for the CDC benchmark.

Kept apart from the engine: this module imports only numpy and
pyarrow, and the engine receives nothing but the parquet files written
here. The same seed gives byte-identical files (tests/test_bench.py).

- :class:`SnapshotGenerator` (``cdc_mixed``, table ``sensors``): full
  snapshots, each step applying an INSERT/UPDATE/DELETE mix on
  uniformly drawn keys. A snapshot pair has one capture instant, so no
  row of this table is ever late.
- :class:`ChangeGenerator` (``cdc_mixed``, table ``assets``): a
  row-level change feed with per-row timestamps, a skewed hot-key set
  and a share of late (out-of-order) rows.
- :func:`fixture_tables` (``query_surface``): the TPC-H-ish star schema
  plus the events/documents/embeddings tables the registered queries
  read, at the row counts of the sf0.01 fixture.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SCHEMA_NAME = "dataschema"
FEED_TABLE = "assets"  # captured from a change feed
SNAPSHOT_TABLE = "sensors"  # captured by diffing snapshots
TABLES = (FEED_TABLE, SNAPSHOT_TABLE)
ROW_SCHEMA = pa.schema(
    [
        ("id", pa.int64()),
        ("name", pa.string()),
        ("serialnumber", pa.string()),
        ("reading", pa.float64()),
        ("updated_at", pa.timestamp("us")),
    ]
)
CHANGE_SCHEMA = pa.schema(
    [("ts", pa.timestamp("us")), ("operation", pa.string())] + list(ROW_SCHEMA)
)
#: Simulated capture clock starts here (epoch seconds, UTC).
START_S = int(dt.datetime(2025, 1, 6, tzinfo=dt.timezone.utc).timestamp())
#: The query fixture is pinned: --seed only permutes the row order, so
#: the pinned counts and hashes in pinned.json hold for every seed.
FIXTURE_SEED = 42


def write_parquet(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


class _TableState:
    """One table's rows over a fixed key space, as column arrays."""

    def __init__(self, rng: np.random.Generator, n_keys: int, key_space: int):
        self.rng = rng
        self.present = np.zeros(key_space, dtype=bool)
        self.present[:n_keys] = True
        self.version = np.zeros(key_space, dtype=np.int64)
        self.reading = np.round(rng.uniform(0, 100, key_space), 3)
        self.updated_us = np.full(key_space, START_S * 1_000_000, dtype=np.int64)
        ids = np.arange(key_space)
        self.names = np.array([f"unit-{i}" for i in ids], dtype=object)

    def touch(self, keys: np.ndarray, ts_us: int) -> None:
        self.version[keys] += 1
        self.reading[keys] = np.round(self.rng.uniform(0, 100, len(keys)), 3)
        self.updated_us[keys] = ts_us

    def snapshot(self) -> pa.Table:
        ids = np.flatnonzero(self.present)
        serial = [f"SN{i:07d}-{v}" for i, v in zip(ids, self.version[ids])]
        return pa.table(
            [
                pa.array(ids, pa.int64()),
                pa.array(self.names[ids], pa.string()),
                pa.array(serial, pa.string()),
                pa.array(self.reading[ids], pa.float64()),
                pa.array(self.updated_us[ids], pa.timestamp("us")),
            ],
            schema=ROW_SCHEMA,
        )


class SnapshotGenerator:
    """Snapshots of one table for ``cdc_transform``: each :meth:`step`
    changes ``changes`` uniformly drawn keys (``mix`` = INSERT, UPDATE,
    DELETE shares) and returns the new snapshot."""

    def __init__(self, seed: int, n_keys: int, changes: int,
                 mix: tuple[float, float, float] = (0.2, 0.65, 0.15)):
        self.rng = np.random.default_rng(seed)
        self.changes = changes
        self.mix = mix
        self.state = _TableState(self.rng, n_keys, key_space=n_keys * 2)

    def snapshot(self) -> pa.Table:
        return self.state.snapshot()

    def step(self, capture_s: int) -> pa.Table:
        """Apply one step's changes, stamped ``capture_s``."""
        state = self.state
        n_ins = int(self.changes * self.mix[0])
        n_del = int(self.changes * self.mix[2])
        n_upd = self.changes - n_ins - n_del
        absent = np.flatnonzero(~state.present)
        present = np.flatnonzero(state.present)
        ins = self.rng.choice(absent, min(n_ins, len(absent)), replace=False)
        picked = self.rng.choice(present, min(n_upd + n_del, len(present)), replace=False)
        upd, dele = picked[:n_upd], picked[n_upd:]
        state.present[ins] = True
        state.present[dele] = False
        state.touch(np.concatenate([ins, upd]), capture_s * 1_000_000)
        return state.snapshot()


class ChangeGenerator:
    """Row-level change feed of one table for ``changes_to_envelope``.

    Keys come from a hot set with probability ``hot_share`` (Zipf
    ranks over ``hot_keys``), else uniformly from ``n_keys``. A key's
    first change is an INSERT; later ones are UPDATE, or DELETE with
    probability ``delete_share`` (a deleted key re-enters as INSERT).
    On-time rows fall in the step's ``step_s`` span; a ``late_share``
    of rows is stamped up to ``late_s`` earlier, so they land in
    already-refreshed buckets and, near midnight, in earlier
    ``event_date`` partitions.
    """

    def __init__(self, seed: int, n_keys: int, hot_keys: int, changes: int,
                 step_s: int, hot_share: float = 0.5, late_share: float = 0.1,
                 late_s: int = 6 * 3600, delete_share: float = 0.1):
        self.rng = np.random.default_rng(seed)
        self.n_keys = n_keys
        self.hot_keys = hot_keys
        self.changes = changes
        self.step_s = step_s
        self.hot_share = hot_share
        self.late_share = late_share
        self.late_s = late_s
        self.delete_share = delete_share
        self.now_s = START_S
        self.present = np.zeros(n_keys, dtype=bool)
        self.version = np.zeros(n_keys, dtype=np.int64)
        ranks = np.arange(1, hot_keys + 1, dtype=np.float64)
        self.hot_p = (1.0 / ranks) / (1.0 / ranks).sum()

    def _batch(self, n: int, span_s: int, late: bool) -> pa.Table:
        rng = self.rng
        ts_us = np.sort(rng.integers(0, span_s * 1_000_000, n)) + self.now_s * 1_000_000
        if late:
            is_late = rng.random(n) < self.late_share
            ts_us[is_late] -= rng.integers(1, self.late_s * 1_000_000, is_late.sum())
        hot = rng.random(n) < self.hot_share
        keys = np.where(
            hot,
            rng.choice(self.hot_keys, n, p=self.hot_p),
            rng.integers(0, self.n_keys, n),
        )
        deletes = rng.random(n) < self.delete_share
        readings = np.round(rng.uniform(0, 100, n), 3)
        ops, serial = [], []
        for k, delete in zip(keys, deletes):
            if not self.present[k]:
                ops.append("INSERT")
                self.present[k] = True
            elif delete:
                ops.append("DELETE")
                self.present[k] = False
            else:
                ops.append("UPDATE")
            self.version[k] += 1
            serial.append(f"SN{k:07d}-{self.version[k]}")
        self.now_s += span_s
        return pa.table(
            [
                pa.array(ts_us, pa.timestamp("us")),
                pa.array(ops, pa.string()),
                pa.array(keys, pa.int64()),
                pa.array([f"unit-{k}" for k in keys], pa.string()),
                pa.array(serial, pa.string()),
                pa.array(readings, pa.float64()),
                pa.array(ts_us, pa.timestamp("us")),
            ],
            schema=CHANGE_SCHEMA,
        )

    def history(self, n: int, span_s: int) -> pa.Table:
        """The log's starting contents: ``n`` in-order changes over
        ``span_s`` seconds."""
        return self._batch(n, span_s, late=False)

    def step(self) -> pa.Table:
        return self._batch(self.changes, self.step_s, late=True)


# ---------------------------------------------------------------------------
# query_surface fixture
# ---------------------------------------------------------------------------

_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "cold", "hot", "large", "old", "red"]
_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_DAY_US = 86_400 * 1_000_000


def _day_us(y: int, m: int, d: int) -> int:
    return int(dt.datetime(y, m, d, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def fixture_tables(seed: int = FIXTURE_SEED, scale: float = 0.01) -> dict[str, pa.Table]:
    """The query fixture: ``scale`` × the sf1 row counts (lineitem
    6M, orders 1.5M, ...) with the column types of the reference
    fixture."""
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * scale)
    n_supp = int(10_000 * scale)
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_line = int(6_000_000 * scale)
    n_ev = int(1_000_000 * scale)
    n_doc = int(50_000 * scale)
    n_emb = int(50_000 * scale)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj, noun = rng.integers(0, 6, n_part), rng.integers(0, 7, n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
    })
    lo, hi = _day_us(1995, 1, 1), _day_us(2001, 8, 1)
    odate = lo + rng.integers(0, (hi - lo) // _DAY_US + 1, n_ord) * _DAY_US
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    })
    lkey = rng.integers(0, n_ord, n_line)
    flags = rng.integers(0, 3, n_line)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(lkey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in flags],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(
            odate[lkey] + rng.integers(1, 122, n_line) * _DAY_US, pa.timestamp("us")
        ),
    })
    ev_lo = _day_us(2024, 1, 1)
    ev_ts = np.sort(ev_lo + rng.integers(0, 30 * _DAY_US, n_ev))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, int(n_ev * 0.15)), n_ev), pa.int64()),
        "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    })
    texts = [
        " ".join(_WORDS[w] for w in rng.integers(0, len(_WORDS), rng.integers(10, 100)))
        for _ in range(n_doc)
    ]
    # plant near-duplicates (a few words swapped) and exact duplicates
    for i in rng.choice(n_doc, n_doc // 20, replace=False):
        words = texts[int(rng.integers(0, n_doc))].split()
        for j in rng.integers(0, len(words), 2):
            words[j] = _WORDS[int(rng.integers(0, len(_WORDS)))]
        texts[i] = " ".join(words)
    for i in rng.choice(n_doc, n_doc // 100, replace=False):
        texts[i] = texts[int(rng.integers(0, n_doc))]
    lang_p = np.array([0.15, 0.41, 0.15, 0.14, 0.15])
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.choice(5, n_doc, p=lang_p / lang_p.sum())],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    src = rng.choice(n_emb, n_emb // 50, replace=False)
    emb[src[1:]] = emb[src[:-1]] + 0.02 * rng.standard_normal((len(src) - 1, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    return out


def write_fixture(sf_dir: str, tables: dict[str, pa.Table]) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in tables.items():
        write_parquet(table, os.path.join(sf_dir, f"{name}.parquet"))
