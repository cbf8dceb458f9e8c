"""Seeded input generation. Every input a run reads is made here; nothing
is read from outside the checkout.

* ``write_corpus`` writes a corpus with the schemas, row counts and value
  distributions of the sf0.1 test tables (TPC-H-ish star schema,
  ``events``, ``documents``, ``embeddings``). Those tables are themselves
  uniform synthetic data: keys are uniform draws (600,000 line items fall
  on 147,236 of the 150,000 orders, as uniform draws do), ship dates are
  independent of order dates, categorical columns are near-equal splits,
  embeddings are unit vectors. The content is the same for every run
  (``CONTENT_SEED``); ``--seed`` picks only the row order and which rows of
  each large table share a file.
* ``EdgeStream`` makes edge-event chunks for the streaming GNN: sources
  uniform over the 500-vertex embedding space, destinations Zipf-skewed
  over it, event time advancing across ``YEARS`` calendar years.
* ``GraphOpStream`` makes GraphOp mutation chunks (ADD / UPDATE / REMOVE)
  over a vertex-id space of hundreds of thousands, with a hot subset.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EMB_DIM = 64
EMB_MOD = 500  # vertex space of the tensor fixtures (graph.edges.EMB_MOD)

SF01_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
# tables large enough that the seed also picks which rows share a file; the
# file count is fixed, because it sets the scan parallelism
SPLIT_TABLES = ("orders", "lineitem", "events")
SPLIT_FILES = 4
# the corpus content does not depend on --seed, so runs with different
# seeds scan the same values and differ only in layout
CONTENT_SEED = 0

# Edge stream: destination in-degree follows Zipf's law with exponent
# s = 1 / (gamma - 1) = 0.91, the rank form of the power-law in-degree
# exponent gamma = 2.1 that Broder et al. measured on the web graph
# ("Graph structure in the Web", WWW 2000).
ZIPF_S = 1.0 / (2.1 - 1.0)
YEARS = 5  # yearly windows the event time crosses

# GraphOp log: vertex-id space and a hot subset that takes a share of the
# mutations, so state grows with distinct vertices while some keys repeat
VERTICES = 400_000
HOT_VERTICES = 5_000
HOT_SHARE = 0.3

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_COLORS = ["blue", "hot", "large", "small", "red", "green", "pale", "dark"]
_NOUNS = ["anvil", "bolt", "ring", "widget", "gear", "spring", "valve", "nut"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

_DAY_MS = 86_400_000
_EPOCH_1995_MS = 788_918_400_000  # 1995-01-01T00:00:00Z
_EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
_EPOCH_2018_US = 1_514_764_800_000_000  # 2018-01-01T00:00:00Z
_YEAR_US = 365 * 86_400 * 1_000_000


def seeded(*key: int) -> np.random.RandomState:
    """A generator drawn from ``key``, which may hold any integers: the
    benchmark's ``--seed`` can exceed the 32 bits ``RandomState(seed)``
    accepts, and a pass number is mixed in without arithmetic on the seed."""
    return np.random.RandomState(np.random.MT19937(np.random.SeedSequence([k % 2**64 for k in key])))


def _money(rng: np.random.RandomState, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _embeddings(rng: np.random.RandomState, n: int) -> pa.Table:
    vecs = rng.randn(n, EMB_DIM)
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), EMB_DIM)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": emb.cast(pa.list_(pa.float32())),
            "label": pa.array(rng.randint(0, 10, n).astype(np.int32)),
        }
    )


def _documents(rng: np.random.RandomState, n: int) -> pa.Table:
    lengths = rng.randint(10, 101, n)
    words = np.array(_WORDS)
    texts = [" ".join(words[rng.randint(0, len(words), k)]) for k in lengths]
    # planted exact duplicates for the dedup keys
    for dst in rng.choice(n, 8, replace=False):
        texts[dst] = texts[rng.randint(0, n)]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(np.array(_LANGS)[rng.choice(5, n, p=_LANG_P)]),
            "source": pa.array([f"src{i}" for i in rng.randint(0, 20, n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def corpus_tables(scale: float = 1.0) -> dict[str, pa.Table]:
    """The sf0.1-shaped corpus as in-memory Arrow tables, with every row
    count multiplied by ``scale``."""
    rng = np.random.RandomState(CONTENT_SEED)
    r = {name: int(rows * scale) for name, rows in SF01_ROWS.items()}
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(_REGIONS),
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
        }
    )
    n = r["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
            "c_nationkey": pa.array(rng.randint(0, 25, n).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
            "c_mktsegment": pa.array(np.array(_SEGMENTS)[rng.randint(0, 5, n)]),
        }
    )
    n = r["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
            "s_nationkey": pa.array(rng.randint(0, 25, n).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
        }
    )
    n = r["part"]
    names = [f"{c} {w}" for c in _COLORS for w in _NOUNS]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n, dtype=np.int64)),
            "p_name": pa.array(np.array(names)[rng.randint(0, len(names), n)]),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.randint(1, 26, n)]),
            "p_type": pa.array(np.array(_PTYPES)[rng.randint(0, 6, n)]),
            "p_size": pa.array(rng.randint(1, 51, n).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + (np.arange(n) % 1000) / 10.0, 2)),
        }
    )
    n = r["orders"]
    # a few customers place no order, so the anti-join has rows
    buyers = np.setdiff1d(np.arange(r["customer"]), rng.choice(r["customer"], 5, replace=False))
    order_days = rng.randint(0, 2404, n)
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
            "o_custkey": pa.array(buyers[rng.randint(0, len(buyers), n)].astype(np.int64)),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.randint(0, 3, n)]),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n)),
            "o_orderdate": pa.array(_EPOCH_1995_MS + order_days * _DAY_MS, pa.timestamp("ms")),
            "o_orderpriority": pa.array(np.array(_PRIORITIES)[rng.randint(0, 5, n)]),
        }
    )
    n = r["lineitem"]
    qty = rng.randint(1, 51, n).astype(np.float64)
    ship_days = rng.randint(1, 2499, n)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.randint(0, r["orders"], n).astype(np.int64)),
            "l_partkey": pa.array(rng.randint(0, r["part"], n).astype(np.int64)),
            "l_suppkey": pa.array(rng.randint(0, r["supplier"], n).astype(np.int64)),
            "l_linenumber": pa.array(rng.randint(1, 8, n).astype(np.int32)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n), 2)),
            "l_discount": pa.array(rng.randint(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.randint(0, 9, n) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.randint(0, 3, n)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.randint(0, 2, n)]),
            "l_shipdate": pa.array(_EPOCH_1995_MS + ship_days * _DAY_MS, pa.timestamp("ms")),
        }
    )
    n = r["events"]
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.randint(0, month_us, n)) + _EPOCH_2024_US
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.randint(0, 1500, n).astype(np.int64)),
            "event_type": pa.array(np.array(_EVENT_TYPES)[rng.randint(0, 5, n)]),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([json.dumps({"k": int(k)}) for k in rng.randint(0, 100, n)]),
        }
    )
    t["documents"] = _documents(rng, r["documents"])
    t["embeddings"] = _embeddings(rng, r["embeddings"])
    return t


def write_corpus(seed: int, out_dir: str, scale: float = 1.0) -> dict[str, str]:
    """Write the corpus as ``<out_dir>/<table>.parquet``, laid out by ``seed``.

    Small tables are one file. Each table in ``SPLIT_TABLES`` is a directory
    of ``SPLIT_FILES`` part files holding a seeded permutation of its rows. Returns
    table name -> DuckDB scan expression over the written files."""
    rng = seeded(seed)
    os.makedirs(out_dir, exist_ok=True)
    scans = {}
    for name, table in corpus_tables(scale).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        if name not in SPLIT_TABLES:
            pq.write_table(table, path)
            scans[name] = f"read_parquet('{path}')"
            continue
        table = table.take(pa.array(rng.permutation(table.num_rows)))
        os.makedirs(path)
        bounds = np.linspace(0, table.num_rows, SPLIT_FILES + 1).astype(int)
        for i, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:])):
            pq.write_table(table.slice(lo, hi - lo), os.path.join(path, f"part-{i:05d}.parquet"))
        scans[name] = f"read_parquet('{path}/*.parquet')"
    return scans


def write_embeddings(seed: int, out_dir: str) -> str:
    """Only the ``embeddings`` table (EMB_MOD vectors), for the GNN stream."""
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "embeddings.parquet")
    pq.write_table(_embeddings(seeded(seed), EMB_MOD), path)
    return path


class EdgeStream:
    """Edge-event chunks (src_v, dst_v, ts) for ``windowed_sage``."""

    schema = "src_v long, dst_v long, ts timestamp"

    def __init__(self, seed: int) -> None:
        self.rng = seeded(seed)
        ranks = np.arange(1, EMB_MOD + 1, dtype=np.float64)
        p = ranks**-ZIPF_S
        self.p = p / p.sum()
        self.hot = self.rng.permutation(EMB_MOD)  # which vertex gets which rank

    def chunks(self, n_chunks: int, rows: int) -> list[pa.Table]:
        """``n_chunks`` chunks of ``rows`` edges whose event time advances
        evenly from 2018-01-01 across ``YEARS`` yearly windows."""
        span = YEARS * _YEAR_US
        total = n_chunks * rows
        out = []
        for c in range(n_chunks):
            idx = np.arange(c * rows, (c + 1) * rows)
            out.append(
                pa.table(
                    {
                        "src_v": pa.array(self.rng.randint(0, EMB_MOD, rows).astype(np.int64)),
                        "dst_v": pa.array(
                            self.hot[self.rng.choice(EMB_MOD, rows, p=self.p)].astype(np.int64)
                        ),
                        "ts": pa.array(_EPOCH_2018_US + idx * span // total, pa.timestamp("us")),
                    }
                )
            )
        return out


class GraphOpStream:
    """GraphOp mutation chunks (seq, op, vertex, feat_value, ts) for
    ``latest_state``. ``seq`` is the log's total order and runs on across
    calls, so successive phases never reuse a sequence number."""

    schema = "seq long, op string, vertex long, feat_value double, ts timestamp"
    OPS = np.array(["ADD", "UPDATE", "REMOVE"])
    OP_P = [0.25, 0.65, 0.10]

    def __init__(self, seed: int) -> None:
        self.rng = seeded(seed)
        self.hot_ids = self.rng.choice(VERTICES, HOT_VERTICES, replace=False)
        self.seq = 0

    def chunks(self, n_chunks: int, rows: int) -> list[pa.Table]:
        out = []
        for _ in range(n_chunks):
            seq = np.arange(self.seq, self.seq + rows, dtype=np.int64)
            self.seq += rows
            is_hot = self.rng.rand(rows) < HOT_SHARE
            vertex = np.where(
                is_hot,
                self.hot_ids[self.rng.randint(0, HOT_VERTICES, rows)],
                self.rng.randint(0, VERTICES, rows),
            ).astype(np.int64)
            out.append(
                pa.table(
                    {
                        "seq": pa.array(seq),
                        "op": pa.array(self.OPS[self.rng.choice(3, rows, p=self.OP_P)]),
                        "vertex": pa.array(vertex),
                        "feat_value": pa.array(_money(self.rng, 0.0, 1000.0, rows)),
                        "ts": pa.array(_EPOCH_2024_US + seq * 1000, pa.timestamp("us")),
                    }
                )
            )
        return out


def write_chunks(tables: list[pa.Table], out_dir: str) -> list[str]:
    """Write pre-built chunks as a backlog (``part-<n>.parquet``), in order."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i, table in enumerate(tables):
        path = os.path.join(out_dir, f"part-{i:06d}.parquet")
        pq.write_table(table, path)
        paths.append(path)
    return paths
