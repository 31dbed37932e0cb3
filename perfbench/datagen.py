"""Seeded input generation for the benchmark.

Everything the program under test reads is made here from one seed:
the TPC-H-ish tables (same schemas, value domains and row counts as the
repo's sf test data), the byte blocks behind the lazy-fetch ops, the
frozen subtree behind the ``pufs`` scan, and the serving catalog. The
same seed gives byte-identical inputs.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "hot", "new", "red", "small", "old", "big", "green"]
PART_NOUN = ["anvil", "bolt", "plate", "ring", "rod", "widget", "gear", "pipe"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
VOCAB = (
    "a the key agg row scan slow fast table value part hash line sort "
    "window merge batch spark order data column join small customer "
    "query big stream group filter has"
).split()

DAY_US = 86_400 * 1_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(path: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), path, row_group_size=1 << 30)


def _documents(rng: np.random.Generator, n: int) -> dict:
    """Word-salad documents over a small vocabulary, with about 5%
    near-copies (1-3 word substitutions) and 0.2% exact copies of an
    earlier document, so the dedup and near-dup operators find work."""
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 20 and r < 0.002:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i > 20 and r < 0.052:
            words = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = str(rng.choice(vocab))
            texts.append(" ".join(words))
            continue
        texts.append(" ".join(rng.choice(vocab, int(rng.integers(10, 110)))))
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write the ten tables for scale factor ``sf``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust = max(10, round(150_000 * sf))
    n_supp = max(10, round(10_000 * sf))
    n_part = max(10, round(200_000 * sf))
    n_ord = max(10, round(1_500_000 * sf))
    n_line = max(10, round(6_000_000 * sf))
    n_ev = max(10, round(1_000_000 * sf))
    n_users = max(5, round(15_000 * sf))
    n_docs = max(500, round(50_000 * sf))
    n_emb = max(500, round(20_000 * sf))
    p = lambda t: os.path.join(out_dir, f"{t}.parquet")  # noqa: E731

    _write(p("region"), {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })
    _write(p("nation"), {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    _write(p("customer"), {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
    })
    _write(p("supplier"), {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    keys = np.arange(n_part, dtype=np.int64)
    _write(p("part"), {
        "p_partkey": pa.array(keys),
        "p_name": pa.array(rng.choice(names, n_part)),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 1)),
    })
    _write(p("orders"), {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2405, n_ord) * DAY_US),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord)),
    })
    _write(p("lineitem"), {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2500, n_line) * DAY_US),
    })
    _write(p("events"), {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _ts(EPOCH_2024 + np.sort(rng.integers(0, 30 * DAY_US, n_ev))),
        "user_id": pa.array(rng.integers(0, n_users, n_ev, dtype=np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev)),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    _write(p("documents"), _documents(rng, n_docs))
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(p("embeddings"), {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32)),
    })


# ---------------------------------------------------------------------------
# Lazy-fetch blocks and the frozen subtree (lake_queries X1-X3)
# ---------------------------------------------------------------------------


@dataclass
class FetchSet:
    """Seeded blocks in a remote plus byte ranges over them."""

    blocks: dict[str, bytes]  # bid -> bytes
    ranges: list[tuple[str, int, int]]  # (bid, start, end)

    def expected(self, bid: str, start: int, end: int) -> bytes:
        return self.blocks[bid][start:end]


def fetch_set(seed: int, n_blocks: int, n_ranges: int) -> FetchSet:
    rng = np.random.default_rng([seed, 2])
    blocks = {}
    for _ in range(n_blocks):
        data = rng.bytes(int(rng.integers(1 << 20, 3 << 20)))
        blocks[hashlib.sha256(data).hexdigest()] = data
    bids = sorted(blocks)
    ranges = []
    for _ in range(n_ranges):
        bid = bids[int(rng.integers(0, len(bids)))]
        length = int(np.exp(rng.uniform(np.log(4096), np.log(256 << 10))))
        start = int(rng.integers(0, len(blocks[bid]) - length))
        ranges.append((bid, start, start + length))
    return FetchSet(blocks, ranges)


def subtree_files(seed: int, n_dirs: int, n_files: int) -> dict[str, bytes]:
    """path -> content for the frozen subtree the ``pufs`` scan reads."""
    rng = np.random.default_rng([seed, 3])
    return {
        f"/lake/d{d:02d}/part-{f:03d}.bin": rng.bytes(int(rng.integers(256, 64 << 10)))
        for d in range(n_dirs)
        for f in range(n_files)
    }


# ---------------------------------------------------------------------------
# The serving catalog (fs_serve_live)
# ---------------------------------------------------------------------------


@dataclass
class ServeCatalog:
    """A directory tree of ``n_top`` dirs x ``n_files`` small files,
    plus ``big`` files (ranged-read targets) under /big. Content is
    drawn from a pool so the CAS stays small; every path's expected
    (size, bid) is known without reading the store back."""

    n_top: int
    n_files: int
    pool: list[bytes]
    big: dict[str, bytes]
    _bids: list[str] = field(init=False, repr=False)

    def __post_init__(self):
        self._bids = [hashlib.sha256(b).hexdigest() for b in self.pool]

    def dir_path(self, i: int) -> str:
        return f"/dir{i:04d}"

    def file_path(self, i: int, j: int) -> str:
        return f"/dir{i:04d}/f{j:05d}"

    def pool_index(self, i: int, j: int) -> int:
        return (i * 7919 + j * 131) % len(self.pool)

    def content(self, i: int, j: int) -> bytes:
        return self.pool[self.pool_index(i, j)]

    def attr(self, i: int, j: int) -> tuple[int, str]:
        k = self.pool_index(i, j)
        return len(self.pool[k]), self._bids[k]

    def file_names(self) -> set[str]:
        """The pre-run names every directory lists."""
        return {f"f{j:05d}" for j in range(self.n_files)}

    @property
    def n_inodes(self) -> int:
        return 1 + self.n_top * (1 + self.n_files) + 1 + len(self.big)


def serve_catalog(seed: int, n_inodes: int, n_big: int) -> ServeCatalog:
    rng = np.random.default_rng([seed, 4])
    n_top = max(8, int(n_inodes ** 0.5 // 2))
    n_files = max(1, n_inodes // n_top - 1)
    pool = [rng.bytes(int(rng.integers(64, 4096))) for _ in range(509)]
    big = {
        f"/big/blob{k:03d}.bin": rng.bytes(int(rng.integers(1 << 20, 3 << 20)))
        for k in range(n_big)
    }
    return ServeCatalog(n_top, n_files, pool, big)
