"""Seeded input generators for the benchmark workloads.

Every table is written with the fixture schema the engine reads
(FIXTURES.md), so the engine only ever sees a generated directory of
parquet files. The same seed always produces byte-identical inputs.

- ``fixture_tables``: the ten fixture tables (star schema, events,
  documents, embeddings) with the fixture value distributions: random
  30-word-vocabulary documents with 5% ``" dup"`` near-copies, weakly
  clustered 64-d embeddings over 10 labels, a one-month event stream.
- ``blobs``: a Gaussian-blob ``embeddings.parquet`` (10 well separated
  blobs) large enough to span many partitions.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
N_LABELS = 10

_VOCAB = (
    "a the data spark window merge table column vector stream value small "
    "join filter big group hash customer sort order slow line part fast row "
    "agg key query scan batch"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
_EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
_SEGMENTS = ["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"]
_PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
_PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
_PART_TYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)

#: Row counts of the sf0.1 fixture directory.
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


def write_table(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, n_days: int, n: int):
    return pa.array(
        _EPOCH_1995 + rng.integers(0, n_days, n) * _DAY_US,
        type=pa.timestamp("us"),
    )


def _keys(n: int):
    return pa.array(np.arange(n, dtype=np.int64))


def documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    """Random-vocabulary documents; 5% are ``<other doc> + " dup"``."""
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(_VOCAB), int(lens.sum()))
    texts, pos = [], 0
    for ln in lens:
        texts.append(" ".join(_VOCAB[w] for w in words[pos : pos + ln]))
        pos += ln
    n_dup = n // 20
    dup_rows = rng.choice(n, n_dup, replace=False)
    for r in dup_rows:
        texts[r] = texts[int(rng.integers(0, n))] + " dup"
    return pa.table(
        {
            "doc_id": _keys(n),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P)),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], np.int64)),
        }
    )


def embeddings_table(
    rng: np.random.Generator, n: int, spread: float, noise: float
) -> pa.Table:
    """``n`` 64-d float32 vectors around ``N_LABELS`` random centres."""
    centres = rng.normal(0.0, spread, (N_LABELS, DIM))
    labels = rng.integers(0, N_LABELS, n).astype(np.int32)
    x = (centres[labels] + rng.normal(0.0, noise, (n, DIM))).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), DIM).cast(
        pa.list_(pa.float32())
    )
    return pa.table(
        {"vec_id": _keys(n), "embedding": emb, "label": pa.array(labels)}
    )


def orders_table(rng: np.random.Generator, n: int, n_cust: int) -> pa.Table:
    return pa.table(
        {
            "o_orderkey": _keys(n),
            "o_custkey": pa.array(rng.integers(0, n_cust, n)),
            "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], n)),
            "o_totalprice": pa.array(_cents(rng, 1000.0, 500_000.0, n)),
            "o_orderdate": _days(rng, 2404, n),
            "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n)),
        }
    )


def fixture_tables(out_dir: str, seed: int, rows: dict[str, int]) -> None:
    """Write the ten fixture tables to ``out_dir`` (``rows`` as
    ``SF01_ROWS``)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    write_table(
        out_dir,
        "region",
        pa.table(
            {
                "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
    )
    write_table(
        out_dir,
        "nation",
        pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
            }
        ),
    )
    nc, ns, np_ = rows["customer"], rows["supplier"], rows["part"]
    write_table(
        out_dir,
        "customer",
        pa.table(
            {
                "c_custkey": _keys(nc),
                "c_name": [f"Customer#{i:09d}" for i in range(nc)],
                "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
                "c_acctbal": pa.array(_cents(rng, -999.99, 9999.99, nc)),
                "c_mktsegment": pa.array(rng.choice(_SEGMENTS, nc)),
            }
        ),
    )
    write_table(
        out_dir,
        "supplier",
        pa.table(
            {
                "s_suppkey": _keys(ns),
                "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
                "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
                "s_acctbal": pa.array(_cents(rng, -999.99, 9999.99, ns)),
            }
        ),
    )
    write_table(
        out_dir,
        "part",
        pa.table(
            {
                "p_partkey": _keys(np_),
                "p_name": [
                    f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                    for a, b in rng.integers(0, 8, (np_, 2))
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
                "p_type": pa.array(rng.choice(_PART_TYPES, np_)),
                "p_size": pa.array(rng.integers(1, 51, np_).astype(np.int32)),
                "p_retailprice": pa.array(
                    np.round(900.0 + (np.arange(np_) % 1000) * 0.1, 2)
                ),
            }
        ),
    )
    no = rows["orders"]
    write_table(out_dir, "orders", orders_table(rng, no, nc))
    nl = rows["lineitem"]
    write_table(
        out_dir,
        "lineitem",
        pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, no, nl)),
                "l_partkey": pa.array(rng.integers(0, np_, nl)),
                "l_suppkey": pa.array(rng.integers(0, ns, nl)),
                "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
                "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
                "l_extendedprice": pa.array(_cents(rng, 901.0, 104_950.0, nl)),
                "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
                "l_returnflag": pa.array(rng.choice(["N", "R", "A"], nl)),
                "l_linestatus": pa.array(rng.choice(["F", "O"], nl)),
                "l_shipdate": _days(rng, 2500, nl),
            }
        ),
    )
    ne = rows["events"]
    month_us = 30 * _DAY_US
    ts = np.sort(rng.integers(0, month_us, ne))
    write_table(
        out_dir,
        "events",
        pa.table(
            {
                "event_id": _keys(ne),
                "ts": pa.array(_EPOCH_2024 + ts, type=pa.timestamp("us")),
                "user_id": pa.array(rng.integers(0, max(1, ne * 3 // 200), ne)),
                "event_type": pa.array(rng.choice(_EVENT_TYPES, ne)),
                "value": pa.array(np.round(rng.exponential(50.0, ne), 2)),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
            }
        ),
    )
    write_table(out_dir, "documents", documents_table(rng, rows["documents"]))
    write_table(
        out_dir,
        "embeddings",
        embeddings_table(rng, rows["embeddings"], spread=0.01, noise=0.125),
    )


def blobs(out_dir: str, seed: int, n: int, files: int) -> None:
    """A Gaussian-blob ``embeddings.parquet`` directory of ``files``
    parquet parts (so the scan starts with that many partitions)."""
    path = os.path.join(out_dir, "embeddings.parquet")
    os.makedirs(path, exist_ok=True)
    rng = np.random.default_rng(seed)
    table = embeddings_table(rng, n, spread=0.5, noise=0.15)
    step = -(-n // files)
    for i in range(files):
        pq.write_table(
            table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet")
        )


def dir_bytes(path: str) -> int:
    """Total size of the regular files under ``path``."""
    total = 0
    for root, _dirs, names in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in names)
    return total
