"""Seeded benchmark inputs.

Two kinds of input, both written as plain files so the program under
test receives only generated data:

- ``write_tables``: the star-schema + pipeline tables the registry
  queries read (same names, columns and types as the fixtures
  described in TESTDATA.md). Their CONTENT is generated from a fixed
  base seed, so every run queries the same rows and the oracle results
  do not depend on ``--seed``; the run seed picks the LAYOUT (the row
  order, and so which rows land in which of the equal-sized part files).
- ``write_corpus``: the MapReduce workload's inputs (a Zipf text corpus
  as one file, the same lines as pickled record files, and a header-less
  CSV). Their content comes from the run seed.

Everything is numpy + pyarrow, so generation costs no Spark job.
"""

from __future__ import annotations

import os
import pickle
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
PART_FILES = 4
# Row counts at scale 1.0 (TPC-H proportions; the fixtures' sf0.01 has
# these divided by 100).
_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 25_000,
    "embeddings": 25_000,
}
_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = ["en", "es", "zh", "de", "fr"]
_DAY_US = 86_400 * 1_000_000


@dataclass
class Layout:
    """What ``write_tables`` produced: the directory plus its size."""

    path: str
    bytes: int
    rows: int


def table_rows(scale: float) -> dict[str, int]:
    return {t: max(10, int(n * scale)) for t, n in _ROWS.items()}


def _days(rng: np.random.Generator, n: int, start: str, span_days: int) -> pa.Array:
    base = np.datetime64(start, "us").astype(np.int64)
    us = base + rng.integers(0, span_days, n) * _DAY_US
    return pa.array(us.astype("datetime64[us]"))


def _money(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def make_tables(scale: float) -> dict[str, pa.Table]:
    """The table contents (row order = key order) at ``scale``."""
    rng = np.random.default_rng(BASE_SEED)
    n = table_rows(scale)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng.uniform(-999.99, 9999.99, nc)),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], nc
            ),
        }
    )
    ns = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng.uniform(-999.99, 9999.99, ns)),
        }
    )
    npart = n["part"]
    adjectives = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
    nouns = ["bolt", "gear", "ring", "rod", "plate", "anvil", "widget", "gizmo"]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart), pa.int64()),
            "p_name": [
                f"{adjectives[a]} {nouns[b]}"
                for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
            "p_type": rng.choice(
                ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], npart
            ),
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(npart) % 1000) * 0.1, 1),
        }
    )
    no = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], no),
            "o_totalprice": _money(rng.uniform(1000, 500_000, no)),
            "o_orderdate": _days(rng, no, "1995-01-01", 2404),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no
            ),
        }
    )
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": _money(rng.uniform(900, 105_000, nl)),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], nl),
            "l_linestatus": rng.choice(["F", "O"], nl),
            "l_shipdate": _days(rng, nl, "1995-01-02", 2498),
        }
    )
    ne = n["events"]
    users = max(10, ne // 66)
    ts = np.sort(rng.integers(0, 30 * _DAY_US, ne)) + np.datetime64(
        "2024-01-01", "us"
    ).astype(np.int64)
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": pa.array(ts.astype("datetime64[us]")),
            "user_id": pa.array(rng.integers(0, users, ne), pa.int64()),
            "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], ne),
            "value": np.maximum(_money(rng.exponential(50.0, ne)), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i >= 10 and rng.random() < 0.1:
            # near-duplicate of an earlier document: one word replaced
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = list(rng.choice(_VOCAB, int(rng.integers(10, 100))))
        texts.append(" ".join(words))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(nd), pa.int64()),
            "text": texts,
            "lang": rng.choice(_LANGS, nd, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centroids = rng.normal(0, 1, (10, 64))
    vecs = centroids[labels] + rng.normal(0, 1.5, (nv, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(nv), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


def write_tables(tables: dict[str, pa.Table], out: str, seed: int) -> Layout:
    """Write every table as ``<out>/<name>.parquet/part-*.parquet``:
    ``seed`` picks the row order, and so which rows land in which file.
    The files are equal in row count and their number is fixed
    (``PART_FILES``, 1 for tiny tables), so scan parallelism is the same
    for every seed."""
    rng = np.random.default_rng(seed)
    shutil.rmtree(out, ignore_errors=True)
    size = rows = 0
    for name, table in tables.items():
        d = os.path.join(out, f"{name}.parquet")
        os.makedirs(d)
        shuffled = table.take(pa.array(rng.permutation(table.num_rows)))
        k = 1 if table.num_rows < 100 else PART_FILES
        bounds = [i * table.num_rows // k for i in range(k + 1)]
        for i in range(k):
            f = os.path.join(d, f"part-{i:05d}.parquet")
            pq.write_table(shuffled.slice(bounds[i], bounds[i + 1] - bounds[i]), f)
            size += os.path.getsize(f)
        rows += table.num_rows
    return Layout(out, size, rows)


# -- MapReduce corpus ---------------------------------------------------

BREEDS = [f"breed{i:02d}" for i in range(20)]
PICKLE_FILES = 4


def make_corpus(seed: int, lines: int) -> tuple[list[str], list[str]]:
    """Zipf-distributed text lines ``doc<id>\\t<words>`` and CSV rows
    ``breed,age`` (one breed takes ~30% of rows, one has a single row)."""
    rng = np.random.default_rng(seed)
    vocab = [f"w{i}" for i in range(20_000)]
    lens = rng.integers(5, 25, lines)
    ranks = np.minimum(rng.zipf(1.3, int(lens.sum())), len(vocab)) - 1
    text: list[str] = []
    pos = 0
    for i, k in enumerate(lens):
        text.append(f"doc{i}\t" + " ".join(vocab[r] for r in ranks[pos : pos + k]))
        pos += k
    rows = lines // 2
    p = np.full(len(BREEDS) - 1, 0.7 / (len(BREEDS) - 2))
    p[0] = 0.3
    breeds = rng.choice(BREEDS[:-1], rows - 1, p=p).tolist() + [BREEDS[-1]]
    ages = rng.integers(0, 21, rows)
    csv = [f"{b},{a}" for b, a in zip(breeds, ages)]
    return text, csv


@dataclass
class Corpus:
    text_path: str
    csv_path: str
    pickle_dir: str
    lines: list[str]
    csv_rows: list[str]
    bytes: int


def write_corpus(seed: int, lines: int, out: str) -> Corpus:
    text, csv = make_corpus(seed, lines)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "pickled"))
    text_path = os.path.join(out, "corpus.txt")
    csv_path = os.path.join(out, "dogs.csv")
    with open(text_path, "w") as f:
        f.write("\n".join(text) + "\n")
    with open(csv_path, "w") as f:
        f.write("\n".join(csv) + "\n")
    size = os.path.getsize(text_path) + os.path.getsize(csv_path)
    step = -(-len(text) // PICKLE_FILES)
    for i in range(PICKLE_FILES):
        f = os.path.join(out, "pickled", f"records-{i:03d}.pkl")
        with open(f, "wb") as fh:
            pickle.dump(text[i * step : (i + 1) * step], fh, protocol=4)
        size += os.path.getsize(f)
    return Corpus(text_path, csv_path, os.path.join(out, "pickled"), text, csv, size)
