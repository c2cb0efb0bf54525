"""Seeded input tables for the benchmark.

The tables follow the schema of the engine's synthetic TPC-H-style star
schema (region, nation, customer, supplier, part, orders, lineitem), the
`events` stream, the `documents` corpus and the `embeddings` table, with
the same column types and value domains. Row counts are fixed by the
scale, so every seed does the same amount of work; the seed moves only
the values. Document words are drawn from a fixed vocabulary with
Zipf-like frequencies, so terms cover a wide range of document
frequency. `documents` and `embeddings` carry planted
near-duplicate clusters: some rows are copies of a base row with seeded
edits (word substitutions for text, small noise for vectors), which sets
how much work the candidate pairs of the near-duplicate operators share.

The program receives only the parquet files written here.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def _vocabulary(n_words: int = 3000) -> list[str]:
    """A fixed list of distinct lowercase words, two or three syllables
    each; the same for every seed."""
    syl = [c + v for c in "bdfghklmnprstvz" for v in "aeiou"]
    rng = np.random.default_rng(0)
    words: dict[str, None] = {}
    while len(words) < n_words:
        words["".join(syl[i] for i in rng.integers(0, len(syl), int(rng.integers(2, 4))))] = None
    return list(words)


# word of rank r is drawn with weight 1 / (r + 2.7) (Zipf–Mandelbrot)
VOCAB = _vocabulary()
_WEIGHTS = 1.0 / (np.arange(len(VOCAB)) + 2.7)
_WEIGHTS /= _WEIGHTS.sum()
PART_ADJ = "blue cold hot large new old red small".split()
PART_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
PART_TYPES = "ECONOMY LARGE MEDIUM PROMO SMALL STANDARD".split()
SEGMENTS = "AUTOMOBILE BUILDING FURNITURE HOUSEHOLD MACHINERY".split()
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = "click error purchase signup view".split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


@dataclass(frozen=True)
class Scale:
    """Row counts of the derived tables."""

    customers: int = 750
    suppliers: int = 50
    parts: int = 1000
    orders: int = 7500
    lineitems: int = 30000
    events: int = 10000
    users: int = 150
    base_docs: int = 400
    dup_docs: int = 100
    base_vecs: int = 400
    dup_vecs: int = 100
    dim: int = 64


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _days(rng, n, start, span_days):
    base = np.datetime64(start, "us")
    day = np.timedelta64(86_400_000_000, "us")
    return base + rng.integers(0, span_days, n) * day


def _doc_words(rng, n_words):
    return [VOCAB[i] for i in rng.choice(len(VOCAB), n_words, p=_WEIGHTS)]


def _documents(rng, scale: Scale):
    texts = [" ".join(_doc_words(rng, int(rng.integers(10, 100)))) for _ in range(scale.base_docs)]
    # near-duplicate clusters: a replica substitutes ~3% of its base's words
    for _ in range(scale.dup_docs):
        words = texts[int(rng.integers(0, scale.base_docs))].split()
        for pos in rng.integers(0, len(words), max(1, len(words) // 33)):
            words[pos] = _doc_words(rng, 1)[0]
        texts.append(" ".join(words))
    order = rng.permutation(len(texts))
    texts = [texts[i] for i in order]
    n = len(texts)
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[i] for i in rng.integers(0, len(LANGS), n)], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _embeddings(rng, scale: Scale):
    base = rng.standard_normal((scale.base_vecs, scale.dim))
    src = rng.integers(0, scale.base_vecs, scale.dup_vecs)
    dups = base[src] + 0.05 * rng.standard_normal((scale.dup_vecs, scale.dim))
    vecs = np.vstack([base, dups])[rng.permutation(scale.base_vecs + scale.dup_vecs)]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    n = len(vecs)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    }


def derive(out_dir: str, seed: int, scale: Scale = Scale()) -> dict[str, str]:
    """Write every table for `seed` under `out_dir`; return name → path."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    nc = scale.customers
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": pa.array(money(-999.99, 9999.99, nc)),
        "c_mktsegment": pa.array([SEGMENTS[i] for i in rng.integers(0, 5, nc)]),
    })
    ns = scale.suppliers
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": pa.array(money(-999.99, 9999.99, ns)),
    })
    np_ = scale.parts
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(np_, dtype=np.int64)),
        "p_name": pa.array([
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))
        ]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, np_)]),
        "p_type": pa.array([PART_TYPES[i] for i in rng.integers(0, 6, np_)]),
        "p_size": pa.array(rng.integers(1, 51, np_).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(np_) % 1000) / 10.0, 2)),
    })
    no = scale.orders
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no).astype(np.int64)),
        "o_orderstatus": pa.array([("F", "O", "P")[i] for i in rng.integers(0, 3, no)]),
        "o_totalprice": pa.array(money(1000.0, 500000.0, no)),
        "o_orderdate": pa.array(_days(rng, no, "1995-01-01", 2404)),
        "o_orderpriority": pa.array([PRIORITIES[i] for i in rng.integers(0, 5, no)]),
    })
    nl = scale.lineitems
    qty = rng.integers(1, 51, nl).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, np_, nl).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2000.0, nl), 2)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array([("A", "N", "R")[i] for i in rng.integers(0, 3, nl)]),
        "l_linestatus": pa.array([("F", "O")[i] for i in rng.integers(0, 2, nl)]),
        "l_shipdate": pa.array(_days(rng, nl, "1995-01-02", 2498)),
    })
    ne = scale.events
    gaps = rng.exponential(30 * 86_400e6 / ne, ne).astype(np.int64)
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, scale.users, ne).astype(np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, ne)]),
        "value": pa.array(np.round(rng.exponential(50.0, ne), 2)),
        "props": pa.array([f'{{"k": {i}}}' for i in rng.integers(0, 100, ne)]),
    })
    _write(out_dir, "documents", _documents(rng, scale))
    _write(out_dir, "embeddings", _embeddings(rng, scale))
    return {n: os.path.join(out_dir, f"{n}.parquet") for n in TABLES}


TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()
