"""Seeded generator for the benchmark's input tables.

Writes the ten tables the engine reads (``region nation customer
supplier part orders lineitem events documents embeddings``, one
parquet file each, same schemas as the test corpora in TESTDATA.md) into a
directory of the caller's choice. The same ``seed`` and spec give
byte-identical files.

Two kinds of ``documents`` corpus:

* ``small`` mirrors the test corpora: a 31-token vocabulary.
* ``zipf`` draws tokens from a Zipf(1.0) law over a large vocabulary,
  so text pipelines (tf-idf, hashed-TF classifiers) see a long-tailed
  vocabulary. The relevant records of a screening task are those that
  contain the token the MLlib classifiers' label tests for (``spark``,
  operators/ml.py ``_featurized``); its Zipf rank makes them a
  minority, as in systematic-review screening.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SMALL_VOCAB = (
    "scan column window order sort part agg value line key join merge group"
    " query a vector hash slow stream filter fast batch spark the table small"
    " data big customer row"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
TS_US = pa.timestamp("us")
SF = 0.001  # star-schema scale (lineitem ≈ 6e6 × SF rows)
EMBEDDINGS = 500  # rows of the embeddings table
VOCAB = 200_000  # Zipf vocabulary size
LABEL = "spark"
# Zipf rank of LABEL: with 200-300 tokens per record, about 7% of
# records contain it.
LABEL_RANK = 278


@dataclass(frozen=True)
class Spec:
    """Size and kind of the generated ``documents`` corpus."""

    docs: int = 500
    doc_len: tuple[int, int] = (10, 100)  # tokens per document, inclusive
    zipf: bool = False


def _zipf_word(rank: int) -> str:
    if rank == LABEL_RANK:
        return LABEL
    s, n = "", rank
    while True:
        n, r = divmod(n, 26)
        s = chr(97 + r) + s
        if n == 0:
            return "w" + s


def _dates(rng: np.random.Generator, start: str, days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, days, n)).astype("datetime64[us]")


def star_tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    """TPC-H-like star schema plus the ``events`` stream table."""
    n_cust = max(int(150_000 * sf), 15)
    n_supp = max(int(10_000 * sf), 5)
    n_part = max(int(200_000 * sf), 20)
    n_ord = max(int(1_500_000 * sf), 150)
    n_ev = max(int(1_000_000 * sf), 100)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    adj = ["blue", "hot", "small", "old", "red", "new", "cold", "large"]
    noun = ["bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "gizmo"]
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900.0 + rng.integers(0, 1000, n_part) / 10.0, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": pa.array(_dates(rng, "1995-01-01", 2400, n_ord), TS_US),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": np.repeat(np.arange(n_ord, dtype=np.int64), lines),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(
            (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
        ),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": pa.array(_dates(rng, "1995-01-02", 2500, n_li), TS_US),
    })
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(
        rng.integers(0, 30 * 86_400_000_000, n_ev)
    )
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, TS_US),
        "user_id": rng.integers(0, max(n_ev // 66, 2), n_ev),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.uniform(0.01, 490.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    return t


def documents(rng: np.random.Generator, spec: Spec) -> pa.Table:
    n = spec.docs
    lens = rng.integers(spec.doc_len[0], spec.doc_len[1] + 1, n)
    lang = rng.choice(LANGS, n)
    if spec.zipf:
        p = 1.0 / np.arange(1, VOCAB + 1)
        toks = rng.choice(VOCAB, int(lens.sum()), p=p / p.sum())
        words = np.array([_zipf_word(r) for r in range(VOCAB)], dtype=object)
    else:
        toks = rng.integers(0, len(SMALL_VOCAB), int(lens.sum()))
        words = np.array(SMALL_VOCAB, dtype=object)
    bounds = np.cumsum(lens)
    text = [" ".join(ws) for ws in np.split(words[toks], bounds[:-1])]
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": text,
        "lang": lang.astype(object),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(s) for s in text], dtype=np.int64),
    })


def embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    v = rng.standard_normal((n, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def corpus_stats(docs: pa.Table) -> dict:
    """Doc count, token count, distinct vocabulary and the share of
    records containing LABEL (the positives)."""
    toks = [s.split(" ") for s in docs.column("text").to_pylist()]
    return {
        "docs": len(toks),
        "tokens": sum(map(len, toks)),
        "vocab": len({w for t in toks for w in t}),
        "positive_share": round(sum(LABEL in t for t in toks) / max(len(toks), 1), 4),
    }


def generate(out_dir: str, seed: int, spec: Spec) -> dict:
    """Write every table under ``out_dir``; return a summary of what was
    written, including the corpus statistics and a hash of the
    documents file."""
    rng = np.random.default_rng(seed)
    tables = star_tables(rng, SF)
    tables["documents"] = documents(rng, spec)
    tables["embeddings"] = embeddings(rng, EMBEDDINGS)
    os.makedirs(out_dir, exist_ok=True)
    for name, tab in tables.items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"))
    with open(os.path.join(out_dir, "documents.parquet"), "rb") as fh:
        digest = hashlib.sha256(fh.read()).hexdigest()
    return {
        "seed": seed,
        "spec": asdict(spec),
        "rows": {k: v.num_rows for k, v in tables.items()},
        "corpus": corpus_stats(tables["documents"]),
        "documents_sha256": digest,
    }
