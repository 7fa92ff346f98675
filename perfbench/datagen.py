"""Seeded input generator for the benchmark workloads.

Writes one parquet file per table (``<out>/<table>.parquet``) with the
schema and value distributions of the star-schema test tables the query
registry expects (TPC-H-like relational tables, an ``events`` stream, a
word-bag ``documents`` corpus and unit-norm ``embeddings``).

Two seeds are kept apart on purpose:

- the CONTENT is drawn from a fixed base seed, so every run of a workload
  does the same amount of work and every query result is the same;
- the run ``seed`` only changes how that content is laid out and encoded:
  rows of the order-insensitive relational tables are permuted, every
  table is split into a seed-chosen number of row groups, and corpus
  replicas ``1..k-1`` go through a character cipher keyed by the seed
  (a bijective, length-preserving substitution of ``[a-z0-9]``, so each
  replica's word sets, n-grams and shingles mirror replica 0's exactly
  while cross-replica similarity collapses to ~0).

The same seed therefore gives byte-identical files, and different seeds
give different bytes but identical relational query results.

``documents`` and ``events`` keep their key order (the file-source
streams rely on nondecreasing ``doc_id`` / ``ts`` within the file).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 20240101

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_STATUSES = ["F", "O", "P"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_COLORS = ["blue", "red", "green", "black", "white", "small", "large", "steel"]
_NOUNS = ["anvil", "widget", "bolt", "ring", "gear", "spring", "valve", "nut"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_ALPHABET = "abcdefghijklmnopqrstuvwxyz0123456789"

# order-insensitive tables: their rows are permuted per seed
_PERMUTED = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

_TS_US = pa.timestamp("us")
_DAY_US = 86_400_000_000
_EPOCH_1995 = 788_918_400_000_000  # 1995-01-01T00:00:00 in µs
_EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00 in µs


def cipher(seed: int, replica: int) -> str:
    """Seed-keyed permutation of ``[a-z0-9]``; replica 0 is the identity."""
    if replica == 0:
        return _ALPHABET
    chars = list(_ALPHABET)
    for i in range(len(chars) - 1, 0, -1):
        h = hashlib.md5(f"{seed}|{replica}|{i}".encode()).hexdigest()
        j = int(h[:8], 16) % (i + 1)
        chars[i], chars[j] = chars[j], chars[i]
    return "".join(chars)


def _relational(rng: np.random.Generator, scale: float) -> dict[str, pa.Table]:
    n_cust = max(150, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_ord = max(1500, int(1_500_000 * scale))
    n_users = max(15, n_cust // 10)
    n_events = max(1000, int(1_000_000 * scale))

    def money(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, n), 2)

    region = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": _REGIONS,
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    customer = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    supplier = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    part = pa.table({
        "p_partkey": pk,
        "p_name": [
            f"{_COLORS[c]} {_NOUNS[n]}"
            for c, n in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(_PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    odate_days = rng.integers(0, 2404, n_ord)
    orders = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        # as in TPC-H, every third customer never orders
        "o_custkey": 3 * rng.integers(0, n_cust // 3, n_ord, dtype=np.int64)
        + rng.integers(1, 3, n_ord),
        "o_orderstatus": np.array(_STATUSES)[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(_EPOCH_1995 + odate_days * _DAY_US, type=_TS_US),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    # ~4 lines per order (binomial), a few orders with none
    lines = rng.binomial(13, 0.31, n_ord)
    n_li = int(lines.sum())
    l_ok = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    l_ln = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
    lineitem = pa.table({
        "l_orderkey": l_ok,
        "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
        "l_linenumber": pa.array(l_ln),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        # whole hundreds: price * (1 - disc) * (1 + tax) then has at most
        # two decimals, so no rounded sum sits on a half-cent tie that the
        # engines' summation order could break either way
        "l_extendedprice": 100.0 * rng.integers(9, 1051, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(
            _EPOCH_1995 + (1 + rng.integers(0, 2499, n_li)) * _DAY_US, type=_TS_US
        ),
    })
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n_events))
    events = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(_EPOCH_2024 + ts, type=_TS_US),
        "user_id": rng.integers(0, n_users, n_events, dtype=np.int64),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_events)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_events), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem, "events": events,
    }


def _base_documents(rng: np.random.Generator, n_docs: int) -> list[str]:
    """Word-bag texts; ~5% near-duplicates (an earlier text plus " dup")
    and a few exact copies, so the dedup queries have true pairs."""
    vocab = np.array(_VOCAB)
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 100))]))
    return texts


def _corpus(rng: np.random.Generator, seed: int, n_docs: int, k: int) -> dict[str, pa.Table]:
    texts = _base_documents(rng, n_docs)
    langs = np.array(_LANGS)[rng.choice(5, n_docs, p=_LANG_P)]
    emb = rng.standard_normal((n_docs, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_docs, dtype=np.int32)

    doc_ids, all_texts = [], []
    for r in range(k):
        table = str.maketrans(_ALPHABET, cipher(seed, r))
        all_texts.extend(t.translate(table) for t in texts)
        doc_ids.append(np.arange(n_docs, dtype=np.int64) + r * n_docs)
    ids = np.concatenate(doc_ids)
    documents = pa.table({
        "doc_id": ids,
        "text": all_texts,
        "lang": np.tile(langs, k),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in all_texts], dtype=np.int64),
    })
    # replica r > 0 of a vector: seed-keyed noise at 3x the vector's own
    # scale (cosine to the source ~0.3), so replicas are new points
    vecs = [emb]
    for r in range(1, k):
        noise = np.random.default_rng([seed, r]).uniform(-1.0, 1.0, emb.shape)
        vecs.append((emb + 3.0 * noise * np.abs(emb)).astype(np.float32))
    flat = np.concatenate(vecs)
    embeddings = pa.table({
        "vec_id": ids,
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(flat.ravel(), type=pa.float32()), 64
        ).cast(pa.list_(pa.float32())),
        "label": np.tile(labels, k),
    })
    return {"documents": documents, "embeddings": embeddings}


def generate(out: str, seed: int, scale: float = 0.01, n_docs: int = 500, replicas: int = 1) -> dict[str, int]:
    """Write every table under ``out``; returns the bytes written per table."""
    rng = np.random.default_rng(BASE_SEED)
    tables = _relational(rng, scale)
    tables.update(_corpus(rng, seed, n_docs, replicas))
    layout = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    sizes = {}
    for name, tbl in tables.items():
        if name in _PERMUTED:
            tbl = tbl.take(layout.permutation(tbl.num_rows))
        groups = int(layout.integers(1, 5))
        path = os.path.join(out, f"{name}.parquet")
        pq.write_table(
            tbl, path, row_group_size=max(1, -(-tbl.num_rows // groups)), compression="snappy"
        )
        sizes[name] = os.path.getsize(path)
    return sizes


def main() -> None:
    ap = argparse.ArgumentParser(description="Write the seeded benchmark inputs; prints the bytes per table.")
    ap.add_argument("out")
    ap.add_argument("seed", type=int)
    ap.add_argument("--scale", type=float, default=0.01)
    ap.add_argument("--n-docs", type=int, default=500)
    ap.add_argument("--replicas", type=int, default=1)
    args = ap.parse_args()
    print(json.dumps(generate(args.out, args.seed, args.scale, args.n_docs, args.replicas)))


if __name__ == "__main__":
    main()
