"""Seeded input generators. Every function here is a pure function of its
`rng` (numpy Generator) and size arguments: the same seed gives the same
inputs, and the engine only ever sees what these functions produce.

Sizes are module constants; perfbench/README.md records why each was
chosen. All doubles are integer-valued (prices in whole units, discounts in
whole percent), so sums and averages are exact in both Spark and DuckDB and
the value hashes of the output checks cannot flip on summation order.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "view", "purchase", "search", "share", "login"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
COUNTRIES = ["de", "fr", "jp", "us", "br", "in"]

EPOCH_1992 = np.datetime64("1992-01-01T00:00:00", "us")
EVENTS_START = np.datetime64("2024-01-01T00:00:00", "us")
DAY_US = 86_400_000_000


def write_parquet(path: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), path)


# ------------------------------------------------------------------ catalog
# close to TPC-H sf0.04 (lineitem 240k rows)
ORDERS = 60_000
LINES_PER_ORDER = 4
CUSTOMERS = 6_000
EVENTS = 80_000
USERS = 2_000
DOCUMENTS = 4_000
VOCAB = 3_000


def write_catalog(rng: np.random.Generator, out_dir: str) -> dict:
    """TPC-H-shaped orders/lineitem/customer plus the events and documents
    tables, as parquet files named the way `meerkat_spark.catalog` expects.
    Returns row counts by table."""
    os.makedirs(out_dir, exist_ok=True)
    n_c, n_o = CUSTOMERS, ORDERS
    write_parquet(
        os.path.join(out_dir, "customer.parquet"),
        {
            "c_custkey": np.arange(1, n_c + 1, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(1, n_c + 1)],
            "c_nationkey": rng.integers(0, 25, n_c, dtype=np.int32),
            "c_acctbal": rng.integers(-999, 10_000, n_c).astype(np.float64),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_c)],
        },
    )
    order_days = rng.integers(0, 2400, n_o)
    write_parquet(
        os.path.join(out_dir, "orders.parquet"),
        {
            "o_orderkey": np.arange(1, n_o + 1, dtype=np.int64),
            "o_custkey": rng.integers(1, n_c + 1, n_o, dtype=np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_o)],
            "o_totalprice": rng.integers(1_000, 500_000, n_o).astype(np.float64),
            "o_orderdate": EPOCH_1992 + order_days * DAY_US,
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_o)],
        },
    )
    n_l = n_o * LINES_PER_ORDER
    l_order = np.repeat(np.arange(1, n_o + 1, dtype=np.int64), LINES_PER_ORDER)
    ship_days = np.repeat(order_days, LINES_PER_ORDER) + rng.integers(1, 120, n_l)
    write_parquet(
        os.path.join(out_dir, "lineitem.parquet"),
        {
            "l_orderkey": l_order,
            "l_partkey": rng.integers(1, 20_001, n_l, dtype=np.int64),
            "l_suppkey": rng.integers(1, 1_001, n_l, dtype=np.int64),
            "l_linenumber": np.tile(
                np.arange(1, LINES_PER_ORDER + 1, dtype=np.int32), n_o
            ),
            "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
            "l_extendedprice": rng.integers(900, 100_000, n_l).astype(np.float64),
            "l_discount": rng.integers(0, 11, n_l).astype(np.float64),
            "l_tax": rng.integers(0, 9, n_l).astype(np.float64),
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_l)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_l)],
            "l_shipdate": EPOCH_1992 + ship_days * DAY_US,
        },
    )
    n_e = EVENTS
    write_parquet(
        os.path.join(out_dir, "events.parquet"),
        {
            "event_id": np.arange(n_e, dtype=np.int64),
            "ts": EVENTS_START + np.sort(rng.integers(0, 30 * DAY_US, n_e)),
            "user_id": rng.integers(1, USERS + 1, n_e, dtype=np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 6, n_e)],
            "value": rng.integers(0, 1_000, n_e).astype(np.float64),
        },
    )
    # Zipf-ish word frequencies so mv-expand word counts have a real head
    vocab = np.array([f"w{i}" for i in range(VOCAB)])
    p = 1.0 / np.arange(1, VOCAB + 1)
    p /= p.sum()
    lens = rng.integers(20, 80, DOCUMENTS)
    words = vocab[rng.choice(VOCAB, int(lens.sum()), p=p)]
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(ws) for ws in np.split(words, cuts)]
    write_parquet(
        os.path.join(out_dir, "documents.parquet"),
        {
            "doc_id": np.arange(DOCUMENTS, dtype=np.int64),
            "text": texts,
            "lang": np.array(["en", "de", "fr"])[rng.integers(0, 3, DOCUMENTS)],
        },
    )
    return {
        "customer": n_c,
        "orders": n_o,
        "lineitem": n_l,
        "events": n_e,
        "documents": DOCUMENTS,
    }


# ------------------------------------------------------------------ ingest
ROWS_PER_BATCH = 55_000
DUP_SHARE = 0.05  # planted replayed rows per batch
INGEST_USERS = 3_000
DAYS_PER_BATCH = 3  # late data: a batch spans its day and the next two
EVOLVE_EVERY = 3  # batches 0, 3, 6, ... carry the extra `country` column


def event_batch(rng: np.random.Generator, i: int, first_id: int, prev: dict | None):
    """Batch `i` of the append stream: fresh events on days i..i+2 (counted
    from EVENTS_START) plus replayed exact copies of rows from this batch
    and, when it has the same columns, the previous one. Returns
    (columns, n_fresh). A replayed row equals its source in every column,
    so its content-hash `_dedup` and its `_ts` match and merge-time dedup
    must drop it."""
    n_new = int(ROWS_PER_BATCH * (1 - DUP_SHARE))
    n_dup = ROWS_PER_BATCH - n_new
    # distinct microsecond timestamps: (_ts, _dedup) identifies a row
    offs = np.sort(rng.choice(DAYS_PER_BATCH * DAY_US, n_new, replace=False))
    fresh = {
        "event_id": np.arange(first_id, first_id + n_new, dtype=np.int64),
        "_ts": EVENTS_START + i * DAY_US + offs,
        "user_id": (rng.zipf(1.3, n_new) % INGEST_USERS + 1).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 6, n_new)],
        "value": rng.integers(0, 1_000, n_new).astype(np.float64),
    }
    if i % EVOLVE_EVERY == 0:
        fresh["country"] = np.array(COUNTRIES)[rng.integers(0, 6, n_new)]
    pool = fresh
    if prev is not None and prev.keys() == fresh.keys():
        pool = {k: np.concatenate([fresh[k], prev[k]]) for k in fresh}
    pick = rng.choice(len(pool["event_id"]), n_dup, replace=False)
    return {k: np.concatenate([fresh[k], pool[k][pick]]) for k in fresh}, n_new


# ------------------------------------------------------------------ corpus
GROUPS = 2_860  # 2.1 docs per group: 6,006 docs
VECTORS = 10_000
# the warm-up pass runs every operation once on a corpus this small
WARM_GROUPS = 100
WARM_VECTORS = 1_000
DOC_TOKENS = 60
DIM = 32
CLUSTERS = 16
QUERIES_PER_SEARCH = 16


# group kinds by group index mod 10; a group's base doc has the smallest id
# of its component, so the min-id keeper must keep it
_KIND = ["single"] * 4 + ["copy1", "copy2", "chain", "near", "miss", "miss_copy"]


def planted_corpus(rng: np.random.Generator, groups: int):
    """Docs of DOC_TOKENS random 12-hex tokens, unique across the corpus.
    Planted structure (k=3 word shingles, so a doc has DOC_TOKENS-2):
    - exact copies;
    - near-duplicates: one middle token replaced, Jaccard 55/61 = 0.90;
    - chains of 5 such hops at distinct positions: the ends share
      46 of 70 shingles (0.66 < 0.8), so only connected components joins
      them;
    - near-misses: the last 25 tokens replaced, Jaccard 33/83 = 0.40,
      which LSH may propose and exact verification must reject.
    Returns (doc_ids, texts, survivor_ids)."""
    t = DOC_TOKENS
    pool = np.unique(rng.integers(0, 2**48, size=groups * t * 3, dtype=np.int64))
    rng.shuffle(pool)
    tokens = iter(pool)

    def fresh(n):
        return [f"{next(tokens):012x}" for _ in range(n)]

    ids, texts, keep = [], [], []
    next_id = 0

    def emit(toks, survives):
        nonlocal next_id
        ids.append(next_id)
        texts.append(" ".join(toks))
        if survives:
            keep.append(next_id)
        next_id += 1

    for g in range(groups):
        kind = _KIND[g % 10]
        base = fresh(t)
        emit(base, True)
        if kind in ("copy1", "copy2", "miss_copy"):
            emit(base, False)
        if kind == "copy2":
            emit(base, False)
        if kind == "near":
            nd = list(base)
            nd[t // 2] = fresh(1)[0]
            emit(nd, False)
        if kind == "chain":
            cur = list(base)
            for hop in range(4):
                cur = list(cur)
                cur[5 + hop * 12] = fresh(1)[0]
                emit(cur, False)
        if kind in ("miss", "miss_copy"):
            emit(base[: t - 25] + fresh(25), True)
    return np.array(ids, dtype=np.int64), texts, np.array(keep, dtype=np.int64)


def planted_vectors(rng: np.random.Generator, n: int):
    """Planted-cluster vectors: CLUSTERS random unit centroids, members at
    centroid + gaussian noise of the centroid's norm (cosine to the centroid
    ~0.7), float32 values stored as doubles. The spread keeps an exact copy's
    source clearly ahead of its cell-mates under PQ scoring."""
    cents = rng.standard_normal((CLUSTERS, DIM))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    lab = rng.integers(0, CLUSTERS, n)
    v = cents[lab] + rng.standard_normal((n, DIM)) / np.sqrt(DIM)
    return v.astype(np.float32).astype(np.float64)


def write_corpus(rng: np.random.Generator, root: str, groups: int, vectors: int):
    """Write docs.parquet and vectors.parquet under `root`; returns
    (number of docs, planted survivor ids, vectors)."""
    os.makedirs(root, exist_ok=True)
    ids, texts, keep = planted_corpus(rng, groups)
    write_parquet(os.path.join(root, "docs.parquet"), {"doc_id": ids, "text": texts})
    vecs = planted_vectors(rng, vectors)
    write_parquet(
        os.path.join(root, "vectors.parquet"),
        {"vec_id": np.arange(len(vecs), dtype=np.int64),
         "embedding": pa.array(list(vecs), type=pa.list_(pa.float64()))},
    )
    return len(ids), set(keep.tolist()), vecs
