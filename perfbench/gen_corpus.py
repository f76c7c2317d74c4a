"""Seeded sf0.1-shaped corpus for the corpus_queries workload.

Two steps:

* ``base(dir)`` writes one fixed base corpus with the schema, row counts
  and value ranges of the graft sf0.1 tables (TPC-H-like star schema,
  ``events``, ``documents``, ``embeddings``). It uses a fixed internal
  seed, so every call writes the same bytes.
* ``transform(base_dir, out_dir, seed)`` applies the replica transforms
  of ``tools/gensf.py`` to the base: a permutation of the document
  vocabulary, a signed coordinate permutation of the embeddings and key
  shifts of orders, lineitem and customer. Each seed gives other values
  but the same sizes, the same duplicate and near-duplicate structure,
  the same within-table distances and the same join fan-out.

  gensf.py permutes the alphabet; here whole words are permuted within
  the vocabulary instead, so the fixed terms some queries search for
  (q72_bm25: spark, join, merge) still occur for every seed.

Usage: python3 gen_corpus.py <out_dir> <seed> [scale]
"""
import hashlib
import os
import random
import sys

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
BASE_SEED = 20240101
N_DOCS, N_NEAR_DUPS, N_EXACT_DUPS = 5000, 250, 8
N_VECS, DIM = 2000, 64


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _ts(start, seconds):
    base = np.datetime64(start, "us")
    return base + (np.asarray(seconds) * 1e6).astype("int64").astype("timedelta64[us]")


def base(out, scale=1.0):
    """scale < 1 shrinks every fact table; dimensions keep their size."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(BASE_SEED)
    prng = random.Random(BASE_SEED)

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        f"{out}/nation.parquet")

    n_cust = int(15000 * scale)
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]}),
        f"{out}/customer.parquet")

    n_supp = 1000
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}),
        f"{out}/supplier.parquet")

    n_part = 20000
    adj = np.array(["large", "hot", "small", "cold", "red", "blue", "green", "old"])
    noun = np.array(["ring", "bolt", "nut", "gear", "pipe", "cap", "rod", "pin"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    names = np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                        noun[rng.integers(0, 8, n_part)])
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": names,
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)}),
        f"{out}/part.parquet")

    n_ord = int(150000 * scale)
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    odays = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts("1995-01-01", odays * 86400),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]}),
        f"{out}/orders.parquet")

    n_li = int(600000 * scale)
    flags = np.array([("N", "O"), ("A", "F"), ("A", "O"), ("N", "F"), ("R", "F"), ("R", "O")])
    fl = flags[rng.integers(0, 6, n_li)]
    qty = rng.integers(1, 51, n_li).astype(float)
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": fl[:, 0],
        "l_linestatus": fl[:, 1],
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, n_li) * 86400)}),
        f"{out}/lineitem.parquet")

    n_ev = int(100000 * scale)
    secs = np.sort(rng.uniform(0, 30 * 86400, n_ev))
    _write(pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts("2024-01-01", secs),
        "user_id": pa.array(rng.integers(0, 1500, n_ev), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(60.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}),
        f"{out}/events.parquet")

    # documents: uniform bags of a 30-word vocabulary, plus planted
    # near-duplicates (an earlier doc + " dup") and exact duplicates
    n_docs, n_near, n_exact = (int(x * scale) for x in (N_DOCS, N_NEAR_DUPS, N_EXACT_DUPS))
    texts = [" ".join(prng.choice(VOCAB) for _ in range(prng.randint(10, 100)))
             for _ in range(n_docs)]
    ids = prng.sample(range(1, n_docs), n_near + n_exact)
    for i in ids[:n_near]:
        texts[i] = texts[prng.randrange(0, i)] + " dup"
    for i in ids[n_near:]:
        j = prng.randrange(0, i)
        while j in ids:
            j = prng.randrange(0, i)
        texts[i] = texts[j]
    langs = prng.choices(["en", "es", "fr", "zh", "de"], [41, 15, 15, 15, 14], k=n_docs)
    _write(pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        f"{out}/documents.parquet")

    n_vecs = int(N_VECS * scale)
    v = rng.standard_normal((n_vecs, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32())}),
        f"{out}/embeddings.parquet")


def seed_params(seed):
    """Per-seed transform: vocabulary permutation, signed permutation of
    the embedding coordinates, and key shifts."""
    h = hashlib.md5(f"perfbench-corpus-{seed}".encode()).digest()
    rng = random.Random(int.from_bytes(h, "big"))
    perm = dict(zip(VOCAB, rng.sample(VOCAB, len(VOCAB))))
    rot = rng.randrange(DIM)
    signs = [rng.choice((1, -1)) for _ in range(DIM)]
    return {"perm": perm, "rot": rot, "signs": signs,
            "ord_shift": 200000 * rng.randrange(1, 1000),
            "cust_shift": 20000 * rng.randrange(1, 1000)}


def transform(base_dir, out, seed):
    os.makedirs(out, exist_ok=True)
    p = seed_params(seed)
    con = duckdb.connect(config={"threads": 2, "memory_limit": "1GB",
                                 "temp_directory": os.path.join(base_dir, "duckdb_tmp")})
    src = lambda t: f"read_parquet('{base_dir}/{t}.parquet')"
    signs = "[" + ", ".join(str(s) for s in p["signs"]) + "]"
    o, c = p["ord_shift"], p["cust_shift"]
    docs = pq.read_table(f"{base_dir}/documents.parquet")
    texts = [" ".join(p["perm"].get(w, w) for w in t.split(" "))
             for t in docs.column("text").to_pylist()]
    docs = docs.set_column(docs.schema.get_field_index("text"), "text", pa.array(texts))
    docs = docs.set_column(docs.schema.get_field_index("n_chars"), "n_chars",
                           pa.array([len(t) for t in texts], pa.int64()))
    _write(docs, f"{out}/documents.parquet")
    queries = {
        "embeddings": f"SELECT vec_id, CAST(list_transform(range(1, {DIM + 1}), k -> "
                      f"embedding[1 + ((k - 1 + {p['rot']}) % {DIM})] * ({signs})[k]) "
                      f"AS FLOAT[]) AS embedding, label FROM {src('embeddings')}",
        "orders": f"SELECT o_orderkey + {o} AS o_orderkey, o_custkey + {c} AS o_custkey, "
                  f"o_orderstatus, o_totalprice, o_orderdate, o_orderpriority "
                  f"FROM {src('orders')}",
        "lineitem": f"SELECT l_orderkey + {o} AS l_orderkey, l_partkey, l_suppkey, "
                    f"l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax, "
                    f"l_returnflag, l_linestatus, l_shipdate FROM {src('lineitem')}",
        "customer": f"SELECT c_custkey + {c} AS c_custkey, c_name, c_nationkey, "
                    f"c_acctbal, c_mktsegment FROM {src('customer')}",
    }
    for t in (t for t in TABLES if t != "documents"):
        sql = queries.get(t, f"SELECT * FROM {src(t)}")
        con.sql(f"COPY ({sql}) TO '{out}/{t}.parquet' (FORMAT PARQUET)")
    con.close()


def generate(work_dir, out, seed, scale=1.0):
    """Base (cached under work_dir) plus the seed's transform."""
    base_dir = os.path.join(work_dir, f"corpus_base_{scale:g}")
    if not os.path.exists(os.path.join(base_dir, "_done")):
        base(base_dir, scale)
        open(os.path.join(base_dir, "_done"), "w").close()
    transform(base_dir, out, seed)


if __name__ == "__main__":
    generate(os.path.dirname(os.path.abspath(sys.argv[1])), sys.argv[1], int(sys.argv[2]),
             float(sys.argv[3]) if len(sys.argv) > 3 else 1.0)
