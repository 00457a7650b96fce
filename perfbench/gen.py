"""Seeded fixture generator for the benchmark.

Writes the ten tables the engine registers (`Sources.fixtureTables`) in
Spark's directory layout, `<dir>/<table>.parquet/part-00000.parquet`, with
the column types and value distributions of the TPC-H-ish fixtures
described in FIXTURES.md section B. Every value is drawn from one
`numpy` generator seeded with the workload seed, so the same seed always
gives byte-identical tables.

`replicate` builds the duplicate-heavy corpus the way
`graft.tools.ProbeForceGen` does: every entity key of copy i is shifted by
i * (max key + 1), foreign keys by the same offset, `nation`/`region` stay
single-copy, and text and vector payloads repeat verbatim, so every
document text forms an exact-duplicate group of `copies` members.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# row counts per table, as in the sf0.1 and sf0.01 fixtures of TESTDATA.md
PROFILES = {
    "sf0.1": dict(customer=15000, supplier=1000, part=20000, orders=150000,
                  lineitem=600000, events=100000, documents=5000, embeddings=2000),
    "sf0.01": dict(customer=1500, supplier=100, part=2000, orders=15000,
                   lineitem=60000, events=10000, documents=500, embeddings=500),
}

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "fr", "zh", "de", "es"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _cents(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def generate(seed: int, profile: str):
    """All ten tables as pyarrow Tables, keyed by name."""
    n = PROFILES[profile]
    rng = np.random.default_rng(seed)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _cents(rng, -999.99, 9999.99, nc),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)]})

    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _cents(rng, -999.99, 9999.99, ns)})

    npt = n["part"]
    keys = np.arange(npt, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": keys,
        "p_name": np.char.add(np.char.add(np.array(ADJ)[rng.integers(0, 8, npt)], " "),
                              np.array(NOUN)[rng.integers(0, 8, npt)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, npt).astype(str)),
        "p_type": np.array(PTYPES)[rng.integers(0, 6, npt)],
        "p_size": rng.integers(1, 51, npt).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1)})

    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _cents(rng, 1000.0, 500000.0, no),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2404, no) * DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)]})

    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, npt, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _cents(rng, 900.0, 105000.0, nl),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2499, nl) * DAY_US)})

    ne = n["events"]
    gaps = np.maximum(1, np.round(rng.exponential(25.9e6, ne))).astype(np.int64)
    t["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": _ts(EPOCH_2024 + np.cumsum(gaps)),
        "user_id": rng.integers(0, 1500, ne).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})

    nd = n["documents"]
    texts = []
    for i in range(nd):
        # 5% near-duplicates: an earlier text with " dup" appended
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), rng.integers(10, 101))]))
    t["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, nd, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})

    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, nv).astype(np.int32)})
    return t


# entity key columns shifted per copy, as in graft.tools.ProbeForceGen
SHIFTS = {
    "customer": {"c_custkey": "cust"},
    "orders": {"o_orderkey": "ord", "o_custkey": "cust"},
    "lineitem": {"l_orderkey": "ord", "l_partkey": "part", "l_suppkey": "supp"},
    "part": {"p_partkey": "part"},
    "supplier": {"s_suppkey": "supp"},
    "events": {"event_id": "event", "user_id": "user"},
    "documents": {"doc_id": "doc"},
    "embeddings": {"vec_id": "vec"},
}
SPAN_OF = {"cust": ("customer", "c_custkey"), "ord": ("orders", "o_orderkey"),
           "part": ("part", "p_partkey"), "supp": ("supplier", "s_suppkey"),
           "event": ("events", "event_id"), "user": ("events", "user_id"),
           "doc": ("documents", "doc_id"), "vec": ("embeddings", "vec_id")}


def replicate(tables, copies: int):
    spans = {e: int(np.max(tables[t][c].to_numpy())) + 1 for e, (t, c) in SPAN_OF.items()}
    out = {"nation": tables["nation"], "region": tables["region"]}
    for name, shifts in SHIFTS.items():
        base = tables[name]
        parts = []
        for i in range(copies):
            tb = base
            for c, e in shifts.items():
                idx = tb.schema.get_field_index(c)
                tb = tb.set_column(idx, c, pa.array(tb[c].to_numpy() + i * spans[e], pa.int64()))
            parts.append(tb)
        out[name] = pa.concat_tables(parts)
    return out


def write(tables, out_dir: str):
    tmp = out_dir + ".tmp"
    for name in TABLES:
        d = os.path.join(tmp, f"{name}.parquet")
        os.makedirs(d, exist_ok=True)
        pq.write_table(tables[name], os.path.join(d, "part-00000.parquet"), compression="snappy")
    os.rename(tmp, out_dir)
