"""Deterministic star-schema tables for the benchmark (fixed seed).

The tables follow the schema and value domains the program's queries and
their DuckDB oracles are written against (region, nation, customer, supplier,
part, orders, lineitem, events, documents, embeddings). They are generated
here, not read from a fixture directory, so a checkout of the repository is
all a run needs. The stream is fixed: every seed, every run and every commit
sees the same tables at a given scale factor; the workload seed varies only
what the client sends (query order, ingest batches). It follows the
non-Zipf part of tools/gen_testdata.py but is kept here, so that the
benchmark's inputs change only when the benchmark does.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 20260815
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
DOC_POOL = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
            "filter", "group", "hash", "join", "key", "line", "merge", "order",
            "part", "query", "row", "scan", "slow", "small", "sort", "spark",
            "stream", "table", "the", "value", "vector", "window"]


def _days_us(lo, hi, n, rng):
    lo_d = np.datetime64(lo, "D").astype("int64")
    hi_d = np.datetime64(hi, "D").astype("int64")
    return rng.integers(lo_d, hi_d + 1, n) * 86_400_000_000


def _write(outdir, name, cols, fields):
    schema = pa.schema(fields)
    pq.write_table(pa.table(cols, schema=schema), os.path.join(outdir, f"{name}.parquet"))


def _documents(n, rng):
    """10..100 words from a 30-word pool; ~5% are near-copies of an earlier
    document with 1..3 word edits, the first edit being the word "dup"."""
    pool = np.array(DOC_POOL)
    texts = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            words = texts[rng.integers(0, i)].split()
            edits = rng.integers(1, 4)
            words[rng.integers(0, len(words))] = "dup"
            for _ in range(edits - 1):
                words[rng.integers(0, len(words))] = pool[rng.integers(0, len(pool))]
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(pool[rng.integers(0, len(pool), rng.integers(10, 100))]))
    return texts


def generate(sf, outdir):
    """Write the ten tables at scale factor `sf` into `outdir`."""
    os.makedirs(outdir, exist_ok=True)
    rng = np.random.default_rng(TABLE_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    _write(outdir, "region",
           {"r_regionkey": pa.array(range(5), i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
           [("r_regionkey", i32), ("r_name", s)])
    _write(outdir, "nation",
           {"n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32)},
           [("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)])

    segments = np.array(["MACHINERY", "HOUSEHOLD", "BUILDING", "FURNITURE", "AUTOMOBILE"])
    _write(outdir, "customer",
           {"c_custkey": pa.array(range(n_cust), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": np.round(rng.uniform(-1000, 10000, n_cust), 2),
            "c_mktsegment": pa.array(segments[rng.integers(0, 5, n_cust)])},
           [("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
            ("c_acctbal", f64), ("c_mktsegment", s)])
    _write(outdir, "supplier",
           {"s_suppkey": pa.array(range(n_supp), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": np.round(rng.uniform(-1000, 10000, n_supp), 2)},
           [("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32), ("s_acctbal", f64)])

    adjs = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    ai, ni = rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
    _write(outdir, "part",
           {"p_partkey": pa.array(range(n_part), i64),
            "p_name": [f"{adjs[a]} {nouns[b]}" for a, b in zip(ai, ni)],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": pa.array(types[rng.integers(0, 6, n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900.0 + 0.1 * np.arange(n_part), 2)},
           [("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s),
            ("p_size", i32), ("p_retailprice", f64)])

    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(outdir, "orders",
           {"o_orderkey": pa.array(range(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": pa.array(np.array(["O", "P", "F"])[rng.integers(0, 3, n_ord)]),
            "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
            "o_orderdate": pa.array(_days_us("1995-01-01", "2001-08-01", n_ord, rng), ts),
            "o_orderpriority": pa.array(prios[rng.integers(0, 5, n_ord)])},
           [("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
            ("o_totalprice", f64), ("o_orderdate", ts), ("o_orderpriority", s)])
    _write(outdir, "lineitem",
           {"l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
            "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
            "l_extendedprice": np.round(rng.uniform(900, 105_000, n_li), 2),
            "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
            "l_returnflag": pa.array(np.array(["N", "A", "R"])[rng.integers(0, 3, n_li)]),
            "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n_li)]),
            "l_shipdate": pa.array(_days_us("1995-01-01", "2001-12-31", n_li, rng), ts)},
           [("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
            ("l_linenumber", i32), ("l_quantity", f64), ("l_extendedprice", f64),
            ("l_discount", f64), ("l_tax", f64), ("l_returnflag", s),
            ("l_linestatus", s), ("l_shipdate", ts)])

    t0 = np.datetime64("2024-01-01", "us").astype("int64")
    t1 = np.datetime64("2024-01-31", "us").astype("int64")
    _write(outdir, "events",
           {"event_id": pa.array(range(n_ev), i64),
            "ts": pa.array(np.sort(rng.integers(t0, t1, n_ev)), ts),
            "user_id": pa.array(rng.integers(0, max(1, n_cust // 10), n_ev), i64),
            "event_type": pa.array(np.array(["click", "view", "purchase", "signup", "error"])
                                   [rng.integers(0, 5, n_ev)]),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [json.dumps({"k": int(k)}, separators=(", ", ": "))
                      for k in rng.integers(0, 100, n_ev)]},
           [("event_id", i64), ("ts", ts), ("user_id", i64), ("event_type", s),
            ("value", f64), ("props", s)])

    texts = _documents(n_doc, rng)
    langs = np.array(["en", "zh", "es", "fr", "de"])
    _write(outdir, "documents",
           {"doc_id": pa.array(range(n_doc), i64),
            "text": texts,
            "lang": pa.array(langs[rng.choice(5, n_doc, p=[0.41, 0.15, 0.15, 0.15, 0.14])]),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": pa.array([len(t) for t in texts], i64)},
           [("doc_id", i64), ("text", s), ("lang", s), ("source", s), ("n_chars", i64)])

    centers = rng.standard_normal((10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_emb)
    vecs = 0.56 * centers[labels] + rng.standard_normal((n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    _write(outdir, "embeddings",
           {"vec_id": pa.array(range(n_emb), i64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, i32)},
           [("vec_id", i64), ("embedding", pa.list_(pa.float32())), ("label", i32)])
