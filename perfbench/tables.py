"""Seeded relational tables for the battery workload.

Writes the ten parquet tables that SparkEntry's queries read (region,
nation, customer, supplier, part, orders, lineitem, events, documents,
embeddings) with the column names and types of the repository's test
data, at a scale factor `sf` (lineitem has about 6M * sf rows). Document
text is drawn from a Zipf-distributed vocabulary, and about 5% of the
documents are near-copies of an earlier one, so the dedup and n-gram
queries have groups to find.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, span, n):
    return (np.datetime64(start, "us") + rng.integers(0, span, n).astype("timedelta64[D]")).astype(
        "datetime64[us]")


def _vocab(rng, n=2000):
    cons, vows = "bcdfghjklmnprstvwz", "aeiou"
    words = {"spark", "query", "data", "the", "a", "join", "scan", "vector", "stream", "window"}
    out = sorted(words)
    while len(out) < n:
        k = rng.integers(2, 4)
        w = "".join(cons[rng.integers(len(cons))] + vows[rng.integers(len(vows))] for _ in range(k))
        if w not in words:
            words.add(w)
            out.append(w)
    return out


def _documents(rng, n):
    vocab = _vocab(rng)
    ranks = np.arange(1, len(vocab) + 1)
    p = (1.0 / ranks) / (1.0 / ranks).sum()
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            src = texts[int(rng.integers(max(0, i - 40), i))].split(" ")
            for _ in range(max(1, len(src) // 12)):
                src[int(rng.integers(len(src)))] = vocab[int(rng.integers(len(vocab)))]
            texts.append(" ".join(src))
        else:
            k = int(rng.integers(8, 100))
            texts.append(" ".join(vocab[j] for j in rng.choice(len(vocab), size=k, p=p)))
    langs = np.array(["en", "de", "fr", "es", "zh"])[rng.integers(0, 5, n)]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def write(out_dir, seed, sf):
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_ord, n_line = int(150000 * sf), int(1500000 * sf), int(6000000 * sf)
    n_part, n_supp = int(200000 * sf), max(10, int(10000 * sf))
    n_events, n_users = int(1000000 * sf), max(50, int(15000 * sf))
    n_docs, n_emb = max(300, int(50000 * sf)), max(100, int(20000 * sf))

    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(np.array(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])[rng.integers(0, 5, n_cust)]),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"part {i}" for i in range(n_part)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(11, 56, n_part)]),
        "p_type": pa.array(np.array(["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"])[
            rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(_money(rng, 900, 2100, n_part)),
    })
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, n_ord)),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", 2405, n_ord)),
        "o_orderpriority": pa.array(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[rng.integers(0, 5, n_ord)]),
    })
    okeys = rng.integers(0, n_ord, n_line).astype(np.int64)
    order = np.argsort(okeys, kind="stable")
    okeys = okeys[order]
    first = np.r_[True, okeys[1:] != okeys[:-1]]
    starts = np.maximum.accumulate(np.where(first, np.arange(n_line), 0))
    linenumber = (np.arange(n_line) - starts + 1).astype(np.int32)
    shuffle = rng.permutation(n_line)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(okeys[shuffle]),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
        "l_linenumber": pa.array(linenumber[shuffle]),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * _money(rng, 900, 2100, n_line), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_line)]),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", 2499, n_line)),
    })
    ts = np.sort(np.datetime64("2024-01-01", "us")
                 + rng.integers(0, 30 * 86400 * 10**6, n_events).astype("timedelta64[us]"))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, n_users, n_events).astype(np.int64)),
        "event_type": pa.array(np.array(["click", "view", "purchase", "signup", "error"])[
            rng.integers(0, 5, n_events)]),
        "value": pa.array(np.round(rng.exponential(40.0, n_events), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })
    tables["documents"] = _documents(rng, n_docs)
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    emb = (centers[labels] + rng.normal(0, 0.7, (n_emb, 64))).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, 64 * n_emb + 1, 64, dtype=np.int32)), pa.array(emb.reshape(-1))),
        "label": pa.array(labels.astype(np.int32)),
    })
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def oracle_counts(tables_dir, oracle_sql):
    """Row count of each oracle query, evaluated by DuckDB over the tables."""
    import duckdb
    con = duckdb.connect()
    for f in sorted(os.listdir(tables_dir)):
        if f.endswith(".parquet"):
            path = os.path.join(tables_dir, f).replace("'", "''")
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')")
    return {name: con.execute(f"SELECT count(*) FROM ({sql}) AS q").fetchone()[0]
            for name, sql in oracle_sql.items()}
