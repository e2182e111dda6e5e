"""Deterministic TPC-H-shaped corpus for the benchmark, and its model.

Writes one parquet file per table (region, nation, customer, supplier,
orders, lineitem, documents, embeddings) with the schemas, value ranges and
row counts of the repository's sf-scaled test corpus: at scale 0.1 lineitem
has 600,000 rows. The corpus is fixed (generator seed 42) so every run of
every workload reads the same tables; a workload's --seed only drives the
keys and rows it sends.

Beside the tables it writes the model the benchmark checks answers against,
computed here with numpy, independently of the engine:
  model-orders.bin     per o_orderkey, 5 little-endian int64 columns: lineitem
                       rows, sum l_linenumber, sum l_quantity, sum of
                       l_extendedprice in cents (half-up), sum of l_shipdate
                       in days since 1970-01-01
  model-customers.bin  per o_custkey, 4 int64 columns over orders JOIN
                       lineitem: rows, sum o_orderkey, sum l_linenumber,
                       sum l_quantity
  logical-bytes.tsv    per table, the logical bytes of its rows (8 per
                       64-bit or timestamp value, 4 per int or float, the
                       UTF-8 length of each string)

Usage: python3 gen_corpus.py <out_dir> <scale>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def days(rng, lo, hi, n):
    base = np.datetime64(lo, "D")
    span = (np.datetime64(hi, "D") - base).astype(int)
    return (base + rng.integers(0, span, n)).astype("datetime64[us]")


def write(out, name, cols):
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out, f"{name}.parquet"))
    with open(os.path.join(out, "logical-bytes.tsv"), "a") as f:
        f.write(f"{name}\t{logical_bytes(table)}\n")


def logical_bytes(table):
    total = 0
    for col in table.columns:
        t = col.type
        if pa.types.is_string(t):
            total += int(sum(len(v.encode()) for v in col.to_pylist() if v is not None))
        elif pa.types.is_list(t):
            total += 4 * sum(len(v) for v in col.to_pylist())
        elif pa.types.is_int32(t) or pa.types.is_float32(t):
            total += 4 * len(col)
        else:
            total += 8 * len(col)
    return total


def write_model(out, orders, lineitem):
    n_ord, n_cust = len(orders["o_orderkey"]), int(orders["o_custkey"].max()) + 1
    key = lineitem["l_orderkey"]
    cents = np.floor(lineitem["l_extendedprice"] * 100 + 0.5).astype(np.int64)
    days = lineitem["l_shipdate"].astype("datetime64[D]").astype(np.int64)
    per_order = [np.bincount(key, minlength=n_ord)] + [
        np.bincount(key, weights=w, minlength=n_ord)
        for w in (lineitem["l_linenumber"], lineitem["l_quantity"], cents, days)]
    np.stack(per_order, axis=1).astype("<i8").tofile(os.path.join(out, "model-orders.bin"))
    cust = orders["o_custkey"][key]  # o_orderkey is the row index of orders
    per_cust = [np.bincount(cust, minlength=n_cust)] + [
        np.bincount(cust, weights=w, minlength=n_cust)
        for w in (key, lineitem["l_linenumber"], lineitem["l_quantity"])]
    np.stack(per_cust, axis=1).astype("<i8").tofile(os.path.join(out, "model-customers.bin"))


def generate(out, scale):
    rng = np.random.default_rng(42)
    n_cust = max(150, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_ord = max(1_500, int(1_500_000 * scale))
    n_line = 4 * n_ord
    n_docs = max(500, int(50_000 * scale))
    n_vecs = max(200, int(20_000 * scale))

    write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(SEGMENTS[rng.integers(0, 5, n_cust)])})
    write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2))})
    o_custkey = rng.integers(0, n_cust, n_ord, dtype=np.int64)
    write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(o_custkey),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_ord), 2)),
        "o_orderdate": pa.array(days(rng, "1995-01-01", "2001-08-02", n_ord)),
        "o_orderpriority": pa.array(PRIORITIES[rng.integers(0, 5, n_ord)])})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    li = {
        "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_line), 2)}
    write(out, "lineitem", {
        **{k: pa.array(v) for k, v in li.items()},
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_line)]),
        "l_shipdate": pa.array(days(rng, "1995-01-02", "2001-11-05", n_line))})
    li["l_shipdate"] = pq.read_table(os.path.join(out, "lineitem.parquet"),
                                     columns=["l_shipdate"])["l_shipdate"].to_numpy()
    write_model(out, {"o_orderkey": np.arange(n_ord), "o_custkey": o_custkey}, li)

    # documents: uniform 10-100 word texts over a 30-word vocabulary; one in
    # twenty is an earlier document plus a trailing "dup" token, so the
    # near-duplicate operators have true positives to find
    texts = []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 101)))))
    write(out, "documents", {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(LANGS[rng.choice(5, n_docs, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})

    v = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs, dtype=np.int32))})


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit("usage: gen_corpus.py <out_dir> <scale>")
    os.makedirs(sys.argv[1], exist_ok=True)
    generate(sys.argv[1], float(sys.argv[2]))
