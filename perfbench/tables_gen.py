"""Seeded generators for the parquet inputs of the read and curation workloads.

* ``write_tables``: the TPC-H-shaped star schema plus ``events`` that
  ``graft.sources.Tables`` reads (one ``<name>.parquet`` per table, with the
  column names and types of the engine's bench data), at scale factor ``sf``
  (6M lineitem rows per unit of ``sf``).
* ``write_documents``: a ``documents.parquet`` of base documents in the
  bench data's style (random words from a small vocabulary, 10-100 words,
  five languages, twenty sources) plus seeded exact duplicates and
  near-duplicate variants (one or two word edits), so the curation chain's
  exact-dedup and minhash near-dup stages both have work.
"""

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the data spark line column order small sort fast value scan hash "
         "slow group agg filter query big key window row part table stream "
         "merge batch vector join customer").split()
LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _ts(days_from, n_days, rng, n, seconds=False):
    base = np.datetime64(days_from, "us")
    if seconds:
        off = rng.integers(0, n_days * 86400 * 10**6, n)
    else:
        off = rng.integers(0, n_days, n) * 86400 * 10**6
    return pa.array(base + off.astype("timedelta64[us]"), pa.timestamp("us"))


def write_tables(out_dir, seed, sf):
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(150000 * sf), max(10, int(10000 * sf))
    n_part, n_ord = int(200000 * sf), int(1500000 * sf)
    n_line, n_events, n_users = int(6000000 * sf), int(1000000 * sf), max(10, int(15000 * sf))

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": regions}), f"{out_dir}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           f"{out_dir}/nation.parquet")
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]}), f"{out_dir}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2)}), f"{out_dir}/supplier.parquet")
    adj = np.array(["large", "small", "hot", "cold", "shiny", "dull"])
    noun = np.array(["ring", "bolt", "nut", "gear", "pipe", "valve"])
    types = np.array(["LARGE", "ECONOMY", "STANDARD", "PROMO", "MEDIUM", "SMALL"])
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 6, n_part)], " "),
                              noun[rng.integers(0, 6, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n_part) % 1000 * 0.1, 2)}),
        f"{out_dir}/part.parquet")
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    # a tenth of the customers place no orders (the anti-join's answer)
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust * 9 // 10, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(900, 450000, n_ord), 2),
        "o_orderdate": _ts("1995-01-01", 2404, rng, n_ord),
        "o_orderpriority": prios[rng.integers(0, 5, n_ord)]}), f"{out_dir}/orders.parquet")
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(0, 7, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(float),
        "l_extendedprice": np.round(rng.uniform(900, 100000, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts("1995-01-01", 2600, rng, n_line)}), f"{out_dir}/lineitem.parquet")
    ev_types = np.array(["click", "error", "purchase", "signup", "view"])
    ts = np.sort(_ts("2024-01-01", 30, rng, n_events, seconds=True).to_numpy(zero_copy_only=False))
    _write(pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": ev_types[rng.integers(0, 5, n_events)],
        "value": np.round(rng.uniform(0, 200, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]}),
        f"{out_dir}/events.parquet")


def document_texts(seed, n_docs=5000, n_exact=50, n_near=500):
    """(texts, langs, sources) with the duplicate structure described above.
    Ids are list positions; duplicates follow the base documents."""
    rng = np.random.default_rng(seed)
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))])
             for _ in range(n_docs)]
    langs = [LANGS[i] for i in rng.integers(0, len(LANGS), n_docs)]
    sources = [f"src{i % 20}" for i in range(n_docs)]
    for src in rng.integers(0, n_docs, n_exact):
        texts.append(texts[src])
        langs.append(langs[src])
        sources.append(sources[src])
    for src in rng.integers(0, n_docs, n_near):
        words = texts[src].split()
        for _ in range(rng.integers(1, 3)):
            words[rng.integers(0, len(words))] = vocab[rng.integers(0, len(vocab))]
        texts.append(" ".join(words))
        langs.append(langs[src])
        sources.append(sources[src])
    return texts, langs, sources


def write_documents(out_dir, seed, n_docs=5000):
    texts, langs, sources = document_texts(seed, n_docs)
    os.makedirs(out_dir, exist_ok=True)
    _write(pa.table({
        "doc_id": pa.array(range(len(texts)), pa.int64()),
        "text": texts,
        "lang": langs,
        "source": sources,
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        f"{out_dir}/documents.parquet")
    return len(texts)

