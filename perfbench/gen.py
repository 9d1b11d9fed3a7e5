"""Seeded input generator for the benchmark.

Writes the star-schema tables (region, nation, customer, supplier, part,
orders, lineitem) and the curation corpus (documents, embeddings) as one
parquet file each, with the schemas and value domains of graft's test
tables (FIXTURES.md, section B). The same seed and sizes give the same
bytes of data, so inputs never depend on anything but the arguments.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "large", "old", "small", "red", "green", "hot"]
PART_NOUN = ["widget", "bolt", "gear", "rod", "nut", "panel", "valve", "spring"]
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EMB_DIM = 64
DATE_LO = dt.date(1995, 1, 1)
DATE_HI = dt.date(2001, 8, 1)
EPOCH = dt.date(1970, 1, 1)
US_PER_DAY = 86_400_000_000


def star_sizes(sf):
    """Row counts of the star tables at scale factor `sf` (the test
    tables' ratios: sf0.1 = 150k orders, ~4 lines per order)."""
    return {
        "customer": max(10, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(20, int(200_000 * sf)),
        "orders": max(100, int(1_500_000 * sf)),
        "lineitem": max(400, int(6_000_000 * sf)),
    }


def _money(rng, lo, hi, n):
    """Two-decimal prices as doubles (cents / 100, the test tables' form)."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _ts_days(days):
    return pa.array(days.astype(np.int64) * US_PER_DAY, pa.timestamp("us"))


def _write(out_dir, name, table):
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def write_star(out_dir, seed, sf):
    rng = np.random.default_rng([seed, 1])
    n = star_sizes(sf)
    os.makedirs(out_dir, exist_ok=True)
    _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS}))
    _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))
    nc = n["customer"]
    _write(out_dir, "customer", pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)]}))
    ns = n["supplier"]
    _write(out_dir, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)}))
    npart = n["part"]
    names = np.char.add(np.char.add(
        np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), npart)], " "),
        np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), npart)])
    _write(out_dir, "part", pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": names,
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, npart).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": rng.integers(9000, 10000, npart) / 10.0}))
    no = n["orders"]
    d_lo, d_hi = (DATE_LO - EPOCH).days, (DATE_HI - EPOCH).days
    odays = rng.integers(d_lo, d_hi + 1, no)
    _write(out_dir, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": np.array(STATUSES)[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _ts_days(odays),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)]}))
    nl = n["lineitem"]
    lkey = np.sort(rng.integers(0, no, nl))
    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": pa.array(lkey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _ts_days(odays[lkey] + rng.integers(1, 122, nl))}))
    return {k: v for k, v in n.items()} | {"region": 5, "nation": 25}


def write_corpus(out_dir, seed, n_docs, n_vecs):
    """Documents of 10-100 words over graft's test vocabulary, with a
    share of exact and near duplicates (a few words swapped) so the
    dedup operators have pairs to find, and unit-norm 64-d embeddings
    drawn around 10 labelled centres."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    vocab = np.array(WORDS + ["dup"])
    texts = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.04:          # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.12:        # near duplicate: swap 1-3 words
            words = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = str(
                    vocab[rng.integers(0, len(vocab))])
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(vocab[rng.integers(0, len(WORDS), k)]))
    _write(out_dir, "documents", pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
        "source": np.char.add("src", rng.integers(0, 20, n_docs).astype(str)),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}))
    labels = rng.integers(0, 10, n_vecs)
    centres = rng.normal(0.0, 1.0, (10, EMB_DIM))
    vecs = centres[labels] * 0.6 + rng.normal(0.0, 1.0, (n_vecs, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}))
    return {"documents": n_docs, "embeddings": n_vecs}
