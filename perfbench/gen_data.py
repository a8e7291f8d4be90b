#!/usr/bin/env python3
"""Deterministic synthetic dataset for the analytics and serving workloads.

Writes the ten tables the query builders read (documents, embeddings,
events and a TPC-H-shaped star schema) as one parquet file each, with the
schemas, value ranges and distributions of the engine's sf-dirs: a
30-word corpus vocabulary with 5% "dup"-tagged near-duplicates and a few
exact duplicate documents, unit-norm 64-dim embeddings with 10 labels,
exponential event values over January 2024, and uniform TPC-H keys.

Two datasets are written, from one constant seed (not the run's --seed;
the analytics reference digests were taken on exactly these bytes):
  <outdir>/analytics  sf0.01-sized: every table at sf0.01's row counts
  <outdir>/serve      2,500 documents (half of sf0.1) and 2,000 embeddings, the
                      other tables at sf0.01's row counts
Usage: python3 gen_data.py <outdir>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
SF001 = {
    "documents": 500, "embeddings": 500, "events": 10000,
    "lineitem": 60000, "orders": 15000, "customer": 1500, "part": 2000,
    "supplier": 100,
}
DATASETS = {
    "analytics": SF001,
    "serve": dict(SF001, documents=2500, embeddings=2000),
}
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
ADJ = "blue cold hot large new old red small".split()
NOUN = "anvil bolt gear gizmo plate ring rod widget".split()


def ms_range(rng, n, lo, hi):
    """n uniform whole-day timestamps in [lo, hi] (numpy datetime64[D])."""
    lo, hi = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    days = rng.integers(0, int((hi - lo).astype(int)) + 1, n)
    return (lo + days).astype("datetime64[ms]")


def documents(rng, rows):
    n = rows["documents"]
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    texts, pos = [], 0
    for ln in lens:
        texts.append(" ".join(VOCAB[w] for w in words[pos:pos + ln]))
        pos += ln
    dup = rng.random(n) < 0.05
    texts = [t + " dup" if d else t for t, d in zip(texts, dup)]
    # a few exact duplicates: a later doc repeats an earlier dup-tagged one
    tagged = np.flatnonzero(dup[: n // 2])
    for src in rng.choice(tagged, 8, replace=False):
        texts[int(src) + n // 2] = texts[int(src)]
    lang = rng.choice(["en", "de", "es", "fr", "zh"], n,
                      p=[0.41, 0.1475, 0.1475, 0.1475, 0.1475])
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(lang),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng, rows):
    n, dim = rows["embeddings"], 64
    v = rng.normal(0.0, 1.0, (n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def events(rng, rows):
    n = rows["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(t0 + offs.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, rows["customer"] // 10, n)),
        "event_type": pa.array(rng.choice(
            ["view", "click", "purchase", "signup", "error"], n)),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def tpch(rng, rows):
    nl, no, nc = rows["lineitem"], rows["orders"], rows["customer"]
    npart, ns = rows["part"], rows["supplier"]
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": money(rng, nc, -999.99, 9999.99),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], nc)})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": money(rng, ns, -999.99, 9999.99)})
    adj, noun = rng.integers(0, 8, npart), rng.integers(0, 8, npart)
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO",
                              "SMALL", "STANDARD"], npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 1)})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no)),
        "o_orderstatus": rng.choice(["O", "F", "P"], no),
        "o_totalprice": money(rng, no, 1000.0, 500000.0),
        "o_orderdate": pa.array(ms_range(rng, no, "1995-01-01", "2001-08-01")),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], no)})
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl)),
        "l_partkey": pa.array(rng.integers(0, npart, nl)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": money(rng, nl, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["O", "F"], nl),
        "l_shipdate": pa.array(ms_range(rng, nl, "1995-01-02", "2001-11-04"))})
    return out


def write(outdir, rows):
    os.makedirs(outdir, exist_ok=True)
    rng = np.random.default_rng(DATA_SEED)
    tables = {"documents": documents(rng, rows),
              "embeddings": embeddings(rng, rows), "events": events(rng, rows)}
    tables.update(tpch(rng, rows))
    for name, t in tables.items():
        pq.write_table(t, os.path.join(outdir, f"{name}.parquet"))


def main(outdir):
    tmp = outdir + ".partial"
    for name, rows in DATASETS.items():
        write(os.path.join(tmp, name), rows)
    os.replace(tmp, outdir)


if __name__ == "__main__":
    main(sys.argv[1])
