#!/usr/bin/env python3
"""Deterministic input tables for the benchmark.

Writes the ten tables the declared queries read (`region nation customer
supplier part orders lineitem events documents embeddings`, one parquet
file each) with the schemas and value domains the query packs assume:
TPC-H-like star schema, an event stream, a token corpus and unit-norm
embeddings. The base tables always use generator seed 42, so expected
row counts can be stored once per scale factor.

`synthesize` builds the `llm_scale` corpus from a base directory the way
`graft.ScaleBench` does: `factor` stacked copies with id offsets, token
suffixes `~c` on documents, rotated embeddings and day-shifted events,
so within-copy duplicate and join structure repeats and cross-copy
structure vanishes. The benchmark seed permutes the rows inside every
copy: the physical layout changes with the seed, the row set does not,
so the stored expected counts hold for every seed.

Usage: python3 perfbench/gen.py <out_dir> <sf>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE_SEED = 42
STRIDE = 1_000_000_000
VOCAB = ("query row stream the spark line small fast group customer part "
         "column order scan a slow agg key window table merge vector join "
         "batch sort value hash filter big data dup").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = np.array(["en", "de", "es", "fr", "zh"])
EMB_DIM = 64
US_PER_DAY = 86_400_000_000


def _ts(days_from, rng_days, rng, n):
    start = np.datetime64(days_from, "D")
    return (start + rng.integers(0, rng_days + 1, n).astype("timedelta64[D]")).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _documents(rng, n):
    texts = []
    for i in range(n):
        if i >= 50 and rng.random() < 0.2:
            # near duplicate of an earlier document: a few tokens replaced
            toks = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(toks), max(1, len(toks) // 20)):
                toks[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        elif i >= 50 and rng.random() < 0.002:
            toks = texts[int(rng.integers(0, i))].split(" ")
        else:
            toks = [VOCAB[k] for k in rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))]
        texts.append(" ".join(toks))
    lang = rng.choice(LANGS, n, p=[0.41, 0.15, 0.15, 0.145, 0.145])
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(lang),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _embeddings(rng, n):
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(size=(10, EMB_DIM))
    v = centers[labels] * 0.6 + rng.normal(size=(n, EMB_DIM))
    dup = np.nonzero(rng.random(n) < 0.05)[0]
    dup = dup[dup > 0]
    v[dup] = v[rng.integers(0, dup)] + rng.normal(scale=0.02, size=(len(dup), EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, (n + 1) * EMB_DIM, EMB_DIM, dtype=np.int32)),
        pa.array(v.reshape(-1)))
    return {"vec_id": pa.array(np.arange(n, dtype=np.int64)), "embedding": emb,
            "label": pa.array(labels)}


def generate(out, sf):
    os.makedirs(out, exist_ok=True)
    rng = np.random.Generator(np.random.PCG64(BASE_SEED))
    n_supp, n_cust, n_part = int(10_000 * sf), int(150_000 * sf), int(200_000 * sf)
    n_ord, n_ev = int(1_500_000 * sf), int(1_000_000 * sf)
    n_users = max(15, int(15_000 * sf))
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    _write(out, "region", {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                           "r_name": pa.array(REGIONS)})
    _write(out, "nation", {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                           "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                           "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))})
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)])})
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(PTYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2))})
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, n_ord)),
        "o_orderdate": pa.array(_ts("1995-01-01", 2404, rng, n_ord)),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)])})

    lines = rng.integers(1, 8, n_ord) * (rng.random(n_ord) > 0.0185)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_li = len(okey)
    linenum = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
    _write(out, "lineitem", {
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(linenum),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105000, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(_ts("1995-01-02", 2498, rng, n_li))})

    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * US_PER_DAY, n_ev))
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(t0 + offs.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev).astype(np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)]),
        "value": pa.array(np.round(np.minimum(rng.exponential(50.0, n_ev), 560.21), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    _write(out, "documents", _documents(rng, n_docs))
    _write(out, "embeddings", _embeddings(rng, n_emb))
    open(os.path.join(out, "_READY"), "w").close()


def synthesize(base, out, factor, seed):
    """`factor` stacked copies of the base corpus (see the module doc)."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.Generator(np.random.PCG64(seed))

    def copies(name, tf):
        t = pq.read_table(os.path.join(base, f"{name}.parquet"))
        parts = [tf(t.take(pa.array(rng.permutation(t.num_rows))), c) for c in range(factor)]
        pq.write_table(pa.concat_tables(parts), os.path.join(out, f"{name}.parquet"))

    def offset(t, c, *cols):
        for k in cols:
            i = t.schema.get_field_index(k)
            t = t.set_column(i, k, pc.add(t[k], pa.scalar(c * STRIDE, pa.int64())))
        return t

    def docs(t, c):
        t = offset(t, c, "doc_id")
        if c:
            text = [" ".join(w + f"~{c}" for w in s.split(" ")) for s in t["text"].to_pylist()]
            t = t.set_column(t.schema.get_field_index("text"), "text", pa.array(text))
        return t

    def emb(t, c):
        t = offset(t, c, "vec_id")
        v = np.stack(t["embedding"].to_numpy(zero_copy_only=False))
        if (c // EMB_DIM) % 2 == 1:
            v = v[:, ::-1]
        v = np.roll(v, -(c % EMB_DIM), axis=1).astype(np.float32)
        n = len(v)
        arr = pa.ListArray.from_arrays(
            pa.array(np.arange(0, (n + 1) * EMB_DIM, EMB_DIM, dtype=np.int32)),
            pa.array(v.reshape(-1)))
        return t.set_column(t.schema.get_field_index("embedding"), "embedding", arr)

    def events(t, c):
        t = offset(t, c, "event_id", "user_id")
        ts = t["ts"].to_numpy() + np.timedelta64(c, "D")
        return t.set_column(t.schema.get_field_index("ts"), "ts", pa.array(ts))

    copies("documents", docs)
    copies("embeddings", emb)
    copies("events", events)
    copies("customer", lambda t, c: offset(t, c, "c_custkey"))
    copies("orders", lambda t, c: offset(t, c, "o_orderkey", "o_custkey"))
    copies("lineitem", lambda t, c: offset(t, c, "l_orderkey", "l_partkey", "l_suppkey"))
    for name in ("region", "nation", "supplier", "part"):
        pq.write_table(pq.read_table(os.path.join(base, f"{name}.parquet")),
                       os.path.join(out, f"{name}.parquet"))
    open(os.path.join(out, "_READY"), "w").close()


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    generate(sys.argv[1], float(sys.argv[2]))
