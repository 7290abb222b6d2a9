#!/usr/bin/env python3
"""Generate the benchmark's input tables.

Usage: python3 perfbench/gen.py [--out DIR]

Writes, under DIR (default perfbench/.data):

  sf0.001/ sf0.01/ sf0.1/   one parquet file per table, TPC-H-like star
                            schema plus the events, documents and
                            embeddings tables the registry reads
  sf1/                      ten key-shifted copies of sf0.1, one part file
                            per copy in each <table>.parquet directory
  export/lineitem_sf0.1.csv '|'-delimited export of sf0.1 lineitem (no
                            header), the refresh workload's spray source

The tables come from one fixed generator seed (DATA_SEED), so they are the
same on every run; the benchmark's --seed only drives the serving request
stream. sf1 follows the key-shift scheme of the
program's ScaleUp tool: copy i adds i*10^7 to every key column, salts the
documents' text with " uniq<i>" and rotates each embedding by i, so join
fan-outs and group counts scale linearly. It is rebuilt here instead of
calling ScaleUp, so no change to the program can change the inputs.

After writing, the generator hashes every file and compares the result
with perfbench/inputs.sha256.
"""
import argparse
import hashlib
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

DATA_SEED = 42
GEN_VERSION = 1
K = 10_000_000  # ScaleUp's per-copy key shift
SCALES = ["0.001", "0.01", "0.1"]
HERE = os.path.dirname(os.path.abspath(__file__))
CHECKSUM_FILE = os.path.join(HERE, "inputs.sha256")

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()

US_PER_DAY = 86_400_000_000


def day_us(y, m, d):
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def ts_array(us):
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def choice(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def tables(sf):
    """One scale's tables, from a generator seeded by (DATA_SEED, scale)."""
    rng = np.random.default_rng([DATA_SEED, int(round(sf * 1000))])
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = max(1, n_cust // 10)
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    ck = np.arange(n_cust, dtype=np.int64)
    out["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": pa.array([f"Customer#{k:09d}" for k in ck]),
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": choice(rng, SEGMENTS, n_cust)})
    sk = np.arange(n_supp, dtype=np.int64)
    out["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": pa.array([f"Supplier#{k:09d}" for k in sk]),
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": choice(rng, names, n_part),
        "p_brand": choice(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": choice(rng, PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})
    d0, d1 = day_us(1995, 1, 1), day_us(2001, 8, 1)
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": choice(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": ts_array(d0 + rng.integers(0, (d1 - d0) // US_PER_DAY + 1,
                                                  n_ord) * US_PER_DAY),
        "o_orderpriority": choice(rng, PRIORITIES, n_ord)})
    s0, s1 = day_us(1995, 1, 2), day_us(2001, 11, 4)
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_li, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": choice(rng, ["A", "N", "R"], n_li),
        "l_linestatus": choice(rng, ["F", "O"], n_li),
        "l_shipdate": ts_array(s0 + rng.integers(0, (s1 - s0) // US_PER_DAY + 1,
                                                 n_li) * US_PER_DAY)})
    e0 = day_us(2024, 1, 1)
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts_array(np.sort(e0 + rng.integers(0, 30 * US_PER_DAY, n_ev))),
        "user_id": rng.integers(0, n_users, n_ev, dtype=np.int64),
        "event_type": choice(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    texts = []
    lens = rng.integers(10, 101, n_doc)
    dup_of = rng.integers(0, np.maximum(np.arange(n_doc), 1))
    is_dup = (rng.random(n_doc) < 0.05) & (np.arange(n_doc) > 0)
    words = np.asarray(WORDS, dtype=object)
    for i in range(n_doc):
        if is_dup[i]:
            texts.append(texts[dup_of[i]] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(WORDS), lens[i])]))
    out["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": pa.array(texts),
        "lang": choice(rng, LANGS, n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    vec = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb, dtype=np.int32)})
    return out


SHIFTED = {
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def shifted_copy(name, t, i):
    """Copy i of a table under ScaleUp's key-shift scheme."""
    for c in SHIFTED.get(name, []):
        idx = t.schema.get_field_index(c)
        t = t.set_column(idx, c, pc.add(t[c], pa.scalar(i * K, t.schema.field(c).type)))
    if name == "documents":
        text = pc.binary_join_element_wise(t["text"], pa.scalar(f" uniq{i}"), "")
        t = t.set_column(t.schema.get_field_index("text"), "text", text)
        t = t.set_column(t.schema.get_field_index("n_chars"), "n_chars",
                         pc.utf8_length(text).cast(pa.int64()))
    if name == "embeddings":
        m = np.stack(t["embedding"].to_numpy(zero_copy_only=False))
        r = i % m.shape[1]
        m = np.concatenate([m[:, r:], m[:, :r]], axis=1)
        t = t.set_column(t.schema.get_field_index("embedding"), "embedding",
                         pa.array(list(m), type=pa.list_(pa.float32())))
    return t


def write(out):
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    base = None
    os.makedirs(os.path.join(tmp, "export"))
    for sf in SCALES:
        d = os.path.join(tmp, f"sf{sf}")
        os.makedirs(d)
        ts = tables(float(sf))
        for name, t in ts.items():
            pq.write_table(t, os.path.join(d, f"{name}.parquet"))
        if sf == "0.1":
            base = ts
            pacsv.write_csv(ts["lineitem"], os.path.join(tmp, "export", "lineitem_sf0.1.csv"),
                            pacsv.WriteOptions(include_header=False, delimiter="|"))
    d = os.path.join(tmp, "sf1")
    os.makedirs(d)
    for name, t in base.items():
        if name in SHIFTED:
            os.makedirs(os.path.join(d, f"{name}.parquet"))
            for i in range(10):
                pq.write_table(shifted_copy(name, t, i),
                               os.path.join(d, f"{name}.parquet", f"part-{i:05d}.parquet"))
        else:
            pq.write_table(t, os.path.join(d, f"{name}.parquet"))
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def digest(out):
    """sha256 over every generated file's relative path and bytes, in sorted
    order (run.py's CHECKSUM marker and oracle cache are not inputs)."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(out):
        dirs[:] = sorted(d for d in dirs if not (root == out and d == "oracle"))
        for f in sorted(files):
            if root == out and f == "CHECKSUM":
                continue
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, out).encode())
            with open(p, "rb") as fh:
                for chunk in iter(lambda: fh.read(1 << 20), b""):
                    h.update(chunk)
    return h.hexdigest()


def expected():
    with open(CHECKSUM_FILE) as fh:
        return fh.read().split()[0]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=os.path.join(HERE, ".data", f"v{GEN_VERSION}"))
    a = ap.parse_args()
    write(a.out)
    got = digest(a.out)
    if os.path.exists(CHECKSUM_FILE) and got != expected():
        print(f"input checksum {got} != {expected()} ({CHECKSUM_FILE})", file=sys.stderr)
        sys.exit(1)
    print(got)


if __name__ == "__main__":
    main()
