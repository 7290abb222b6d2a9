"""Output checks for run.py, computed with DuckDB outside the program.

Batch results compare with the registry's own oracle SQL under the rules of
the program's correctness gate: columns by name, rows sorted, exact values.
Oracle answers at a given input checksum are cached under the data
directory, so the sf1 oracles run once per checkout. Served responses
compare with rows DuckDB computes for each request parameter. Refresh
outputs are checked for properties: the sprayed table equals its source,
the index is sorted and complete, the bucketed copy and the persisted
aggregate match the input, and the superfile reads the promoted generation.

run(result, workload, data_dir) returns one message per failed check.
"""
import glob
import hashlib
import json
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
LINEITEM_CSV_COLUMNS = (
    "{'l_orderkey': 'BIGINT', 'l_partkey': 'BIGINT', 'l_suppkey': 'BIGINT', "
    "'l_linenumber': 'INTEGER', 'l_quantity': 'DOUBLE', 'l_extendedprice': 'DOUBLE', "
    "'l_discount': 'DOUBLE', 'l_tax': 'DOUBLE', 'l_returnflag': 'VARCHAR', "
    "'l_linestatus': 'VARCHAR', 'l_shipdate': 'TIMESTAMP'}")


def connect(sf_dir):
    con = duckdb.connect()
    con.execute("SET threads=4")
    con.execute("SET preserve_insertion_order=false")
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        pat = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{pat}'")
    return con


def norm(df):
    """Columns sorted by name, rows as reprs (NaN spelled out), sorted."""
    df = df.reindex(sorted(df.columns), axis=1)
    rows = [tuple(repr(v) if not isinstance(v, float)
                  else ("nan" if math.isnan(v) else repr(v)) for v in r)
            for r in df.itertuples(index=False)]
    return list(df.columns), sorted(rows)


def fingerprint(cols, rows):
    h = hashlib.sha256(json.dumps([cols, rows]).encode())
    return {"columns": cols, "rows": len(rows), "sha256": h.hexdigest()}


def oracle(con, sql, sf_dir, data_dir):
    """Fingerprint of the oracle's answer, cached by SQL and input checksum."""
    with open(os.path.join(data_dir, "CHECKSUM")) as fh:
        key = hashlib.sha256((fh.read() + sf_dir + sql).encode()).hexdigest()
    cache = os.path.join(data_dir, "oracle", key + ".json")
    if os.path.isfile(cache):
        with open(cache) as fh:
            return json.load(fh)
    fp = fingerprint(*norm(con.execute(sql).fetchdf()))
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    with open(cache, "w") as fh:
        json.dump(fp, fh)
    return fp


def check_batch(res, data_dir):
    c = res["checks"]
    con = connect(c["data"])
    bad = []
    for q in c["queries"]:
        if q["path"] is None:
            continue  # the operation itself failed and is counted already
        if q["sql"] is None:
            bad.append(f"{q['name']}: no oracle SQL")
            continue
        got = fingerprint(*norm(con.execute(
            f"SELECT * FROM '{q['path']}/*.parquet'").fetchdf()))
        exp = oracle(con, q["sql"], c["data"], data_dir)
        if got != exp:
            bad.append(f"{q['name']}: got {got['rows']} rows {got['columns']}, "
                       f"oracle {exp['rows']} rows {exp['columns']}")
    return bad


SERVE_SQL = {
    "order_by_key": ("o_orderkey", "SELECT o_orderkey, o_custkey, o_orderstatus, "
                     "o_totalprice, o_orderpriority FROM orders WHERE o_orderkey IN ({})"),
    "part_qty": ("l_partkey", "SELECT l_partkey, l_returnflag, count(*) AS n, "
                 "sum(l_quantity) AS qty FROM lineitem WHERE l_partkey IN ({}) "
                 "GROUP BY l_partkey, l_returnflag"),
}


def check_serve(res):
    con = connect(res["checks"]["data"])
    responses = res["serve"]["responses"]
    expected = {}
    for name, (key, sql) in SERVE_SQL.items():
        values = sorted({r["value"] for r in responses if r["query"] == name})
        if not values:
            continue
        df = con.execute(sql.format(",".join(str(v) for v in values))).fetchdf()
        for v in values:
            part = df[df[key] == v]
            if name == "part_qty":
                part = part.drop(columns=[key])
            expected[(name, v)] = norm(part)
    bad = []
    for r in responses:
        if r["code"] != 200:
            continue  # counted as a failed operation already
        body = json.loads(r["body"])
        rows = body[r["query"] + "Response"]["Results"]["rows"]
        cols, exp_rows = expected[(r["query"], r["value"])]
        got = sorted(tuple(repr(row.get(c)) for c in cols) for row in rows)
        if got != exp_rows:
            bad.append(f"{r['query']}?{r['param']}={r['value']}: {rows} != {exp_rows}")
    return bad


def check_refresh(res):
    c = res["checks"]
    con = connect(c["data"])
    csv = (f"read_csv('{c['csv']}', delim='|', header=false, quote='\"', "
           f"columns={LINEITEM_CSV_COLUMNS})")
    bad = []

    def same(a, b):
        return con.execute(f"SELECT (SELECT count(*) FROM ({a} EXCEPT ALL {b})) + "
                           f"(SELECT count(*) FROM ({b} EXCEPT ALL {a}))").fetchone()[0] == 0

    n_src = con.execute(f"SELECT count(*) FROM {csv}").fetchone()[0]
    for r in c["rounds"]:
        raw = f"SELECT * FROM '{r['raw']}/*.parquet'"
        if not same(raw, f"SELECT * FROM {csv}"):
            bad.append("spray: sprayed table differs from its source")
        curated = fingerprint(*norm(con.execute(
            f"SELECT * FROM '{r['curated']}/*.parquet'").fetchdf()))
        cur_con = connect(c["curate_data"])
        if curated != oracle(cur_con, c["curate_sql"], c["curate_data"],
                             os.path.dirname(c["curate_data"])):
            bad.append("curate: output differs from the q228 oracle")
        # index: each part sorted, parts in key order, all rows present
        parts = sorted(glob.glob(f"{r['index']}/part-*.parquet"))
        prev_max, ordered = None, True
        for p in parts:
            lo, hi, unsorted = con.execute(
                f"SELECT min(k), max(k), count(*) FILTER (WHERE k < pk) FROM "
                f"(SELECT l_orderkey k, lag(l_orderkey) OVER (ORDER BY file_row_number) pk "
                f"FROM read_parquet('{p}', file_row_number=true))").fetchone()
            if unsorted or (prev_max is not None and lo is not None and lo < prev_max):
                ordered = False
            prev_max = hi if hi is not None else prev_max
        if not ordered:
            bad.append("index_build: index is not sorted by l_orderkey")
        if not same(f"SELECT * FROM '{r['index']}/*.parquet'", f"SELECT * FROM {csv}"):
            bad.append("index_build: index rows differ from the input")
        n_b = con.execute(f"SELECT count(*) FROM '{r['bucketed']}/*.parquet'").fetchone()[0]
        if n_b != n_src:
            bad.append(f"bucket_build: {n_b} rows, input has {n_src}")
        exp = con.execute(
            f"SELECT l_returnflag, l_linestatus, count(*), "
            f"sum(CAST(l_quantity AS DECIMAL(25,6)))::VARCHAR, "
            f"sum(CAST(l_extendedprice AS DECIMAL(25,6)))::VARCHAR FROM {csv} "
            f"GROUP BY ALL ORDER BY ALL").fetchall()
        got = sorted(tuple(x) for x in (r["summary"] or []))
        if [tuple(x) for x in exp] != got:
            bad.append(f"persist: {got} != {exp}")
        if not r["promoted"]:
            bad.append("promote: superfile does not read the promoted generation")
    return bad


def run(res, workload, data_dir):
    if workload.startswith("serve"):
        return check_serve(res)
    if workload.startswith("refresh"):
        return check_refresh(res)
    return check_batch(res, data_dir)


def output_files(res):
    """Part files the refresh round wrote (0 for the other workloads)."""
    n = 0
    for r in res["checks"].get("rounds", []):
        for d in ("raw", "curated", "index", "bucketed"):
            if r.get(d):
                n += len(glob.glob(f"{r[d]}/part-*"))
    return n
