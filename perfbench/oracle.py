#!/usr/bin/env python3
"""Expected outputs of the declared keys, derived with DuckDB.

For every key of the sf0.1 workload pools, and for the timed keys of
`llm_scale` (its exact-tier oracle queries are quadratic), runs
`graft.SparkEntry.oracleSql(key)` in DuckDB over the benchmark's generated
tables. It stores the row count and a canonical hash of the full output
in `perfbench/expected/`. The canonical form is what tools/selfcheck.py
compares: columns sorted by name, each column's arrow type reduced to
its family (selfcheck's `family`), rows sorted by their string form. Spark outputs written
by a traced run are hashed the same way and must match.

Regenerate (from the root of a checkout):
    python3 perfbench/oracle.py sf0.1      # batch_sql, lake_write, stream
    python3 perfbench/oracle.py llm        # llm_scale corpus
"""
import glob
import hashlib
import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from selfcheck import family  # noqa: E402  the type families the repo's correctness check uses

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canonical(tbl):
    """(row count, sha256) of an arrow table in the canonical form."""
    cols = [c.to_pylist() for c in tbl.columns]
    names = tbl.column_names
    fams = [family(tbl.schema.field(i).type) if any(v is not None for v in cols[i]) else "null"
            for i in range(len(names))]
    order = sorted(range(len(names)), key=lambda i: names[i])
    rows = sorted(([(v is None, str(v)) for v in (cols[i][r] for i in order)]
                   for r in range(tbl.num_rows)))
    body = json.dumps([[names[i] for i in order], [fams[i] for i in order], rows])
    return tbl.num_rows, hashlib.sha256(body.encode()).hexdigest()


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=4")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def output_hashes(outputs):
    """sha256 of every key's Spark output under `outputs/<key>/`."""
    con = duckdb.connect()
    out = {}
    for d in sorted(glob.glob(os.path.join(outputs, "*"))):
        files = sorted(glob.glob(os.path.join(d, "*.parquet")))
        if files:
            out[os.path.basename(d)] = canonical(
                con.execute(f"SELECT * FROM '{files[0]}'").fetch_arrow_table())[1]
    return out


def expected(data_dir, sql_by_key):
    con = connect(data_dir)
    res = {}
    for k, sql in sorted(sql_by_key.items()):
        try:
            n, h = canonical(con.execute(sql).fetch_arrow_table())
            res[k] = {"rows": n, "sha256": h}
        except Exception as e:  # reported, never stored as an expectation
            print(f"[oracle] {k}: duckdb error: {e}", file=sys.stderr)
    return res


def main(which):
    import run
    import workloads as W
    cp = run.build()
    oracle_sql = W.declared_keys(cp, run.BUILD)
    if which == "llm":
        factor = W.WORKLOADS["llm_scale"]["factor"]
        data = run.llm_data(factor, 0)
        keys = W.WORKLOADS["llm_scale"]["keys"]
        out = W.expected_name(None, factor)
    else:
        sf = which[2:]
        data = run.base_data(sf)
        keys = sorted({k for n in ("batch_sql", "lake_write", "stream") for k in W.pool(n, oracle_sql)})
        out = W.expected_name(sf, None)
    res = expected(data, {k: oracle_sql[k] for k in keys})
    os.makedirs(os.path.join(run.HERE, "expected"), exist_ok=True)
    json.dump(res, open(os.path.join(run.HERE, "expected", out), "w"), indent=1, sort_keys=True)
    print(f"{len(res)} of {len(keys)} keys -> perfbench/expected/{out}")


if __name__ == "__main__":
    if len(sys.argv) != 2 or not (sys.argv[1] == "llm" or sys.argv[1].startswith("sf")):
        sys.exit(__doc__)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    main(sys.argv[1])
