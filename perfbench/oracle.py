"""DuckDB oracle check for the curation workload.

Replays each operator's `SparkEntry.oracleSql` query in DuckDB over the same
parquet tables the Spark run read, and compares values column by column
(columns sorted by name, rows in ORDER BY order) with tools/parity.py's
own `compare`.
"""
import json
import os
import sys

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")


def check(data_dir, out_dir, oracle_sql, keys):
    """Failure messages, one per operator whose result does not match."""
    import duckdb
    import pyarrow.parquet as pq
    sys.path.insert(0, TOOLS)
    from parity import compare
    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            con.execute("CREATE VIEW %s AS SELECT * FROM '%s/%s.parquet/*.parquet'" % (t, data_dir, t))
        failures = []
        for key in keys:
            path = os.path.join(out_dir, key)
            if not os.path.isdir(path):
                failures.append("%s: no result written" % key)
                continue
            sdf = pq.read_table(path).to_pandas()
            if key not in oracle_sql:
                failures.append("%s: no oracle query" % key)
                continue
            try:
                ddf = con.execute(oracle_sql[key]).fetchdf()
            except Exception as e:  # an oracle that cannot run is a failed check
                failures.append("%s: duckdb error: %s" % (key, e))
                continue
            ok, msg = compare(sdf, ddf)
            if not ok:
                failures.append("%s: %s" % (key, msg))
        return failures
    finally:
        con.close()


def check_run(raw, work):
    keys = [k for ks in raw["families"].values() for k in ks]
    with open(os.path.join(work, "oracle_sql.json")) as f:
        oracle_sql = json.load(f)
    return check(raw["data_dir"], raw["out_dir"], oracle_sql, keys)
