#!/usr/bin/env python3
"""Splice NEW families into an existing CROSSOVER.json without re-running
the whole measured set: same corpus (manifest-gated), same `Profile time`
Spark pass, same interleaved min-of-reps DuckDB pass as tools/crossover.py
— just restricted to the families named on the command line.

Usage: python3 tools/crossover_splice.py q1_agg doc_top_terms ...
       [--dir /tmp/graft_crossover] [--reps 3] [--spark-only name ...]

The full-run recipe (tools/crossover.py) remains the source of truth for
the measured universe; this exists so a mid-round drift family can get its
evidence without the multi-hour full pass (the r13/r14 manual-splice
precedent, made a script so it stays reproducible).
"""
import sys, os, json, time
import duckdb
import crossover as cx


def main():
    argv = sys.argv[1:]
    outdir = argv[argv.index("--dir") + 1] if "--dir" in argv else "/tmp/graft_crossover"
    reps = int(argv[argv.index("--reps") + 1] if "--reps" in argv else 3)
    spark_only = []
    if "--spark-only" in argv:
        i = argv.index("--spark-only")
        spark_only = argv[i + 1:]
        argv = argv[:i]
    queries = [a for a in argv if not a.startswith("--")
               and a not in (outdir, str(reps))]
    if not queries and not spark_only:
        sys.exit("name at least one family to splice")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    manifest = {"n_docs": cx.N_DOCS, "n_vecs": cx.N_VECS,
                "n_events": cx.N_EVENTS, "n_orders": cx.N_ORDERS,
                "gen_version": cx.GEN_VERSION}
    mpath = f"{outdir}/MANIFEST.json"
    if not (os.path.exists(mpath) and json.load(open(mpath)) == manifest):
        # regenerate rather than refuse (r15: /tmp is cleared between
        # sessions, and a hand-rebuilt corpus is the same deterministic
        # CrossoverGen output the full run would produce — the manifest
        # gate still guarantees the splice measures on the recorded sizes)
        print(f"[splice] no fresh crossover corpus at {outdir} — regenerating")
        cx.sbt_run("graft.tools.CrossoverGen", outdir, cx.N_DOCS, cx.N_VECS,
                   cx.N_EVENTS, cx.N_ORDERS)
        with open(mpath, "w") as f:
            json.dump(manifest, f)

    sqlpath = "/tmp/verify_out/oracle_sql.json"
    if not os.path.exists(sqlpath):
        sys.exit("run tools/parity.py first (needs its oracle_sql.json dump)")
    oracle = json.load(open(sqlpath))
    missing = sorted(set(queries) - set(oracle))
    if missing:
        sys.exit(f"stale {sqlpath} (missing {missing}) — re-run tools/parity.py first")

    print(f"[splice] spark min-of-{reps} on {outdir}: {queries + spark_only}")
    out = cx.sbt_run("graft.tools.Profile", "time", outdir, reps, *(queries + spark_only))
    spark = next(json.loads(l[l.index('{'):])["walls"]
                 for l in out.splitlines() if '{"walls":' in l)
    overrides = next((json.loads(l[l.index('{'):]) for l in out.splitlines()
                      if '"oracle_sql_overrides"' in l), {})
    oracle.update(overrides.get("oracle_sql_overrides", {}))
    only = {q: spark.pop(q) for q in spark_only if q in spark}
    print(f"[splice] spark: {spark}")

    con = duckdb.connect()
    for t in ("documents", "embeddings", "events", "orders", "lineitem",
              "customer", "supplier", "nation", "region", "part"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{outdir}/{t}.parquet/*.parquet'")
    duck = {}
    for rep in range(reps):
        for q in queries:
            t0 = time.time()
            con.execute(oracle[q]).fetchall()
            secs = time.time() - t0
            duck[q] = min(duck.get(q, 1e9), secs)
            print(f"[splice] duckdb {q} rep {rep+1}: {secs:.3f}s")

    path = f"{root}/CROSSOVER.json"
    result = json.load(open(path))
    for m in ("n_docs", "n_vecs", "n_events", "n_orders", "gen_version"):
        if result.get(m) != manifest[m]:
            sys.exit(f"CROSSOVER.json {m} mismatches the corpus manifest — full re-run needed")
    base = {}
    try:
        base = json.load(open(f"{root}/PERF_BASELINE.json"))["spark_over_duckdb"]
    except Exception:
        pass
    for q in queries:
        result["spark_sec"][q] = spark[q]
        result["duckdb_sec"][q] = round(duck[q], 3)
        result["spark_over_duckdb"][q] = round(spark[q] / duck[q], 3)
        if q in base:
            result["sf01_ratios"][q] = round(base[q], 2)
    for q, v in only.items():
        result["spark_only_sec"][q] = round(v, 3)
    with open(path, "w") as f:
        json.dump(result, f, indent=1)
        f.write("\n")
    print(json.dumps({q: result["spark_over_duckdb"][q] for q in queries}, indent=1))
    print(f"[splice] merged {len(queries) + len(only)} families into {path}")


if __name__ == "__main__":
    main()
