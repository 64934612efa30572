#!/usr/bin/env python3
"""Scale-crossover measurement for the fixed-overhead-floor queries.

At sf0.1 (5k docs / 2k embeddings) four queries pay more in per-job Spark
scheduling than the work costs, and their spark/duckdb ratios read 3-6x
even though the plans are the ones you'd want at scale (VERDICT r8). This
harness re-measures the SAME registered queries and the SAME oracle SQL on
a 50x larger corpus generated by graft.tools.CrossoverGen (same vocab,
marginals, dup structure, and embedding shape as the driver's testdata),
where real work amortizes the fixed floor — the crossover the verdict
asked to see demonstrated.

Usage: python3 tools/crossover.py [--dir /tmp/graft_crossover] [--reps 3]

Writes CROSSOVER.json at the repo root. DuckDB passes run interleaved with
nothing else; Spark passes are min-of-reps inside one JVM (the bench's
noise policy). Spark and DuckDB run back-to-back in one invocation so a
host stall is unlikely to tax only one side; ratios, not absolute seconds,
are the read.
"""
import sys, os, json, subprocess, time
import duckdb

# the doc/embedding queries the r8 verdict named, plus the events queries
# whose DuckDB anchors crossed the real-work threshold (~0.25s) when the
# r9 testdata regen changed the oracle's timestamp decode path.
# The r10 additions (r10 verdict #1): bigram_coverage / split_divergence /
# label_prototypes / prototype_assign, and semantic_dedup — measurable now
# that the registered query derives its cluster count from the corpus
# (C = max(16, n/1000), SemDeDup's own C ∝ n knob); `Profile time` emits a
# matching-C oracle override so DuckDB replays the same configuration.
QUERIES = ["ann_ivf_topk", "ann_ivf_persisted", "sparse_sim_pairs", "dup_span_trim",
           "lm_perplexity", "bigram_coverage", "split_divergence",
           "label_prototypes", "prototype_assign", "semantic_dedup",
           # r11 additions: DSIR scoring + CCNet buckets are lm_perplexity-
           # class token-explode work; rfm runs on the generated orders
           # table; source_quality is a docs scan + hash join.
           # embedding_pca is deliberately ABSENT: at sf0.1 Spark is already
           # 11x FASTER than the anchor (ratio 0.1 - no overhead floor to
           # retire), and its unrolled covariance oracle is a 100k-vector x
           # 4096-component self-join DuckDB executes single-threaded for
           # tens of minutes - timing it would measure the oracle, not the
           # engine.
           "dsir_select", "ppl_buckets", "corpus_diff",
           "rfm_segments", "source_quality",
           # r11b: basket_affinity is real pair/lift work over the new
           # generated lineitem table (13.9x at sf0.1)
           "basket_affinity",
           # r12 (VERDICT r11 #1): the 8 legacy families that drifted over
           # the >10x-needs-evidence bar when the sf0.1 DuckDB anchors sped
           # up. Four are documents-only (token/shingle explodes); q3/q5
           # run the full join chain over the v5 dimension tables.
           "vocab_top", "bm25_search", "passage_dedup", "collocations",
           "q3_join", "q5_join",
           # r13: the TPC-H batch. Three crossed the repo's own bar at
           # sf0.1 (q8_share 17.4x/54ms, q10_returns 11.0x/61ms,
           # q4_priority drifted to 12.3x); the other seven ride along so
           # every new family carries measured evidence, not an asserted
           # floor note. Needs gen v6 (part table, returnflag/quantity,
           # customer name/balance, the real 1995-2001 order span).
           "q4_priority", "q8_share", "q10_returns", "q12_latency",
           "q13_orders_dist", "q14_promo", "q15_top_supplier",
           "q18_big_orders", "q19_disjunct", "q22_dormant",
           # r13b: the TPC-H completion batch (C45-C50 + the two late r13a
           # registrations). q9_margin crossed the bar at sf0.1
           # (12.9x/71ms); the rest ride along so every family carries
           # measured evidence. Needs gen v8 (p_name/p_retailprice,
           # s_acctbal).
           "q2_min_cost", "q9_margin", "q11_important", "q16_variety",
           "q17_small_qty", "q20_excess", "q21_waiting",
           # r14 (VERDICT r13 #2): the real-per-row-work members of the
           # uncovered >10x tail — docs-table families here, events-table
           # ones in EVENT_QUERIES below
           "dedup_exact", "dedup_incremental",
           # r14: the new ExactSubstr families (B67) — real L-gram explode
           # work, measured from birth like every r13+ registration.
           # cdc_chunks / cdc_dedup (B68) are deliberately ABSENT: their
           # token-explode + per-doc-window oracles need a 100 GB DuckDB
           # memory limit (cdc_chunks, 30.1s) or OOM outright (cdc_dedup)
           # at 50x — measured once and recorded in CROSSOVER.json's
           # cdc_note with the flat Spark walls; running them here would
           # stall or kill every full crossover pass.
           "exact_substr_spans", "exact_substr_trim",
           # r14b: the B13c leak-span report + B13d surgical removal
           # (documents family)
           "contamination_spans", "decontaminated_spans",
           # r15 (VERDICT r14 #2/#5): the three families host drift pushed
           # over the >10x bar after the r14 mid-round measurement
           # (q1_agg's one scan+groupBy, doc_top_terms' token explode +
           # df join), the biggest-wall stragglers the verdict wants
           # numbers for (source_overlap's shingle universe 2.26s/3.78x,
           # content_novelty, novelty_curve), and the ENTIRE uncovered
           # 5-10x buffer — measured preemptively so the now-mechanical
           # coverage gate (PerfRegressionSpec) cannot be tripped by a
           # family drifting over the bar between rounds.
           "q1_agg", "doc_top_terms", "source_overlap", "content_novelty",
           "novelty_curve", "dedup_normalized", "text_quality",
           "token_count", "doc_chunks", "multimodal_decode",
           "ann_brute_topk", "q7_volume",
           # r15b: per-doc unigram entropy — token-explode + two-level
           # groupBy, the vocab_top work class — and the diversity/OOV
           # pair (7.8x/8.4x at sf0.1, inside the drift buffer)
           "token_entropy", "ngram_diversity", "oov_rate",
           # r15c: the new-operator batch — bloom-screened novelty (three
           # small jobs: count, bloom build, probe+sliver join), the
           # deterministic Count-Min build (d=4 posexplode over instances),
           # phrase search (positional-hash pass + TakeOrdered probe),
           # priority sampling (per-source ranked window), and the exact
           # prefix-filtered similarity joins (candidate explode + verify)
           "snapshot_novelty", "count_min_freq", "phrase_search",
           "priority_sample", "jaccard_prefix_pairs", "containment_pairs",
           "dedup_minhash_bbit", "zipf_fit",
           # r15h: the session-2 operator batch, measured from birth —
           # matryoshka_fidelity crossed the bar at sf0.1 (18.8x on a 22ms
           # anchor: per-vector prefix-norm arithmetic vs a 2k-vector scan);
           # ann_truncated_rerank (8.8x) and source_quantile_norm (6.1x)
           # sit in the drift buffer; memorization_risk is already 0.95x
           # at sf0.1 and rides along; the SCD2 incremental fold and the
           # lineage scan carry real >=0.3s anchors but are measured from
           # birth like every r13+ registration
           "matryoshka_fidelity", "ann_truncated_rerank",
           "source_quantile_norm", "memorization_risk",
           "curation_lineage",
           # r15i: the pairwise-Pearson diagnostic over the ensemble's
           # signal join (1.2x at sf0.1 on a real 1.6s anchor; rides along
           # so the family is measured from birth)
           "signal_agreement",
           # r15j: the pair-explanation islands (0.63x at sf0.1 already;
           # rides along so the family is measured from birth)
           "dup_pair_spans",
           # r15d: per-source dedup attribution (hash join + groupBy)
           "source_dedup_rate",
           # r15e: the leakage-free split (rides dup_clusters' machinery)
           "cluster_split",
           # r15f: the z-scored multi-signal blend (three component
           # pipelines + one broadcast moment row)
           "quality_ensemble",
           # r15g: RRF hybrid retrieval (14.4x at sf0.1 on a 1.9s wall —
           # the BM25 pool's token explode + the cosine pool + fusion are
           # three real-work passes over bounded pools)
           "hybrid_search",
           # r16: the interpolated trigram LM (lm_perplexity's work class,
           # one n-gram order higher) and the code-switch projection —
           # measured from birth per the r13+ rule
           "lm_trigram_ppl", "code_switch",
           # r16b: the per-source LM divergence (lm_perplexity twice over
           # one persisted explode) — measured from birth (spliced)
           "source_lm_divergence",
           # r18 (VERDICT r17 #6): the highest-ratio real-anchor family
           # still without an entry (1.65x at sf0.1 on a 1.2s anchor —
           # shingle explode + count + broadcast-back)
           "boilerplate_frac"]
EVENT_QUERIES = ["events_sessionize", "publish_payload", "change_events_json",
                 "pre_post_images", "props_extract", "pseudonymize",
                 "event_transitions", "attribution",
                 # r11b: session-denominated conversion (14.6x at sf0.1) and
                 # the DAU split (same user-day floor class)
                 "session_conversion", "new_vs_returning",
                 # r11c: purchase-gap lag window floor (31.6x at sf0.1)
                 "purchase_intervals",
                 # r12: the remaining two legacy >10x families (VERDICT r11
                 # #1) — the carry-forward as-of composition and the
                 # redelivery collapse, both events-table work
                 "asof_join", "publish_dedup",
                 # r14 (VERDICT r13 C51): the pivoted daily matrix, new in
                 # r13 at 41.6x on a sub-second sf0.1 wall
                 "daily_type_matrix",
                 # r14 (VERDICT r13 #2): the events-table real-work members
                 # of the uncovered >10x tail (retention's per-user week
                 # sets, rolling DAU's x7 contribution explode, range_join's
                 # bucket explode)
                 "retention_cohorts", "rolling_active_users", "range_join",
                 # r15: the events-table members of the drift-proofing
                 # batch (see the r15 QUERIES comment)
                 "resume_tokens_capped", "cdc_apply", "events_window",
                 # r15d: the LTV cohort fold and the deadline funnel (the
                 # C13/C14 work class — user_id exchange + tiny aggregate)
                 "ltv_cohorts", "funnel_windowed",
                 # r15h: the incremental SCD2 fold (events-table)
                 "scd2_merge"]
# the remaining >10x sf0.1 ratio families (r9 verdict #6): sub-1.1s Spark
# walls against millisecond DuckDB anchors — pure job-overhead floors on
# tiny groupBys/windows. Measured here so every such family has crossover
# evidence rather than an asserted-by-design note. training_order (r10's
# largest sf0.1 ratio, 211x on a sub-second wall) joins them.
FLOOR_QUERIES = ["stratified_sample", "token_budget_mix", "source_cap_sample",
                 "corpus_rollup", "resume_tokens_last", "resume_after",
                 "viewers_no_purchase", "training_order",
                 # r11 additions, all sub-50ms-anchor floors at sf0.1:
                 # heavy_hitters 15x, event_paths 33x, daily_fill 24x,
                 # winsorized_stats 18x, source_concentration 99x (4ms anchor)
                 "heavy_hitters", "event_paths", "daily_fill",
                 "winsorized_stats", "source_concentration",
                 # r11c: (source, lang) groupBy floor, 89x on a 0.7s wall
                 "source_lang_drift",
                 # r14 (VERDICT r13 minor #4): the COMPLETE remaining >10x
                 # tail — after this, every family above the evidence bar
                 # carries a measured crossover entry, none is presumed
                 "temperature_sample", "distinct_users", "train_split",
                 "resume_tokens_upsert", "dedup_exact_stats", "corpus_stats",
                 "resume_tokens_clean", "dq_checks", "fanout_routing",
                 "length_histogram", "embedding_outliers", "ingest_csv",
                 "ingest_jsonl", "event_anomalies", "daily_trend",
                 "funnel_counts", "topk_per_group", "token_percentiles",
                 "doc_packing", "events_cube", "embedding_quantize",
                 "multimodal_meta",
                 # r15b: the B30b per-shard packing report — doc_packing's
                 # layout collapsed map-side to `shards` rows, same floor
                 # class as its parent — and the B30c harmonic no-split
                 # layout (explode + two fine-grained windows)
                 "packing_efficiency", "harmonic_packing",
                 # r17b: the Gopher rule battery — pure projection over one
                 # scan + two list-filter HOFs; measured from birth
                 "gopher_rules",
                 # r17 (VERDICT r16 #3): the basket_affinity catalog-head
                 # sibling — its <=2x-by-construction claim is measured
                 # here, not asserted
                 "basket_affinity_top"]
# no oracle SQL exists for these (iterative learn loop, rows-only check):
# Spark wall only, the flat-wall-vs-50x-rows read. bpe_learn's merge count
# is stable across corpora (the crossover generator reuses the testdata's
# 31-word vocabulary, far above 16 mergeable pairs).
SPARK_ONLY = ["bpe_learn",
              # r14 (VERDICT r13 C32): the registered percentile_approx swap
              # for the ONE non-converging exact family (purchase_intervals,
              # whose single-task exact-percentile reduce grows with the
              # interval population). Rows-only registration (sketch order
              # statistics aren't bit-exact cross-engine), so Spark wall
              # only — the read is its wall vs the exact sibling's at 50x.
              "purchase_intervals_approx",
              # r14 (VERDICT r13 #1): the remaining rows-only sketch sibling
              "rfm_segments_approx",
              # r16: the IVF-pool hybrid sibling (rows-only — the IVF pool's
              # recall-vs-brute gap makes a brute oracle wrong by design);
              # the read is its wall vs the exact hybrid_search's at 50x
              "hybrid_search_ivf",
              # r16b: the stored-sketch rollup (rows-only — DataSketches
              # bytes have no DuckDB equivalent); the read is its flat wall
              "sketch_dau_rollup",
              # r17: the ANN recall report (rows-only — recall compares two
              # engine-side retrievals); the read is its flat wall, and the
              # recall VALUES travel in CORRECTNESS/AnnSpec, not here
              "ann_recall_report",
              # r18: the IVF-PQ ADC probe (rows-only — the ADC candidate
              # cut has no SQL oracle); the read is its wall vs
              # ann_ivf_persisted's at 50x (same cells, 64x-smaller scan)
              "ann_pq_topk",
              # r18b: the maintained-index lifecycle (build snapshot +
              # append batch + census; rows-only — the k-means replay has
              # no SQL oracle); sf0.1 wall is ~35 driver-side k-means/write
              # job floors, so the read is whether the wall stays flat when
              # the corpus is 50x
              "ann_index_status",
              # r18 (VERDICT r17 #6): the CDC pair's Spark walls,
              # re-measured post-r17-corpus-regen. Spark-only NOT because
              # the oracles don't exist but because they don't SURVIVE 50x:
              # cdc_chunks' token-explode window needs a 100 GB DuckDB
              # memory limit (30.1s measured r15) and cdc_dedup OOMs
              # outright — rerunning them would stall every full pass (the
              # r15 measurement lives in git history; the standing read is
              # the flat Spark wall here)
              "cdc_chunks", "cdc_dedup"]
# 50x sf0.1 across all three tables (sf0.1: 5k docs / 2k vecs / 100k events;
# vecs stay 100k = 50x from the start). Docs grew 50k->250k in r10 so the
# md5-ordered window families (stratified/token_budget/source_cap) do real
# per-row hash work on both engines instead of measuring Spark's job floor.
N_DOCS, N_VECS, N_EVENTS, N_ORDERS = 250000, 100000, 5000000, 750000
# bump when CrossoverGen or the sizes above change: corpus reuse is gated on
# this manifest matching, not on the parquet dirs merely existing (a stale
# corpus silently mismatching its recorded sizes was ADVICE r9)
GEN_VERSION = 9  # v6/v7: + part table, lineitem quantity/returnflag, customer
                 # name/balance, supplier name, real 1995-2001 order span (r13)
                 # v8: + part p_name/p_retailprice, supplier s_acctbal (r13b)
                 # v9: + lineitem l_linestatus for q1_agg (r15; drawn after
                 # all v8 draws so every other column is byte-identical)


def sbt_run(main, *args):
    cmd = ["sbt", "-batch", f'runMain {main} {" ".join(str(a) for a in args)}']
    env = dict(os.environ)
    # 50x corpora want more than the sf0.1 default 8g heap: the r16 full
    # pass OOMed (sbt rc 52, GCLocker retry warnings) once the measured set
    # reached 146 families incl. the trigram-LM explode — the host has
    # 128 GiB, so size the one JVM for the data it measures. Overridable.
    env.setdefault("SPARK_DRIVER_MEM", "24g")
    r = subprocess.run(cmd, capture_output=True, text=True, env=env,
                       cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    if r.returncode != 0:
        print(r.stdout[-4000:])
        print("[stderr tail]", r.stderr[-2000:])
        sys.exit(f"{main} failed rc={r.returncode}")
    return r.stdout


def main():
    argv = sys.argv[1:]
    outdir = argv[argv.index("--dir") + 1] if "--dir" in argv else "/tmp/graft_crossover"
    reps = int(argv[argv.index("--reps") + 1] if "--reps" in argv else 3)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    manifest = {"n_docs": N_DOCS, "n_vecs": N_VECS, "n_events": N_EVENTS,
                "n_orders": N_ORDERS, "gen_version": GEN_VERSION}
    mpath = f"{outdir}/MANIFEST.json"
    fresh = (all(os.path.isdir(f"{outdir}/{t}.parquet")
                 for t in ("documents", "embeddings", "events", "orders", "lineitem",
                           "customer", "supplier", "nation", "region", "part"))
             and os.path.exists(mpath)
             and json.load(open(mpath)) == manifest)
    if not fresh:
        print(f"[crossover] generating {N_DOCS} docs / {N_VECS} vecs / {N_EVENTS} events -> {outdir}")
        sbt_run("graft.tools.CrossoverGen", outdir, N_DOCS, N_VECS, N_EVENTS, N_ORDERS)
        # manifest written LAST so an interrupted generation never passes the
        # freshness check on the next run
        with open(mpath, "w") as f:
            json.dump(manifest, f)

    # oracle SQL comes from the same SparkEntry.oracleSql dump parity uses;
    # regenerate it cheaply if a parity run hasn't left one around
    sqlpath = "/tmp/verify_out/oracle_sql.json"
    if not os.path.exists(sqlpath):
        sys.exit("run tools/parity.py first (needs its oracle_sql.json dump)")
    oracle = json.load(open(sqlpath))

    queries = QUERIES + EVENT_QUERIES + FLOOR_QUERIES
    # freshness gate (same reasoning as the corpus manifest): a dump from a
    # run predating a newly added query would otherwise KeyError only AFTER
    # the multi-minute generation + Spark pass, losing the whole run
    missing = sorted(set(queries) - set(oracle))
    if missing:
        sys.exit(f"stale {sqlpath} (missing {missing}) — re-run tools/parity.py first")
    print(f"[crossover] spark min-of-{reps} on {outdir}")
    t0 = time.time()
    out = sbt_run("graft.tools.Profile", "time", outdir, reps, *(queries + SPARK_ONLY))
    spark = next(json.loads(l[l.index('{'):])["walls"]
                 for l in out.splitlines() if '{"walls":' in l)
    # scale-dependent oracle overrides (semantic_dedup's derived cell count)
    overrides = next((json.loads(l[l.index('{'):]) for l in out.splitlines()
                      if '"oracle_sql_overrides"' in l), {})
    oracle.update(overrides.get("oracle_sql_overrides", {}))
    spark_only = {q: spark.pop(q) for q in SPARK_ONLY if q in spark}
    print(f"[crossover] spark: {spark} ({time.time()-t0:.0f}s wall)")

    con = duckdb.connect()
    for t in ("documents", "embeddings", "events", "orders", "lineitem",
              "customer", "supplier", "nation", "region", "part"):
        # Spark writes a DIRECTORY of part files; glob them for DuckDB
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{outdir}/{t}.parquet/*.parquet'")
    duck = {}
    for rep in range(reps):
        for q in queries:
            t0 = time.time()
            con.execute(oracle[q]).fetchall()
            secs = time.time() - t0
            duck[q] = min(duck.get(q, 1e9), secs)
            print(f"[crossover] duckdb {q} rep {rep+1}: {secs:.3f}s")

    # sf0.1 ratios from the committed baseline, for the side-by-side read
    try:
        base = json.load(open(f"{root}/PERF_BASELINE.json"))["spark_over_duckdb"]
        sf01 = {k: round(base[k], 2) for k in queries if k in base}
    except Exception:
        sf01 = {}
    # measured-once side evidence (the basket_affinity partitions-vs-wall
    # curve, VERDICT r16 #3) survives re-runs: carried over from the
    # existing artifact unless its producer (see the field's "command") is
    # re-run by hand
    carried = {}
    try:
        prev = json.load(open(f"{root}/CROSSOVER.json"))
        for k in ("basket_affinity_scaling", "basket_affinity_top_stages",
                  "cdc_note", "jaccard_prefix_stages"):
            if k in prev:
                carried[k] = prev[k]
    except Exception:
        pass
    result = {
        "what": "spark vs duckdb on the same queries + oracle SQL at 50x sf0.1 rows",
        "generator": "graft.tools.CrossoverGen (see its scaladoc for faithfulness to testdata)",
        "n_docs": N_DOCS, "n_vecs": N_VECS, "n_events": N_EVENTS,
        "n_orders": N_ORDERS,
        "gen_version": GEN_VERSION, "reps": reps,
        "spark_sec": spark, "duckdb_sec": {k: round(v, 3) for k, v in duck.items()},
        "spark_over_duckdb": {k: round(spark[k] / duck[k], 3) for k in queries},
        "sf01_ratios": sf01,
        # no-oracle families: Spark wall only (flat-wall evidence)
        "spark_only_sec": {k: round(v, 3) for k, v in spark_only.items()},
        "semantic_dedup_cells": overrides.get("derived_cells"),
        "command": "python3 tools/crossover.py",
        **carried,
    }
    with open(f"{root}/CROSSOVER.json", "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps(result["spark_over_duckdb"], indent=1))
    print(f"[crossover] wrote {root}/CROSSOVER.json")


if __name__ == "__main__":
    main()
