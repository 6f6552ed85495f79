#!/usr/bin/env python
"""Benchmark harness (driver contract: prints ONE JSON line).

Mirrors the reference benchmark design (BASELINE.md /
benches/dynamic_filter_benchmark.rs): 50 random point-lookups with seed 42
under three strategies —
  prepared   : one PreparedStatement, execute(params) per key (plan template
               reuse; the reference's headline 13.3x case)
  sqlargs    : spark.sql(sql, args=...) per key (the reference's
               "precomputed logical plan" baseline)
  fstring    : spark.sql(f"...") per key (the reference's unprepared baseline)
plus the engine's headline analytics queries (scan-heavy agg, joins, windows,
dedup, text, similarity) at SPARK_GRAFT_SF_DIR (default sf0.1).

Methodology:
- the cold strategies run INTERLEAVED round-robin on DISJOINT key sets:
  host-load drift hits every strategy equally, and no strategy rides
  another's codegen cache.  The hot (pinned-scan) template is a trailing
  section by necessity: once it exists, CacheManager substitutes the
  in-memory relation into later matching plans, which would turn the cold
  measurements into cache reads.  Its ratio is therefore taken against a
  fresh f-string key set interleaved within that section.
- prepared_layout / prepared_dpp_batch serve the same 50 keys over the
  registered point layout (bucket-partitioned orders copy): a statically
  pruned scan per key, and execute_batch micro-batches, each one IN-list
  scan of the batch's buckets (the engine's answer to the reference's
  fixed-plan pushdown, src/physical.rs:247-255).
- the points section runs in three fresh sessions and each of its rows
  reports its minimum across them; every session's own headline ratios
  ride along so the spread is visible.
- headline analytics queries report the MIN of 3 samples with cache-clear
  + JVM GC before each query, resampled up to 3 more times when the
  samples spread more than 2x, with their result row count next to the
  timing.  Results are consumed by count(), never collected to the driver
  (a collect measures transfer, not the operator).
- the point-lookup and analytics sections run in SEPARATE processes (one
  fresh JVM each): the lookup section's accumulated JVM state otherwise
  inflates later heavy analytics queries nondeterministically.

Raw seconds are host-dependent: compare them only within one session on
one host, using alternating A/B runs.  The full run writes its JSON to
bench_out.json (untracked) as well as stdout.
"""

from __future__ import annotations

import json
import os
import random
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
N_KEYS = 50
SEED = 42

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q18_large_volume_customer",
    "q2_min_cost_supplier",
    "q21_waiting_suppliers",
    "join_key_skew_profile",
    "audit_referential_integrity",
    "events_ewma_value",
    "events_holt_trend",
    "events_cusum_drift",
    "token_zipf_exponent",
    "market_basket_pairs",
    "rfm_segmentation",
    "scd2_merge_actions",
    "quality_score_decile_audit",
    "window_topk_per_group",
    "left_outer_order_counts",
    "join_bloom_runtime_filter",
    "quantile_histogram_sketch",
    "layout_zorder_pruning",
    "dedup_exact_normalized",
    # dedup_ngram_jaccard is not headline: it shares the whole PPJoin
    # pipeline with dedup_jaccard_partners below, so benching both would
    # pay the same exact-verify computation twice, and the pair form is
    # the small-SF yardstick (output pair-quadratic by contract), not the
    # shipped path.  The per-doc partners form is the production shape;
    # the pair form stays oracle-gated in the correctness corpus.
    "dedup_jaccard_partners",
    "decontam_fuzzy_minhash",
    "corpus_token_budget_select",
    "quality_adaptive_threshold",
    "token_vocab_stats",
    "token_cms_topk",
    "token_hll_distinct",
    "text_ngram_novelty",
    "embedding_int8_quantize",
    "dedup_minhash_lsh",
    "dedup_lsh_verified",
    "dedup_incremental_lsh",
    "quality_classifier_linear",
    "embedding_kmeans_train",
    "dedup_minhash_error",
    "dedup_simhash",
    "dedup_semdedup",
    "dedup_substring_spans",
    "text_bigram_lm_logprob",
    "bpe_train_merges",
    "text_quality_score",
    "text_tfidf_top_terms",
    "text_pii_redact",
    "text_boilerplate_spans",
    "token_frequencies",
    "events_retention_cohorts",
    "events_rollup_daily_from_hourly",
    "multimodal_audio_window_energy",
    "multimodal_phash_dedup",
    "similarity_brute_topk",
    "similarity_lsh_topk",
    "embedding_centroid_distance",
    "events_sessionization",
    "pipeline_end_to_end",
    "streaming_tumbling_counts",
    "streaming_static_join_dedup",
]


def _default_driver_mem() -> str:
    """Half the host's physical RAM, capped at 16 GB: the driver JVM holds
    every executor in local mode, and a heap larger than the host gets the
    run OOM-killed instead of spilling."""
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(16 * 1024, ram_mb // 2)}m"


def _make_session(app_name: str):
    from datafusion_dynamic_filter_spark import Engine, registry

    eng = Engine(
        app_name=app_name,
        master=f"local[{CPUS}]",
        shuffle_partitions=int(CPUS),
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.driver.memory": os.environ.get(
                "SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()
            ),
        },
    )
    spark = eng.spark
    spark.sparkContext.setLogLevel("ERROR")
    registry.load_all()
    registry.tables(spark, SF_DIR)
    return eng, spark, registry


def bench_points() -> dict:
    """Point-lookup section: the reference's 50-key workload under every
    strategy, plus the IN-list batch and the parameterized JOIN.  Runs in
    its OWN process (see main): its JVM accrues hundreds of tiny jobs,
    per-key codegen classes, and pinned caches, state that inflates the
    analytics section's heavy queries when both share one JVM."""
    load_start = round(os.getloadavg()[0], 2)
    eng, spark, registry = _make_session("ddf-spark-bench-points")

    timings: dict[str, float] = {}

    # Warm-up: one full scan of the fact tables to settle page cache + JIT.
    spark.table("lineitem").count()
    spark.table("orders").count()

    # --- 50-key point-lookup loop, four strategies (reference workload) ---
    # prepared      : hot template — column-pruned scan pinned in memory (the
    #                 reference benchmarks against a resident MemTable,
    #                 benches/dynamic_filter_benchmark.rs:96-99) + no per-key
    #                 JIT (bound literals would compile a new wholestage
    #                 class per key)
    # prepared_cold : same statement, parquet scan + static pushdown (the
    #                 regime a 100 TB table runs in)
    max_key = spark.table("orders").selectExpr("max(o_orderkey) k").first()["k"]
    rng = random.Random(SEED)
    sql = "SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey = $1"
    canon = "SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey = :p1"

    # Standing point layout for orders (bucket-partitioned copy, built once
    # per sf_dir and fingerprint-invalidated — at 100 TB this is the table's
    # layout, not a cache, so its one-time build is excluded from per-key
    # timings exactly like the base parquet write is).
    eng.ensure_point_layout(
        "orders", "o_orderkey",
        source_path=os.path.join(SF_DIR, "orders.parquet"),
    )

    # DISJOINT key sets per strategy, run INTERLEAVED round-robin: (a) host
    # load drifts over the bench's lifetime, so back-to-back sections would
    # bill the drift to whichever strategy runs later; interleaving spreads
    # it evenly.  (b) With SHARED keys, spark.sql(args=) re-binds to the
    # same optimized plan an earlier f-string loop already compiled, so the
    # sqlargs strategy would be codegen-cache-warm; disjoint keys make
    # every strategy pay its own compile.
    STRATS = [
        "fstring", "sqlargs", "prepared_cold", "prepared_layout",
        "prepared_dpp_batch", "prepared", "fstring_b",
    ]
    pool = rng.sample(range(0, int(max_key) + 1), len(STRATS) * (N_KEYS + 10))
    ks = {
        name: pool[i * (N_KEYS + 10) : (i + 1) * (N_KEYS + 10)]
        for i, name in enumerate(STRATS)
    }
    warm_keys = ks["prepared"][:10]  # hot section's warm slice (see below)
    keys = ks["prepared"][10:]

    # The HOT template stays a trailing section, NOT interleaved: once it
    # pins orders' pruned projection, Spark's CacheManager substitutes the
    # InMemoryRelation into every LATER-planned matching plan, which would
    # silently turn the "cold" strategies into cache reads (files_read
    # would read 0).  Cold regimes are measured and
    # metrics-probed strictly before any hot template exists.
    def run_fstring(k):
        t0 = time.perf_counter()
        df = spark.sql(
            f"SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey = {k}"
        )
        t1 = time.perf_counter()
        df.collect()
        return t1 - t0, time.perf_counter() - t1

    def run_sqlargs(k):
        t0 = time.perf_counter()
        df = spark.sql(canon, args={"p1": k})
        t1 = time.perf_counter()
        df.collect()
        return t1 - t0, time.perf_counter() - t1

    stmt_cold = eng.prepare(sql, layout=False)  # template over the flat parquet
    stmt_layout = eng.prepare(sql)  # adopts the point layout (static pruning)
    stmt_batch = eng.prepare(sql)  # batches bind as data over their buckets

    def run_prepared_cold(k):
        t0 = time.perf_counter()
        df = stmt_cold.execute({"$1": k})
        t1 = time.perf_counter()
        df.collect()
        return t1 - t0, time.perf_counter() - t1

    def run_prepared_layout(k):
        t0 = time.perf_counter()
        df = stmt_layout.execute({"$1": k})
        t1 = time.perf_counter()
        df.collect()
        return t1 - t0, time.perf_counter() - t1

    plan_exec_split: dict[str, dict[str, float]] = {}

    from datafusion_dynamic_filter_spark.plans import physical, scan_filters, scan_metrics

    INTERLEAVED = [
        ("fstring_50keys", "fstring", run_fstring),
        ("sqlargs_50keys", "sqlargs", run_sqlargs),
        ("prepared_cold_50keys", "prepared_cold", run_prepared_cold),
        ("prepared_layout_50keys", "prepared_layout", run_prepared_layout),
    ]
    BATCH = 10  # micro-batch size for the bucket-narrowed batch strategy
    for i in range(10):  # warm: plan caches, page cache, JIT
        for _, kset, fn in INTERLEAVED:
            fn(ks[kset][i])
    stmt_batch.execute_batch(
        [[k] for k in ks["prepared_dpp_batch"][:BATCH]]
    ).collect()
    spark.sparkContext._jvm.System.gc()
    acc = {name: [0.0, 0.0, 0.0] for name, _, _ in INTERLEAVED}
    acc["prepared_dpp_batch_50keys"] = [0.0, 0.0, 0.0]
    for i in range(N_KEYS):
        for name, kset, fn in INTERLEAVED:
            t0 = time.perf_counter()
            p, e = fn(ks[kset][10 + i])
            acc[name][0] += time.perf_counter() - t0
            acc[name][1] += p
            acc[name][2] += e
        if (i + 1) % BATCH == 0:
            # The same 50-key workload served as BATCH-key micro-batches,
            # each one IN-list scan that reads only the batch's buckets
            # — the reference's fixed-plan regime (its benchmark drives 50
            # keys through one statement too; batching is how Spark
            # amortizes the per-job floor a 1-row lookup cannot escape).
            chunk = ks["prepared_dpp_batch"][10 + i + 1 - BATCH : 10 + i + 1]
            t0 = time.perf_counter()
            df = stmt_batch.execute_batch([[k] for k in chunk])
            t1 = time.perf_counter()
            df.collect()
            t2 = time.perf_counter()
            a = acc["prepared_dpp_batch_50keys"]
            a[0] += t2 - t0
            a[1] += t1 - t0
            a[2] += t2 - t1
    for name in [n for n, _, _ in INTERLEAVED] + ["prepared_dpp_batch_50keys"]:
        timings[name] = acc[name][0]
        # "plan" = statement -> DataFrame (parse/bind + planning for the
        # prepared path, which planifies eagerly); "exec" = the action.
        plan_exec_split[name] = {
            "plan_sec": round(acc[name][1], 4),
            "exec_sec": round(acc[name][2], 4),
        }

    # Scan-pruning evidence (reference exposes per-operator metrics,
    # src/physical.rs:266-268): what one executed lookup actually read —
    # probed while the plans still read parquet, with a FRESH key collected
    # exactly once: driver-side file metrics are set only on a plan's first
    # execution (re-collecting a cached DataFrame resets them to 0).
    used = set(pool)
    probe_key = rng.sample(range(0, int(max_key) + 1), 1)[0]
    while probe_key in used:
        probe_key = rng.sample(range(0, int(max_key) + 1), 1)[0]
    df_cold = stmt_cold.execute({"$1": probe_key})
    df_cold.collect()
    df_lay = stmt_layout.execute({"$1": probe_key})
    df_lay.collect()
    df_un = spark.sql(
        f"SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey = {probe_key}"
    )
    df_un.collect()
    scan_evidence = {
        "unprepared": scan_metrics(df_un),
        "prepared_cold": scan_metrics(df_cold),
        "prepared_layout": scan_metrics(df_lay),
    }

    stmt = eng.prepare(sql, hot=True)

    def run_prepared(k):
        t0 = time.perf_counter()
        df = stmt.execute({"$1": k})
        t1 = time.perf_counter()
        df.collect()
        return t1 - t0, time.perf_counter() - t1

    # The hot loop interleaves with a FRESH f-string key set so the hot
    # ratio is computed within one phase (drift-fair, like the cold
    # ratios).  Safe w.r.t. CacheManager: the hot template caches a PRUNED
    # Project(Relation) subtree, which does not appear beneath an f-string
    # plan's Filter, so the baseline keeps reading parquet (verified: no
    # InMemoryTableScan in its plan).
    for i in range(10):
        run_prepared(warm_keys[i])
        run_fstring(ks["fstring_b"][i])
    spark.sparkContext._jvm.System.gc()
    plan_s = exec_s = 0.0
    hot_t = fsb_t = 0.0
    for i in range(N_KEYS):
        t0 = time.perf_counter()
        p, e = run_prepared(keys[i])
        hot_t += time.perf_counter() - t0
        plan_s += p
        exec_s += e
        t0 = time.perf_counter()
        run_fstring(ks["fstring_b"][10 + i])
        fsb_t += time.perf_counter() - t0
    timings["prepared_50keys"] = hot_t
    timings["fstring_50keys_hotphase"] = fsb_t
    plan_exec_split["prepared_50keys"] = {
        "plan_sec": round(plan_s, 4),
        "exec_sec": round(exec_s, 4),
    }

    # Steady-state regime: re-executing the SAME prepared statement+params
    # skips analysis/optimization entirely (plan cache) — the reference's
    # amortized-planning invariant (README.md:29-33).
    t0 = time.perf_counter()
    for k in keys:
        run_prepared(k)
    timings["prepared_50keys_repeat"] = time.perf_counter() - t0

    df_hot = stmt.execute({"$1": probe_key})
    df_hot.collect()
    scan_evidence["prepared_hot"] = scan_metrics(df_hot)

    # Pruned batch regime: an IN-list batch over the hash-bucket-
    # partitioned layout, read through a view of the batch's buckets;
    # should read 3 of 64 bucket dirs.
    df_dpp = registry.QUERIES["prepared_dpp_partition_pruning"](spark, SF_DIR)
    df_dpp.collect()
    dpp_metrics = scan_metrics(df_dpp)
    dpp_metrics["partition_filters"] = scan_filters(physical(df_dpp), "PartitionFilters")
    scan_evidence["prepared_dpp_partitioned"] = dpp_metrics

    # IN-list batch: 1000 keys as ONE literal IN list, one scan job
    # (reference README.md:46-51 benchmarked 1000 keys via IN).
    # Median-of-3 on DISJOINT key sets (same params would hit the
    # statement's plan cache and measure dict lookup): this ratio is
    # load-bearing in the baseline table and a single shot drifts +-40%.
    import statistics as _stats

    inlist_samples = []
    n_batch = min(1000, int(max_key))
    # warm the batch plan shape once (smaller disjoint batch) so no sample
    # carries the one-time compile of the batch plan's shape
    stmt.execute_batch([[k] for k in rng.sample(range(0, int(max_key) + 1), 100)]).collect()
    for _ in range(3):
        batch_keys = rng.sample(range(0, int(max_key) + 1), n_batch)
        t0 = time.perf_counter()
        stmt.execute_batch([[k] for k in batch_keys]).collect()
        inlist_samples.append(time.perf_counter() - t0)
    timings["prepared_inlist_1000"] = _stats.median(inlist_samples)
    timings["_inlist_n"] = n_batch  # feeds the per-key ratio in main()

    # Grouped batch: a GROUP BY template served for 1000 keys as ONE
    # IN-list scan + ONE aggregation (the IN form) — the aggregating
    # twin of the IN-list row above; collect() is the per-key result set
    # (<= 1000 group rows), not a table transfer.
    g_stmt = eng.prepare(
        "SELECT o_custkey, count(*) AS n_orders, "
        "round(sum(o_totalprice), 2) AS total "
        "FROM orders WHERE o_custkey = $1 GROUP BY o_custkey"
    )
    max_cust = spark.table("orders").selectExpr("max(o_custkey) k").first()["k"]
    n_gb = min(1000, int(max_cust))
    g_stmt.execute_batch(
        [[k] for k in rng.sample(range(0, int(max_cust) + 1), min(100, n_gb))]
    ).collect()
    g_samples = []
    for _ in range(3):
        gkeys = rng.sample(range(0, int(max_cust) + 1), n_gb)
        t0 = time.perf_counter()
        g_stmt.execute_batch([[k] for k in gkeys]).collect()
        g_samples.append(time.perf_counter() - t0)
    timings["prepared_grouped_batch_1000"] = _stats.median(g_samples)
    g_stmt.close()

    # Prepared parameterized JOIN (reference prepares any non-DDL plan,
    # src/preparable_context.rs:15-30): same 50 keys through a customer x
    # orders point join, prepared template vs per-execute spark.sql(args=).
    join_sql = (
        "SELECT o_orderkey, o_orderdate, c_name, o_totalprice "
        "FROM customer JOIN orders ON c_custkey = o_custkey "
        "WHERE o_orderkey = :p1"
    )
    join_stmt = eng.prepare(join_sql, hot=True)
    for k in warm_keys:
        spark.sql(join_sql, args={"p1": k}).collect()
        join_stmt.execute({"p1": k}).collect()
    # Interleaved on disjoint key sets, for the same drift reason as the
    # cold loop.  Each set was touched exactly once by one cold-phase
    # strategy, so page-cache warmth is symmetric.
    kj_sql = ks["fstring"][10:]
    kj_prep = ks["sqlargs"][10:]
    t_sql = t_prep = 0.0
    for k1, k2 in zip(kj_sql, kj_prep):
        t0 = time.perf_counter()
        spark.sql(join_sql, args={"p1": k1}).collect()
        t_sql += time.perf_counter() - t0
        t0 = time.perf_counter()
        join_stmt.execute({"p1": k2}).collect()
        t_prep += time.perf_counter() - t0
    timings["sqlargs_join_50keys"] = t_sql
    timings["prepared_join_50keys"] = t_prep

    stmt.close()
    stmt_cold.close()
    stmt_layout.close()
    stmt_batch.close()
    join_stmt.close()
    return {
        "timings": timings,
        "plan_exec_split": plan_exec_split,
        "scan_metrics": scan_evidence,
        "loadavg_start": load_start,
        "loadavg_end": round(os.getloadavg()[0], 2),
    }


def bench_analytics() -> dict:
    """Headline analytics queries, in a FRESH process (see bench_points for
    why).  MIN-of-3 with per-query isolation, raw samples recorded.

    Host-level interference (noisy neighbours) inflates some samples of
    the CPU-saturating queries while leaving others alone.  The min is the
    interference-robust statistic (timeit's rationale: a real code
    regression raises EVERY sample including the min; transient host load
    only inflates some), and the raw samples plus per-query load averages
    ride along in the JSON so an inflated entry carries its own
    explanation.

    Results are consumed by count(): a full-result driver collect
    measures transfer, not the operator, and is exactly the driver-side
    pattern the engine exists to avoid.  The row count rides along so an
    output-cardinality explosion explains its own timing.

    Dispersion-triggered re-sampling: when max/min across the first 3
    samples exceeds 2x, the query takes up to 3 EXTRA samples and the min
    runs over all of them.  Transient host interference thus converges to
    the true floor inside one bench run; a real regression raises every
    sample including the extras, so the rule cannot mask one.
    """
    load_start = round(os.getloadavg()[0], 2)
    eng, spark, registry = _make_session("ddf-spark-bench-analytics")
    timings: dict[str, float] = {}
    spark.table("lineitem").count()  # settle page cache + JIT
    spark.table("documents").count()

    rows: dict[str, int] = {}
    sample_log: dict[str, list[float]] = {}
    load_log: dict[str, float] = {}
    jvm_gc = spark.sparkContext._jvm.System.gc
    for name in HEADLINE:
        fn = registry.QUERIES[name]
        spark.catalog.clearCache()  # no cross-query cache inheritance
        jvm_gc()
        load_log[name] = round(os.getloadavg()[0], 2)
        rows[name] = fn(spark, SF_DIR).count()  # warm (plan + cache fill)
        samples = []
        for _ in range(3):
            t0 = time.perf_counter()
            fn(spark, SF_DIR).count()
            samples.append(time.perf_counter() - t0)
        extra = 0
        while max(samples) > 2.0 * min(samples) and extra < 3:
            t0 = time.perf_counter()
            fn(spark, SF_DIR).count()
            samples.append(time.perf_counter() - t0)
            extra += 1
        timings[name] = min(samples)
        sample_log[name] = [round(s, 4) for s in samples]
    registry.release_persisted()
    return {
        "timings": timings,
        "rows": rows,
        "headline_samples": sample_log,
        "headline_loadavg": load_log,
        "loadavg_start": load_start,
        "loadavg_end": round(os.getloadavg()[0], 2),
    }


def main() -> None:
    section = os.environ.get("SPARK_GRAFT_BENCH_SECTION")
    if section == "points":
        print(json.dumps(bench_points()))
        return
    if section == "analytics":
        print(json.dumps(bench_analytics()))
        return
    # Parent: one fresh JVM per section.  The point-lookup section's
    # accumulated JVM state (per-key codegen classes, heap churn from ~700
    # tiny jobs, pinned-then-released caches) inflates later heavy
    # analytics queries nondeterministically in a shared session (2-11x on
    # the minhash family).  Subprocess isolation makes each section's
    # numbers a function of its own work only (it is also how a user would
    # run them: lookups and batch analytics do not share a driver).
    import subprocess

    def run_section(sec: str) -> dict:
        env = dict(os.environ, SPARK_GRAFT_BENCH_SECTION=sec)
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__)],
            env=env,
            capture_output=True,
            text=True,
        )
        if proc.returncode != 0:
            sys.stderr.write(proc.stderr[-4000:])
            raise SystemExit(proc.returncode)
        return json.loads(proc.stdout.strip().splitlines()[-1])

    # Min-of-3 SESSIONS for the prepared-statement core: host jitter
    # compounds through a ratio of two sub-second timings, so one session's
    # ratios drift with identical code.  Three fresh-JVM sessions,
    # per-workload MIN (each workload's closest-to-quiet observation), with
    # every session's own headline ratios recorded so the spread is visible
    # in the artifact rather than inferred.
    point_runs = [run_section("points") for _ in range(3)]
    parts: dict[str, dict] = {
        "points": point_runs[-1],
        "analytics": run_section("analytics"),
    }
    point_timings = {
        k: min(r["timings"][k] for r in point_runs)
        for k in point_runs[0]["timings"]
    }
    session_ratios = [
        {
            "steady_state": round(
                r["timings"]["fstring_50keys"]
                / r["timings"]["prepared_50keys_repeat"],
                3,
            ),
            "hot": round(
                r["timings"]["fstring_50keys_hotphase"]
                / r["timings"]["prepared_50keys"],
                3,
            ),
            "dpp_batch": round(
                r["timings"]["fstring_50keys"]
                / r["timings"]["prepared_dpp_batch_50keys"],
                3,
            ),
        }
        for r in point_runs
    ]

    timings = {**point_timings, **parts["analytics"]["timings"]}
    inlist_n = int(timings.pop("_inlist_n"))
    plan_exec_split = parts["points"]["plan_exec_split"]
    scan_evidence = parts["points"]["scan_metrics"]
    rows = parts["analytics"]["rows"]

    total = sum(timings.values())
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    result = {
        "metric": "total_bench_sec",
        "value": round(total, 3),
        "unit": "sec",
        "queries": {k: round(v, 4) for k, v in timings.items()},
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # The reference's 13.3x headline benchmarks prepared statements over
        # a RESIDENT MemTable with criterion re-running the SAME seed-42
        # keys every iteration (benches/dynamic_filter_benchmark.rs:18-21,
        # sample_size 10) — i.e. its measured regime is repeat execution of
        # known keys, which maps to the steady-state row here (plan-cache
        # hit over the pinned scan).  Fresh-key hot and cold parquet ratios
        # are reported under fair interleaved measurement; cold sits at
        # ~1.0x by structure (single-row-group file: every strategy pays
        # the same scan; see README).
        "baseline_headline_analog": "speedup_prepared_steady_state",
        "speedup_prepared_vs_unprepared": round(
            timings["fstring_50keys"] / timings["prepared_cold_50keys"], 3
        ),
        # The layout strategies: same 50-key workload over the registered
        # bucket-partitioned layout — per-key static pruning (sequential
        # regime, floor-bound by local-mode per-job overhead) and the
        # micro-batch regime (the reference-mechanism analog; one IN-list
        # scan per batch over its buckets, job overhead amortized per batch).
        "speedup_prepared_layout_vs_unprepared": round(
            timings["fstring_50keys"] / timings["prepared_layout_50keys"], 3
        ),
        "speedup_prepared_batch_vs_unprepared": round(
            timings["fstring_50keys"] / timings["prepared_dpp_batch_50keys"], 3
        ),
        # Hot ratio uses the f-string set measured IN the hot phase
        # (drift-fair; both strategies see the same host-load window).
        "speedup_prepared_hot_vs_unprepared": round(
            timings["fstring_50keys_hotphase"] / timings["prepared_50keys"], 3
        ),
        "speedup_prepared_steady_state": round(
            timings["fstring_50keys"] / timings["prepared_50keys_repeat"], 3
        ),
        # The row above divides per-workload minima that may come from
        # DIFFERENT sessions, so it can be a ratio no session observed.
        # Publish the best and median OBSERVED per-session steady-state
        # ratios alongside, so the headline has an as-measured companion.
        "speedup_prepared_steady_state_best_session": max(
            r["steady_state"] for r in session_ratios
        ),
        "speedup_prepared_steady_state_median_session": sorted(
            r["steady_state"] for r in session_ratios
        )[len(session_ratios) // 2],
        "speedup_inlist_vs_loop": round(
            (timings["fstring_50keys"] / N_KEYS)
            / (timings["prepared_inlist_1000"] / inlist_n),
            1,
        ),
        "speedup_prepared_join_vs_sqlargs": round(
            timings["sqlargs_join_50keys"] / timings["prepared_join_50keys"], 3
        ),
        "plan_exec_split": plan_exec_split,
        "scan_metrics": scan_evidence,
        "rows": rows,
        # Per-session headline ratios of the three points sessions (the
        # published speedups above use per-workload min across sessions):
        # the spread IS the noise model; ratio drift between runs within
        # this spread is measurement, not regression.
        "prepared_core_session_ratios": session_ratios,
        "points_sessions": len(point_runs),
        # Raw per-query samples (headline timings are min-of-3) and the
        # host 1-min load average after the analytics section: an inflated
        # entry then shows WHETHER all samples were slow (sustained host
        # interference) or one was (transient).
        "headline_samples": parts["analytics"]["headline_samples"],
        # Per-query pre-measure 1-min load + per-section start/end loads:
        # an inflated sample points at its own interference window.
        "headline_loadavg": parts["analytics"]["headline_loadavg"],
        "loadavg_sections": {
            sec: {
                "start": parts[sec]["loadavg_start"],
                "end": parts[sec]["loadavg_end"],
            }
            for sec in ("points", "analytics")
        },
        "loadavg_end": parts["analytics"]["loadavg_end"],
        "cpus": int(CPUS),
    }
    # Durable record first: the JSON on stdout may be truncated by whatever
    # captures it.
    out_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_out.json")
    with open(out_path, "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps(result))


if __name__ == "__main__":
    sys.exit(main())
