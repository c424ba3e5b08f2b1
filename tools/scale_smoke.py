"""sf~1 scale smoke for the iterative / shuffle-heavy tier.

Builds a ~10x copy of the sf0.1 tables (union of salted copies with
disjoint key ranges — VERDICT r8 ask #5) under a scratch directory, then
runs the flagged queries once each and records wall time + peak RSS.
The point is an off-comfort-zone MEASUREMENT that the claimed
linear/bounded behavior holds, not another correctness gate (SCALING.md
argues the 100-TB story from plan shape; this pins the 10x step).

Usage:
    python tools/scale_smoke.py [--scratch /tmp/sf1-smoke] [--copies 10]
                                [--skip-build] [query ...]

Output: one JSON line per query {name, seconds, peak_rss_mb} plus a
summary line; paste the table into SCALING.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.trace import tree_peak_rss_bytes  # noqa: E402

SMOKE_QUERIES = [
    "supplier_pagerank",
    "part_copurchase_kcore",
    "semdedup_flags",
    "customer_name_fuzzy_pairs",
    "line_dedup_stats",
    "doc_lm_perplexity",   # r10: bigram-count shuffle + score join + fold
    # r10 second sweep (text + temporal tiers; 30x/100x readings in
    # SCALE_SMOKE_r10.json / SCALING.md):
    "tf_idf_top_terms",
    "bm25_search",
    "duplicate_span_coverage",
    "events_sessionize",
    "events_asof_click_view",
    # r12: DSIR selection tier — the n-gram explode is corpus-cardinality
    # (docstring claims map-side combine bounds the wire at
    # min(2*len, n_buckets) rows/doc); these measure it plus the
    # <=n_buckets model broadcast and the one doc_id fold shuffle
    "doc_dsir_log_weights",
    "doc_dsir_target_affinity",
    "dsir_gumbel_sample",
    # r13: UniMax water-filling — the budgets window runs over the
    # ≤k-strata frame (bounded by construction); this turns that claim
    # into a 10/30/100x measurement, the DSIR pattern
    "unimax_lang_budgets",
    # r14: media decode tier (verdict ask #7) — the render+decode
    # mapInPandas stages were a 1-task path until the fixed-width
    # repartition in queries/multimodal_q.py; these time the now-parallel
    # decode at 10x docs, and main() records the decode task counts so
    # the multi-task stage is visible in the artifact
    "audio_feature_stats",
    "media_feature_neardup_sim",
    # r14: new curation tier — the epoch window ranks the full corpus
    # (per-epoch total order; bounded top-k output), keep-best shuffles
    # the planted-duplicate fingerprint groups
    "epoch_shuffle_order",
    "quality_dedup_keep_best",
    # r15: ExactSubstr REMOVAL — the rebuild join is the one place doc
    # bodies cross the wire; this measures it at 10x docs next to the
    # flag-only duplicate_span_coverage baseline
    "duplicate_span_removal_stats",
    # r15: quality retention over near-dup components (LSH + transitive
    # closure + best-per-group window)
    "near_dup_keep_best",
    # r15: decontamination sweep — eval window set vs train windows
    "eval_contamination_stats",
    # r16: delta-log store compaction + file-layout tier under the
    # driver oracle — ingest→compact→read roundtrips (store + files)
    # and the closed-form fragmentation report; epoch manifest adds a
    # per-epoch total-order sort over the full doc corpus
    "exact_dedup_store_compaction_stats",
    "compact_files_roundtrip_stats",
    "fragmentation_report_orders",
    "epoch_training_manifest",
]

# per-table key columns to offset per copy so the scaled table has
# disjoint keys (a pure row-duplication would collapse under dedup and
# explode joins); ID_STRIDE clears every sf0.1 key range
ID_STRIDE = 10_000_000
KEY_COLS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    # region/nation are dims: copied once, never scaled
}
SCALED_TABLES = list(KEY_COLS)
DIM_TABLES = ["region", "nation"]


def build(spark, src_sf: str, scratch: str, copies: int, only: list[str] | None = None) -> None:
    from pyspark.sql import functions as F

    from etl_poc_spark.io import load_table

    os.makedirs(scratch, exist_ok=True)
    scaled = [t for t in SCALED_TABLES if only is None or t in only]
    for name in DIM_TABLES:
        load_table(spark, src_sf, name).write.mode("overwrite").parquet(
            os.path.join(scratch, f"{name}.parquet")
        )
        print(f"built {name} (dim, 1 copy)", flush=True)
    for name in scaled:
        base = load_table(spark, src_sf, name)
        out = None
        for i in range(copies):
            c = base
            for k in KEY_COLS[name]:
                c = c.withColumn(k, F.col(k) + F.lit(i * ID_STRIDE))
            # salt text/name columns per copy so content-hash dedup tiers
            # see genuinely distinct documents, not 10 exact copies
            if i > 0 and name in ("documents",) and "text" in c.columns:
                c = c.withColumn(
                    "text", F.concat(F.col("text"), F.lit(f" copymark{i}"))
                )
            if i > 0 and name == "customer":
                c = c.withColumn(
                    "c_name", F.concat(F.col("c_name"), F.lit(f"#{i}"))
                )
            out = c if out is None else out.unionByName(c)
        out.write.mode("overwrite").parquet(os.path.join(scratch, f"{name}.parquet"))
        print(f"built {name} x{copies}", flush=True)


def build_embeddings_jittered(spark, src_sf: str, scratch: str, copies: int) -> None:
    """Realistic-dup-rate scaled embeddings (VERDICT r10 ask #1): the
    plain salted build copies every vector with a new id but IDENTICAL
    components, making ~99% of rows true duplicates at 100x — an
    adversarial corpus on which the float-verify phase's growth can't be
    attributed between dup-rate degeneracy and a real regime change.

    Here each copy i>0 gets deterministic hash-seeded jitter:
    ~10% of copies perturb at relative norm r=0.02 (cosine ~0.9998 vs
    the original — a TRUE near-dup above the 0.99 threshold) and the
    rest at r=0.5 (cosine ~0.894 — semantically close, below threshold),
    so the corpus is realistically clumpy (copies of a family cluster
    together and generate candidate pairs) with a ~9% true-dup rate.
    Per-component noise u_j ~ U[-1,1] comes from xxhash64(vec_id, i, j),
    scaled by r*||x||/sqrt(dim/3) so the perturbation norm is r*||x||.
    Everything is a pure column expression — rebuildable bit-identically."""
    from pyspark.sql import functions as F

    from etl_poc_spark.io import load_table

    os.makedirs(scratch, exist_ok=True)
    base = load_table(spark, src_sf, "embeddings")
    out = None
    for i in range(copies):
        c = base.withColumn("vec_id", F.col("vec_id") + F.lit(i * ID_STRIDE))
        if i > 0:
            r = F.when(
                F.pmod(F.xxhash64(F.col("vec_id"), F.lit(7777 + i)), F.lit(10)) == 0,
                F.lit(0.02),
            ).otherwise(F.lit(0.5))
            nrm = F.expr(
                "sqrt(aggregate(transform(embedding, x -> CAST(x AS DOUBLE)), "
                "0.0D, (a, x) -> a + x * x))"
            )
            c = (
                c.withColumn("__s", r * nrm)
                .withColumn(
                    "embedding",
                    F.expr(
                        f"transform(embedding, (x, j) -> CAST("
                        f"CAST(x AS DOUBLE) + __s / sqrt(CAST(size(embedding) AS DOUBLE) / 3.0D)"
                        f" * (CAST(pmod(xxhash64(vec_id, {i}, j), 2000001) AS DOUBLE)"
                        f" / 1000000.0D - 1.0D) AS FLOAT))"
                    ),
                )
                .drop("__s")
            )
        out = c if out is None else out.unionByName(c)
    out.write.mode("overwrite").parquet(os.path.join(scratch, "embeddings.parquet"))
    print(f"built jittered embeddings x{copies}", flush=True)


def semdedup_phase_split(spark, scratch: str) -> dict:
    """Isolated train / assign / pair / verify timings for the PRODUCTION
    semdedup configuration (auto_centroids + minibatch + float verify)
    on whatever embeddings live under `scratch`. Each phase's input is
    persisted and counted BEFORE its successor's clock starts, so a
    phase time is that phase's work, not a replay of the lineage."""
    from pyspark.sql import functions as F

    from etl_poc_spark.operators import similarity as S
    from etl_poc_spark.operators.dedup import cap_buckets

    out: dict = {}
    corpus = (
        spark.read.parquet(os.path.join(scratch, "embeddings.parquet"))
        .select(
            "vec_id",
            F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding"),
        )
        .persist()
    )
    out["n_rows"] = corpus.count()  # materialize outside any phase clock
    out["k"] = S.auto_centroids(out["n_rows"], target_cluster_size=200)

    t0 = time.perf_counter()
    cents = S.train_kmeans_centroids_minibatch(corpus, n_centroids=out["k"], n_iters=4)
    out["train_s"] = round(time.perf_counter() - t0, 1)

    t0 = time.perf_counter()
    assigned = S._assign_centroid(corpus, cents, "vec_id", "embedding", nprobe=1).persist()
    assigned.count()
    out["assign_s"] = round(time.perf_counter() - t0, 1)

    # the O(n·sqrt(k)) two-level assignment beside the flat O(n·k) one:
    # timing plus cluster-agreement and flag parity at scale
    t0 = time.perf_counter()
    assigned2 = S._assign_centroid_two_level(
        corpus, cents, "vec_id", "embedding"
    ).persist()
    assigned2.count()
    out["assign_two_level_s"] = round(time.perf_counter() - t0, 1)
    out["assign_agreement"] = round(
        assigned.join(
            assigned2.withColumnRenamed("cluster", "c2"), "vec_id"
        ).filter("cluster = c2").count()
        / out["n_rows"],
        4,
    )

    # candidate-pair volume from cluster occupancy (sum m*(m-1)/2 over
    # capped clusters) — the grouped verify kernel never materializes a
    # pair list, so this is bookkeeping, not a timed phase
    pairable = cap_buckets(assigned, ["cluster"], 2000)
    out["n_pairs"] = (
        pairable.groupBy("cluster")
        .count()
        .agg(F.sum(F.col("count") * (F.col("count") - 1) / 2).cast("long"))
        .collect()[0][0]
    )

    t0 = time.perf_counter()
    members = pairable.select("vec_id", "cluster").join(
        corpus.select("vec_id", "embedding"), "vec_id"
    )
    dup = S._cluster_dup_pairs_float(members, 0.99, "vec_id", "embedding")
    out["n_dropped"] = dup.select("neighbor_id").distinct().count()
    out["verify_s"] = round(time.perf_counter() - t0, 1)
    out["dup_rate"] = round(out["n_dropped"] / out["n_rows"], 4)

    # probe-width sweep (r12): how fast does the two-level decision
    # delta close as more super-clusters are probed? flags vs the flat
    # assignment, per w — the decision-rule evidence for SCALING.md
    flat_dropped = (
        S._cluster_dup_pairs_float(
            pairable.select("vec_id", "cluster").join(
                corpus.select("vec_id", "embedding"), "vec_id"
            ),
            0.99,
            "vec_id",
            "embedding",
        )
        .select("neighbor_id")
        .distinct()
        .persist()
    )
    n_flat = flat_dropped.count()
    out["probe_sweep"] = {}
    for wprobe in (1, 2, 4, 8):
        t0 = time.perf_counter()
        a_w = S._assign_centroid_two_level(
            corpus, cents, "vec_id", "embedding", probe_superclusters=wprobe
        ).persist()
        a_w.count()
        t_assign = round(time.perf_counter() - t0, 1)
        agree = round(
            assigned.join(a_w.withColumnRenamed("cluster", "c2"), "vec_id")
            .filter("cluster = c2")
            .count()
            / out["n_rows"],
            4,
        )
        p_w = cap_buckets(a_w, ["cluster"], 2000)
        d_w = (
            S._cluster_dup_pairs_float(
                p_w.select("vec_id", "cluster").join(
                    corpus.select("vec_id", "embedding"), "vec_id"
                ),
                0.99,
                "vec_id",
                "embedding",
            )
            .select("neighbor_id")
            .distinct()
            .persist()
        )
        n_w = d_w.count()
        sym_diff = (
            flat_dropped.join(d_w, "neighbor_id", "left_anti").count()
            + d_w.join(flat_dropped, "neighbor_id", "left_anti").count()
        )
        out["probe_sweep"][f"w{wprobe}"] = {
            "assign_s": t_assign,
            "cluster_agreement": agree,
            "n_dropped": n_w,
            "flag_delta_vs_flat": sym_diff,
            "flag_delta_pct": round(100.0 * sym_diff / max(n_flat, 1), 3),
        }
        d_w.unpersist()
        a_w.unpersist()
    flat_dropped.unpersist()

    pairable2 = cap_buckets(assigned2, ["cluster"], 2000)
    members2 = pairable2.select("vec_id", "cluster").join(
        corpus.select("vec_id", "embedding"), "vec_id"
    )
    out["n_dropped_two_level"] = (
        S._cluster_dup_pairs_float(members2, 0.99, "vec_id", "embedding")
        .select("neighbor_id")
        .distinct()
        .count()
    )
    for df in (assigned2, assigned, corpus):
        df.unpersist()
    return out


def _stage_stats(spark, stage_floor: int) -> tuple[int, int, int, int]:
    """(max task duration ms, last stage id, memory spill bytes, disk spill
    bytes) over the completed stages with id > stage_floor, read from the
    in-process status store (the last stage id never drops below
    stage_floor, so it is the next call's floor). The max-task number is
    the one wall-clock can't show on a local session: a whale-key window
    partition serializes onto ONE task, so the straggler time is what a
    1000-executor cluster would actually wait."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    jvm = spark._jvm
    max_q = sc._gateway.new_array(jvm.double, 1)
    max_q[0] = 1.0
    stages = store.stageList(
        None, False, False, sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList()
    ).iterator()
    mx, last, mem_sp, disk_sp = 0, stage_floor, 0, 0
    while stages.hasNext():
        st = stages.next()
        if st.status().toString() != "COMPLETE":
            continue
        sid = int(st.stageId())
        last = max(last, sid)
        if sid <= stage_floor:
            continue
        mem_sp += int(st.memoryBytesSpilled())
        disk_sp += int(st.diskBytesSpilled())
        summary = store.taskSummary(sid, st.attemptId(), max_q)
        if summary.isDefined():  # not retained -> skip the stage
            mx = max(mx, int(summary.get().duration().apply(0)))
    return mx, last, mem_sp, disk_sp


def asof_whale_measure(spark, src_sf: str, copies: int, whale_share: float = 0.5) -> dict:
    """Whale-key as-of measurement (VERDICT r10 ask #2): scale events by
    `copies`, reassign ~`whale_share` of all rows to ONE user, then time
    the plain window asof_join against asof_join_bucketed at several
    bucket widths, recording wall AND max-task duration. The plain
    window serializes the whale's entire history onto one task (AQE skew
    split cannot act inside a window partition); the bucketed form
    bounds each task to one (key, bucket)."""
    from pyspark.sql import functions as F

    from etl_poc_spark.io import load_table
    from etl_poc_spark.operators.temporal import asof_join, asof_join_bucketed

    base = load_table(spark, src_sf, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    scaled = None
    for i in range(copies):
        c = base.withColumn("event_id", F.col("event_id") + F.lit(i * ID_STRIDE))
        scaled = c if scaled is None else scaled.unionByName(c)
    mod = max(2, int(round(1.0 / whale_share)))
    ev = scaled.withColumn(
        "user_id",
        F.when(
            F.pmod(F.xxhash64("event_id"), F.lit(mod)) == 0, F.lit(999_999_999)
        ).otherwise(F.col("user_id")),
    ).persist()
    n = ev.count()
    n_whale = ev.filter(F.col("user_id") == 999_999_999).count()
    views = ev.filter(F.col("event_type") == "view")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("purchase_value")
    )
    span = ev.agg(
        (F.unix_seconds(F.max("ts")) - F.unix_seconds(F.min("ts"))).alias("s")
    ).collect()[0]["s"]

    out = {
        "n_rows": n,
        "n_whale_rows": n_whale,
        "whale_share": round(n_whale / n, 3),
        "ts_span_days": round(span / 86400, 1),
        "runs": {},
    }
    floor = _stage_stats(spark, -1)[1]

    def run(label, fn):
        nonlocal floor
        t0 = time.perf_counter()
        fn().write.format("noop").mode("overwrite").save()
        wall = round(time.perf_counter() - t0, 1)
        mx, floor, _, _ = _stage_stats(spark, floor)
        out["runs"][label] = {"wall_s": wall, "max_task_s": round(mx / 1000, 1)}
        print(json.dumps({label: out["runs"][label]}), flush=True)

    run("plain_window", lambda: asof_join(
        views, purchases, by=["user_id"], left_ts="ts", right_ts="ts",
        tiebreak_cols=["purchase_value"],
    ))
    for bs in (86400, 6 * 3600, 3600):
        run(f"bucketed_{bs}s", lambda bs=bs: asof_join_bucketed(
            views, purchases, by=["user_id"], bucket_seconds=bs,
            left_ts="ts", right_ts="ts", tiebreak_cols=["purchase_value"],
        ))
    ev.unpersist()
    return out


def span_hot_hash_measure(
    spark, src_sf: str, copies: int, hot_share: float = 0.5
) -> dict:
    """Hot window-hash fixture (r16 verdict watch item 5 → r17 ask #10):
    the r16 span rewrites compute the duplicate verdict as min/max over
    Window.partitionBy(h) instead of a map-side-combining groupBy(h) +
    join — a pathologically hot h therefore buffers its WHOLE partition
    in one window task (AQE cannot split inside a window partition),
    where the old aggregate pre-combined per map task. This measurement
    plants a fixed 8-token boilerplate footer on ~hot_share of a
    `copies`-scaled documents table (every planted doc then shares the
    footer's window hash — ONE h with ~n·hot_share members) and records
    wall, max-task duration, and window-operator spill for
    span_coverage, against the same corpus without the hot phrase.
    Decision rule: if the hot run's max-task/spill blows up relative to
    baseline, the salted two-phase verdict guard is warranted; flat
    readings mean the narrow (id, start, 16-byte-md5) window rows keep
    the buffer benign at this scale."""
    from pyspark.sql import functions as F

    from etl_poc_spark.io import load_table
    from etl_poc_spark.operators.spandedup import span_coverage

    base = load_table(spark, src_sf, "documents").select("doc_id", "text")
    scaled = None
    for i in range(copies):
        c = base.withColumn("doc_id", F.col("doc_id") + F.lit(i * ID_STRIDE))
        scaled = c if scaled is None else scaled.unionByName(c)
    mod = max(2, int(round(1.0 / hot_share)))
    footer = " the same eight token boilerplate footer phrase here"
    hot = scaled.withColumn(
        "text",
        F.when(
            F.pmod(F.xxhash64(F.col("doc_id").cast("string")), F.lit(mod)) == 0,
            F.concat(F.col("text"), F.lit(footer)),
        ).otherwise(F.col("text")),
    ).persist()
    n = hot.count()
    n_hot = hot.filter(F.col("text").endswith(footer)).count()
    out = {"n_docs": n, "n_hot_docs": n_hot, "runs": {}}
    floor = _stage_stats(spark, -1)[1]

    def run(label, df):
        nonlocal floor
        t0 = time.perf_counter()
        span_coverage(df, "doc_id", "text", window=8).write.format("noop").mode(
            "overwrite"
        ).save()
        wall = round(time.perf_counter() - t0, 1)
        mx, floor, mem_sp, disk_sp = _stage_stats(spark, floor)
        out["runs"][label] = {
            "wall_s": wall,
            "max_task_s": round(mx / 1000, 1),
            "memory_spilled_mb": mem_sp // (1024 * 1024),
            "disk_spilled_mb": disk_sp // (1024 * 1024),
        }
        print(json.dumps({label: out["runs"][label]}), flush=True)

    run("baseline", scaled)
    run("hot_hash", hot)
    hot.unpersist()
    return out


def _peak_rss_mb() -> int:
    """Peak RSS of this process tree (the Spark JVM, Python daemon and
    workers) — perfbench's `peak_rss_mb`, so no other process on the
    host is counted."""
    return tree_peak_rss_bytes(os.getpid()) // (1024 * 1024)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scratch", default="/tmp/sf1-smoke")
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--copies", type=int, default=10)
    ap.add_argument("--skip-build", action="store_true")
    ap.add_argument(
        "--semdedup-realistic",
        action="store_true",
        help="build the jittered (~9%% true-dup) embeddings corpus and "
        "print the isolated semdedup train/assign/pair/verify phase "
        "split instead of running the query list",
    )
    ap.add_argument(
        "--asof-whale",
        action="store_true",
        help="skewed-events as-of measurement: plain window vs bucketed, "
        "wall + max-task, ~50%% of rows on one user",
    )
    ap.add_argument(
        "--span-hot-hash",
        action="store_true",
        help="hot window-hash fixture for the r16 span window-verdict "
        "rewrites: boilerplate footer on ~50%% of scaled documents; "
        "wall + max-task + spill for span_coverage vs baseline",
    )
    ap.add_argument(
        "--tables",
        default=None,
        help="comma-separated subset of tables to build (default: all); "
        "e.g. --tables documents for the unimax/dsir text tier",
    )
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    from etl_poc_spark import registry
    from etl_poc_spark.operators.pins import release_pins
    from etl_poc_spark.session import get_spark

    registry.load_all()
    if args.asof_whale:
        spark = get_spark("scale_smoke")
        report = asof_whale_measure(spark, args.src, args.copies)
        report["copies"] = args.copies
        print(json.dumps({"asof_whale": report}))
        return 0
    if args.span_hot_hash:
        spark = get_spark("scale_smoke")
        report = span_hot_hash_measure(spark, args.src, args.copies)
        report["copies"] = args.copies
        print(json.dumps({"span_hot_hash": report}))
        return 0
    spark = get_spark("scale_smoke")
    if args.semdedup_realistic:
        if not args.skip_build:
            build_embeddings_jittered(spark, args.src, args.scratch, args.copies)
        report = semdedup_phase_split(spark, args.scratch)
        report["copies"] = args.copies
        report["peak_rss_mb"] = _peak_rss_mb()
        print(json.dumps({"semdedup_realistic_phase_split": report}))
        return 0
    if not args.skip_build:
        only = args.tables.split(",") if args.tables else None
        build(spark, args.src, args.scratch, args.copies, only=only)

    def semdedup_adaptive(spark, sf_dir):
        # the gate query is oracle-locked to 64 centroids; this variant
        # proves the auto_centroids scale fix (constant cluster occupancy
        # -> linear pair work) on the same corpus. The corpus is PINNED
        # exactly as the production query pins it — training, assignment,
        # both pair sides, and both norm frames re-read it, and without
        # the pin the cast+union re-derives per action (that artifact
        # dominated the first adaptive measurement: 46.5s vs ~7s pinned)
        from etl_poc_spark.operators.pins import pin
        from etl_poc_spark.operators.similarity import (
            auto_centroids,
            semdedup,
            train_kmeans_centroids,
        )
        from etl_poc_spark.queries.similarity_q import _semdedup_corpus

        corpus = pin(_semdedup_corpus(spark, sf_dir))
        k = auto_centroids(corpus.count(), target_cluster_size=200)
        cents = train_kmeans_centroids(corpus, n_centroids=k, n_iters=1)
        return semdedup(corpus, cents, threshold=0.99, max_cluster_size=2000)

    # semdedup_flags_adaptive_float is now a REGISTERED query (the
    # production configuration: auto_centroids + minibatch training +
    # float verify, pinned-exact in the gate) — setdefault keeps it.

    def _train_probe(trainer_name):
        # training-phase-only probes: the r9 smoke showed k-means training
        # as the dominant semdedup phase; these isolate it so the
        # full-Lloyd vs minibatch scaling is measured, not inferred.
        # Returns a 1-row frame (k, dim, checksum) so the runner's noop
        # write has something to execute.
        def probe(spark, sf_dir):
            from etl_poc_spark.operators import similarity as S
            from etl_poc_spark.operators.pins import pin
            from etl_poc_spark.queries.similarity_q import _semdedup_corpus

            corpus = pin(_semdedup_corpus(spark, sf_dir))
            k = S.auto_centroids(corpus.count(), target_cluster_size=200)
            if trainer_name == "full":
                cents = S.train_kmeans_centroids(corpus, n_centroids=k, n_iters=1)
            else:
                cents = S.train_kmeans_centroids_minibatch(
                    corpus, n_centroids=k, n_iters=4
                )
            chk = round(sum(sum(c) for c in cents), 6)
            return spark.createDataFrame(
                [(k, len(cents[0]), chk)], "k int, dim int, checksum double"
            )

        return probe

    registry.QUERIES.setdefault("semdedup_flags_adaptive", semdedup_adaptive)
    registry.QUERIES.setdefault("kmeans_train_full", _train_probe("full"))
    registry.QUERIES.setdefault("kmeans_train_minibatch", _train_probe("minibatch"))
    # media decode parallelism (r13 verdict ask #7): count the NON-EMPTY
    # tasks the audio render/decode stage actually runs — the artifact
    # proof that the mapInPandas path is no longer single-task
    media_parallelism = None
    try:
        from pyspark.sql import functions as F

        from etl_poc_spark.io import load_table
        from etl_poc_spark.queries.multimodal_q import render_document_audio

        rendered = render_document_audio(load_table(spark, args.scratch, "documents"))
        media_parallelism = {
            "render_partitions": rendered.rdd.getNumPartitions(),
            "nonempty_decode_tasks": rendered.select(
                F.spark_partition_id().alias("p")
            )
            .distinct()
            .count(),
        }
        print(json.dumps({"media_decode_parallelism": media_parallelism}), flush=True)
    except Exception as exc:  # noqa: BLE001 — diagnostics must not kill the smoke
        print(f"media parallelism probe failed: {exc}", flush=True)

    results = {}
    for name in args.queries or SMOKE_QUERIES + [
        "semdedup_flags_adaptive", "semdedup_flags_adaptive_float",
        "kmeans_train_full", "kmeans_train_minibatch",
    ]:
        t0 = time.perf_counter()
        try:
            registry.QUERIES[name](spark, args.scratch).write.format("noop").mode(
                "overwrite"
            ).save()
            sec = round(time.perf_counter() - t0, 1)
            err = None
        except Exception as exc:  # noqa: BLE001
            sec = round(time.perf_counter() - t0, 1)
            err = f"{type(exc).__name__}: {exc}"[:300]
        finally:
            release_pins()
            spark.catalog.clearCache()
        row = {"query": name, "seconds": sec, "peak_rss_mb": _peak_rss_mb()}
        if err:
            row["err"] = err
        results[name] = row
        print(json.dumps(row), flush=True)
    print(
        json.dumps(
            {
                "scale_smoke": results,
                "copies": args.copies,
                "media_decode_parallelism": media_parallelism,
            }
        )
    )
    return 1 if any("err" in r for r in results.values()) else 0


if __name__ == "__main__":
    sys.exit(main())
