"""Plan-quality regression tests: keep the physical-plan properties that
matter at scale (SCALING.md) true as the code evolves."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_poc_spark import registry
from etl_poc_spark.functions.text import word_count

registry.load_all()


@pytest.fixture(scope="module")
def parity_sf_dir(sf_dir):
    """The sf0.01 tables beside the configured test scale — large enough
    that every analytics op sees non-trivial groups (min-support pairs,
    several ABC classes); the configured scale when they are absent."""
    p = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    return p if os.path.isdir(p) else sf_dir


def formatted_plan(spark, name, sf_dir) -> str:
    return explain_formatted(registry.QUERIES[name](spark, sf_dir))


def explain_formatted(df) -> str:
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def tree_section(p: str) -> str:
    """The operator-TREE section of a formatted plan — everything before
    the per-operator detail blocks (which repeat every operator name once
    more, so raw substring counts over the whole text double-count)."""
    import re

    out = []
    for ln in p.splitlines():
        if re.match(r"^\(\d+\) ", ln):
            break
        out.append(ln)
    return "\n".join(out)


def _tree_depth(ln: str) -> int:
    import re

    m = re.search(r"[*A-Za-z]", ln)
    return m.start() if m else 0


def window_child_subtree(p: str) -> str:
    """The child subtree (indented block) of the LAST — i.e. deepest —
    Window operator in the tree section. Anchors window-over-aggregate
    assertions structurally (ADVICE r16: a raw text-position check passed
    even when the aggregate sat in an unrelated subtree)."""
    lines = tree_section(p).splitlines()
    idx = max(i for i, ln in enumerate(lines) if "Window" in ln)
    d = _tree_depth(lines[idx])
    sub = []
    for ln in lines[idx + 1 :]:
        if ln.strip() and _tree_depth(ln) <= d:
            break
        sub.append(ln)
    return "\n".join(sub)


def test_pricing_summary_pushdown_and_pruning(spark, sf_dir):
    p = formatted_plan(spark, "pricing_summary", sf_dir)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p
    # column pruning: projection never reads unused columns
    read_schema = [l for l in p.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" not in read_schema and "l_partkey" not in read_schema
    # partial aggregation before the exchange (map-side combine)
    assert p.index("HashAggregate") < p.index("Exchange")


def test_top_revenue_orders_broadcasts_and_topk(spark, sf_dir):
    p = formatted_plan(spark, "top_revenue_orders", sf_dir)
    assert p.count("BroadcastHashJoin") >= 1  # dim side broadcast
    assert "TakeOrderedAndProject" in p  # top-k, not global sort
    assert "EqualTo(c_mktsegment,BUILDING)" in p  # dim filter pushed to scan


def test_semi_anti_join_shapes(spark, sf_dir):
    p = formatted_plan(spark, "order_lineitem_semi_anti", sf_dir)
    assert "LeftSemi" in p and "LeftAnti" in p


def test_dedup_uses_cached_shingles(spark, sf_dir):
    p = formatted_plan(spark, "minhash_lsh_pairs", sf_dir)
    assert "InMemoryTableScan" in p  # persisted shingles/bands reused


def test_embedding_topk_no_shuffle_of_base_vectors(spark, sf_dir):
    p = formatted_plan(spark, "embedding_topk", sf_dir)
    # the query side broadcasts; base vectors join via broadcast hash joins
    assert p.count("BroadcastHashJoin") >= 2


def test_chunker_is_shuffle_free(spark, sf_dir):
    p = formatted_plan(spark, "chunk_documents", sf_dir)
    assert "Exchange" not in p  # pure narrow fan-out


def test_doc_quality_score_is_shuffle_free(spark, sf_dir):
    p = formatted_plan(spark, "doc_quality_score", sf_dir)
    assert "Exchange" not in p


def test_approx_distinct_close_to_exact(spark, sf_dir):
    rows = registry.QUERIES["approx_distinct_parts"](spark, sf_dir).collect()
    for r in rows:
        assert abs(r["approx_parts"] - r["exact_parts"]) / r["exact_parts"] < 0.05


def test_pair_cosine_broadcast_is_conditional(spark):
    """Hint tiers: a query side over the generic row cap loses the pairs /
    exploded / norm hints (those frames scale with |q| x |b| or |q| x dim);
    a side over even the whole-vector cap loses its vector hint too. Only
    provably bounded frames ever carry a broadcast hint — everything else
    is left to AQE."""
    from pyspark.sql import functions as F

    from etl_poc_spark.operators.similarity import (
        _BROADCAST_ROW_CAP,
        _BROADCAST_VEC_ROW_CAP,
        _pair_cosine,
    )

    def vecs(n, prefix_id=0):
        return spark.range(n).select(
            (F.col("id") + prefix_id).cast("int").alias("vec_id"),
            F.array(*[(F.col("id") % 7 + i).cast("float") for i in range(4)]).alias("embedding"),
        )

    huge_q = vecs(_BROADCAST_VEC_ROW_CAP + 1)
    mid_q = vecs(_BROADCAST_ROW_CAP + 1)
    small_q = vecs(16)
    base = vecs(64, prefix_id=1_000_000)

    def hints(q):
        pairs = q.select(F.col("vec_id").alias("query_id")).crossJoin(
            base.select(F.col("vec_id").alias("neighbor_id"))
        )
        plan = _pair_cosine(q, base, pairs, "vec_id", "embedding")
        return plan._jdf.queryExecution().analyzed().toString().count("ResolvedHint")

    n_small, n_mid, n_huge = hints(small_q), hints(mid_q), hints(huge_q)
    # small: pairs + vector frames + norm frames all hinted
    assert n_small >= 4
    # mid (over generic cap, under vec cap): vectors + base norms only —
    # the pairs frame and the dim-scaled query frames are NOT hinted
    assert n_mid == 3
    # huge (over the vec cap too): only the small base side is hinted
    assert n_huge == 2
    assert n_huge < n_mid < n_small


def test_asof_join_is_single_window_pass(spark, sf_dir):
    p = formatted_plan(spark, "events_asof_click_view", sf_dir)
    # union + ONE window over user_id — never a per-row range subquery
    assert p.count("Window") >= 1
    assert "Union" in p
    assert "NestedLoop" not in p and "CartesianProduct" not in p


def test_range_join_broadcasts_interval_dim(spark, sf_dir):
    p = formatted_plan(spark, "orders_price_band_range_join", sf_dir)
    # the 4-row band dim is broadcast; the fact side streams
    assert "BroadcastNestedLoopJoin" in p
    assert "SortMergeJoin" not in p


def test_contamination_broadcasts_benchmark_grams(spark, sf_dir):
    p = formatted_plan(spark, "contamination_check", sf_dir)
    assert "BroadcastHashJoin" in p  # small benchmark gram table broadcast


def test_train_split_is_narrow_plus_one_shuffle(spark, sf_dir):
    p = formatted_plan(spark, "train_split_stats", sf_dir)
    assert "Join" not in p  # split assignment is a narrow projection
    # one aggregation shuffle, with map-side partial agg before it
    assert p.count("Exchange") <= 2
    assert p.index("HashAggregate") < p.index("Exchange")


def test_time_rollup_is_one_expand_one_shuffle(spark, sf_dir):
    p = formatted_plan(spark, "events_time_rollup", sf_dir)
    # formatted mode prints each node twice (tree + detail): one Expand node
    assert p.count("Expand") == 2  # all four grains from one pass
    assert p.index("HashAggregate") < p.index("Exchange")  # partial agg first


def test_min_cost_supplier_pushdown_and_semi_join_before_agg(spark, sf_dir):
    """Q2 shape: the part-attribute filter reaches the parquet scan, and
    the offer aggregation is gated by a LeftSemi BEFORE the min (only
    qualifying parts' offers aggregate)."""
    p = formatted_plan(spark, "min_cost_supplier", sf_dir)
    assert "EqualTo(p_type,LARGE)" in p
    assert "LeftSemi" in p
    first_semi = p.index("LeftSemi")
    first_agg = p.index("HashAggregate")
    assert first_semi < first_agg or "BroadcastHashJoin LeftSemi" in p


def test_bloom_prefilter_no_shuffle_join(spark, sf_dir):
    """The bloom probe evaluates as a Filter in the scan stage (literal
    bit words, no join); the only join is the broadcast equi-join that
    removes false positives — never a SortMergeJoin of the fact side."""
    p = formatted_plan(spark, "orders_bloom_prefilter", sf_dir)
    assert "SortMergeJoin" not in p
    assert "getbit" in p.lower() or "Filter" in p


def test_rolling_window_is_range_frame_one_shuffle(spark, sf_dir):
    """The 7-day rolling query uses a RANGE frame over the day index and
    shuffles once on the group key (window reuses the aggregate's
    partitioning where possible; no extra exchange storm)."""
    p = formatted_plan(spark, "segment_rolling_7day_revenue", sf_dir)
    assert "RangeFrame, -6" in p  # time-based frame, not a RowFrame
    assert "RowFrame" not in p
    assert p.count("Exchange") <= 8  # (formatted prints nodes twice) = <=4 real: join, agg, window, output sort


def test_no_unplanned_cartesian_or_nested_loop_joins(spark, sf_dir):
    """Sweep every registered query's physical plan for scale-killers:
    CartesianProduct anywhere is a failure; BroadcastNestedLoopJoin is
    allowed only where the broadcast side is provably tiny by construction
    (whitelisted below with the reason). Keeps a future query from quietly
    shipping an O(n^2) join."""
    from etl_poc_spark.operators.pins import release_pins

    # BNLJ whitelist: every entry broadcasts a bounded side
    bnlj_ok = {
        "bm25_search",          # 1-row corpus-stats (avgdl) scalar join
        "hybrid_rrf_search",    # same scalar join via the bm25 leg
        "orders_price_band_range_join",  # documented non-equi broadcast interval join (bands dim is tiny)
        "embedding_topk",       # exact baseline: bounded query side (10 vectors) x base
        "embedding_pq_topk",    # ADC sweep: same bounded query side x decoded candidates
        "embedding_sq8_topk",   # SQ8 sweep: bounded query side (4 vectors) x quantized base
        "bitext_margin_pairs",  # margin mining: bounded src side (40 vectors) x tgt scan; scale path passes explicit pairs
        "hll_sketch_union_users",  # 1-row sketch-union scalar join
        "kmv_distinct_users",   # 1-row sketch x 1-row exact-count scalar join
        "price_quantiles_histogram",  # 5-literal-row quantile probe x <=1000-bin frame
        "dormant_rich_customers",  # 1-row decorrelated scalar-average threshold join
        "vocab_stats",          # 1-row corpus-size scalar join for df_ratio
        "orders_expectations",  # 1-row FK-orphan count x 1-row total scalar join
        "part_copurchase_triangles",  # two 1-row count scalar joins
        "partkey_selfjoin_size_preflight",  # 1-row exact x 1-row estimate scalar join
        "price_distribution_drift",  # 1-row bin-total scalar join over the 10-bin frame
        "segment_price_outliers",    # 5-row segment-stats broadcast onto the fact scan
        "partkey_skew_report",       # 1-row stats x 1-row p99 scalar join
        "part_association_rules",    # 1-row basket-count scalar x 20-row top-k frame
        "doc_lm_perplexity",         # 1-row vocabulary-size scalar join (smoothing denominator)
        "doc_lm_perplexity_heldout",  # same scalar join, reference-trained LM
        "orders_column_profile",     # 1-row regular-aggs x 1-row distinct-aggs scalar join (r16 Expand split)
        "mixture_temperature_weights",  # 1-row max-tokens scalar join onto the per-source frame
        "quality_threshold_sweep",  # 11-literal-row threshold probe x <=11-row score-tier histogram (both bounded by construction)
    }
    offenders = {}
    for name, fn in registry.QUERIES.items():
        try:
            p = formatted_plan(spark, name, sf_dir)
        finally:
            release_pins()
            spark.catalog.clearCache()
        if "CartesianProduct" in p:
            offenders[name] = "CartesianProduct"
        elif "BroadcastNestedLoopJoin" in p and name not in bnlj_ok:
            offenders[name] = "BroadcastNestedLoopJoin (not whitelisted)"
    assert not offenders, f"scale-killer join shapes: {offenders}"


def test_yaml_curation_vocabulary(spark):
    """The declarative pipeline runs the curation ops end to end:
    quality_filter -> exact_dedup -> near_dedup -> pii_redact -> sample."""
    from etl_poc_spark.plans.yaml_pipeline import run_pipeline

    good = "the quick brown fox jumps over a lazy dog near the river bank today"
    near = good.rsplit(" ", 1)[0] + " tonight"  # one-word tail edit
    mail = "the contact a address of bob is bob@example.com and more the a words here now"
    docs = spark.createDataFrame(
        [
            (1, good),
            (2, good),          # exact dup of 1 -> dropped (higher id)
            (3, near),          # near dup of 1 -> dropped
            (4, "alpha beta gamma delta"),  # no stopwords -> quality reject
            (5, mail),          # kept, email redacted
        ],
        "doc_id long, text string",
    )
    config = {
        "default_model": "stub",
        "datasets": {"docs": {"path": "injected.json"}},
        "operations": [
            {"name": "quality", "type": "quality_filter"},
            {"name": "exact", "type": "exact_dedup", "keys": ["text"], "id": "doc_id"},
            {"name": "near", "type": "near_dedup"},
            {"name": "redact", "type": "pii_redact"},
            {"name": "samp", "type": "sample", "percent": 100},
        ],
        "pipeline": {
            "steps": [
                {
                    "name": "curate",
                    "input": "docs",
                    "operations": ["quality", "exact", "near", "redact", "samp"],
                }
            ]
        },
    }
    out = run_pipeline(spark, config, datasets={"docs": docs})
    rows = {r["doc_id"]: r["text"] for r in out["__final__"].collect()}
    assert set(rows) == {1, 5}
    assert rows[1] == good
    assert "[EMAIL]" in rows[5] and "bob@example.com" not in rows[5]


def test_yaml_temperature_mix_rates(spark):
    """temperature_mix: keep-rate ∝ n^(tau-1) normalized to the most-
    boosted stratum — at tau=0.5 the smallest source keeps 100% and a
    20x-bigger source keeps ~sqrt(1/20), so realized mass follows
    n^tau. Deterministic across runs (md5 hash_bucket decision)."""
    from etl_poc_spark.plans.yaml_pipeline import _apply_op
    from etl_poc_spark.llm.provider import StubProvider

    docs = spark.createDataFrame(
        [(i, "small", 1) for i in range(20)]
        + [(100 + i, "big", 1) for i in range(400)],
        "doc_id long, source string, w long",
    )
    op = {
        "name": "mix",
        "type": "temperature_mix",
        "stratify_key": "source",
        "weight_key": "w",
        "tau": 0.5,
    }
    out = _apply_op(docs, op, StubProvider())
    kept = {r["doc_id"] for r in out.collect()}
    small = {i for i in kept if i < 100}
    big = kept - small
    assert len(small) == 20                      # most-boosted: keep all
    assert 40 <= len(big) <= 160                 # ~22.4% of 400, hash noise
    kept2 = {r["doc_id"] for r in _apply_op(docs, op, StubProvider()).collect()}
    assert kept2 == kept                         # pure function of (ids, salt)
    # tau=1 is proportional sampling: nothing is dropped
    out_t1 = _apply_op(docs, {**op, "tau": 1.0}, StubProvider())
    assert out_t1.count() == 420


def test_yaml_selection_pipeline_e2e(spark, sf_dir):
    """The round-12 selection vocabulary composes declaratively:
    quality_filter -> exact_dedup -> dsir_select(k) -> temperature_mix.
    DSIR shifts the kept set toward the target language; the mix stage
    subsamples it deterministically."""
    from pyspark.sql import functions as F

    from etl_poc_spark.plans.yaml_pipeline import run_pipeline

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    config = {
        "default_model": "stub",
        "datasets": {"docs": {"path": "injected.json"}},
        "operations": [
            {"name": "quality", "type": "quality_filter"},
            {"name": "exact", "type": "exact_dedup", "keys": ["text"], "id": "doc_id"},
            {
                "name": "select",
                "type": "dsir_select",
                "target_where": "lang = 'en'",
                "k": 40,
                "n_buckets": 1024,
            },
            {
                "name": "mix",
                "type": "temperature_mix",
                "stratify_key": "source",
                "tau": 0.5,
            },
        ],
        "pipeline": {
            "steps": [
                {
                    "name": "curate",
                    "input": "docs",
                    "operations": ["quality", "exact", "select", "mix"],
                }
            ]
        },
    }
    out = run_pipeline(spark, config, datasets={"docs": docs})["__final__"]
    rows = out.collect()
    assert 0 < len(rows) <= 40
    assert set(out.columns) == set(docs.columns)  # selection never mutates rows
    # DSIR pulled toward the target: en share of the 40 selected docs
    # beats the corpus baseline by a wide margin
    en_base = docs.where(F.col("lang") == "en").count() / docs.count()
    en_sel = sum(r["lang"] == "en" for r in rows) / len(rows)
    assert en_sel > en_base + 0.15
    # deterministic end to end
    rows2 = run_pipeline(spark, config, datasets={"docs": docs})["__final__"].collect()
    assert {r["doc_id"] for r in rows2} == {r["doc_id"] for r in rows}
    # attach mode: k omitted -> weights ride along as columns
    cfg2 = {
        **config,
        "operations": [
            {
                "name": "select",
                "type": "dsir_select",
                "target_where": "lang = 'en'",
                "n_buckets": 1024,
            }
        ],
        "pipeline": {
            "steps": [{"name": "s", "input": "docs", "operations": ["select"]}]
        },
    }
    w = run_pipeline(spark, cfg2, datasets={"docs": docs})["__final__"]
    assert "log_weight" in w.columns and "n_features" in w.columns
    assert w.count() == docs.count()


def test_yaml_funnel_and_debounce_ops(spark):
    """The analytics operators drive from config: debounce strips the
    burst duplicate, then the funnel computes per-entity step times and
    the rollup collapses to counts + conversion ratios."""
    from datetime import datetime

    from etl_poc_spark.plans.yaml_pipeline import run_pipeline

    t = lambda m, s=0: datetime(2024, 1, 1, 0, m, s)  # noqa: E731
    events = spark.createDataFrame(
        [
            # u1 converts; the second view 10s after the first is burst noise
            (1, 1, "view", t(0)),
            (2, 1, "view", t(0, 10)),
            (3, 1, "click", t(5)),
            (4, 1, "purchase", t(9)),
            # u2 stalls after view
            (5, 2, "view", t(0)),
        ],
        "event_id long, user_id long, event_type string, ts timestamp",
    )
    config = {
        "default_model": "stub",
        "datasets": {"events": {"path": "injected.json"}},
        "operations": [
            {
                "name": "clean",
                "type": "debounce",
                "keys": ["user_id", "event_type"],
                "within_seconds": 60,
            },
            {
                "name": "conv",
                "type": "funnel",
                "entity_key": "user_id",
                "max_gap_seconds": 600,
                "steps": [
                    {"name": "view", "condition": "event_type = 'view'"},
                    {"name": "click", "condition": "event_type = 'click'"},
                    {"name": "purchase", "condition": "event_type = 'purchase'"},
                ],
            },
        ],
        "pipeline": {
            "steps": [
                {"name": "funnel", "input": "events", "operations": ["clean", "conv"]}
            ]
        },
    }
    out = run_pipeline(spark, config, datasets={"events": events})
    rows = {r["user_id"]: r for r in out["__final__"].collect()}
    assert rows[1].t_view == t(0) and rows[1].t_click == t(5) and rows[1].t_purchase == t(9)
    assert rows[2].t_view == t(0) and rows[2].t_click is None

    # rollup variant: one row of counts/ratios
    config["operations"][1]["rollup"] = True
    roll = run_pipeline(spark, config, datasets={"events": events})["__final__"].collect()[0]
    assert roll.n_entities == 2 and roll.reached_view == 2
    assert roll.reached_click == 1 and roll.view_to_click == 0.5


def test_yaml_line_dedup_op(spark):
    """The line_dedup pipeline op rewrites text with cross-doc duplicated
    segments removed (all copies drop), keeps every row, and leaves docs
    without duplicated segments untouched."""
    from etl_poc_spark.plans.yaml_pipeline import run_pipeline

    bp = "subscribe our newsletter"  # one full 3-word segment
    docs = spark.createDataFrame(
        [
            (1, f"{bp} unique alpha words"),
            (2, f"other beta stuff {bp}"),
            (3, "clean gamma text here"),
        ],
        "doc_id long, text string",
    )
    config = {
        "default_model": "stub",
        "datasets": {"docs": {"path": "injected.json"}},
        "operations": [
            {"name": "ld", "type": "line_dedup", "words_per_segment": 3},
        ],
        "pipeline": {
            "steps": [{"name": "curate", "input": "docs", "operations": ["ld"]}]
        },
    }
    out = run_pipeline(spark, config, datasets={"docs": docs})
    rows = {r["doc_id"]: r["text"] for r in out["__final__"].collect()}
    assert rows == {
        1: "unique alpha words",
        2: "other beta stuff",
        3: "clean gamma text here",
    }


def test_yaml_semdedup_op(spark):
    """The semdedup pipeline op drops semantic near-duplicates of an
    embedding column end-to-end: trains the quantizer on the frame, keeps
    one member per duplicate pair, and leaves distinct vectors alone."""
    from etl_poc_spark.plans.yaml_pipeline import run_pipeline

    # ids 1 and 2 share a direction (cosine 1.0); 3 and 4 are far from
    # everything; default keep=min_id keeps id 1
    docs = spark.createDataFrame(
        [
            (1, "a", [1.0, 0.0, 0.0, 0.0]),
            (2, "b", [2.0, 0.0, 0.0, 0.0]),
            (3, "c", [0.0, 1.0, 0.0, 0.0]),
            (4, "d", [0.0, 0.0, 1.0, 0.0]),
        ],
        "doc_id long, text string, embedding array<double>",
    )
    config = {
        "default_model": "stub",
        "datasets": {"docs": {"path": "injected.json"}},
        "operations": [
            {"name": "sd", "type": "semdedup", "n_centroids": 2, "threshold": 0.99},
        ],
        "pipeline": {
            "steps": [{"name": "curate", "input": "docs", "operations": ["sd"]}]
        },
    }
    out = run_pipeline(spark, config, datasets={"docs": docs})
    kept = sorted(r["doc_id"] for r in out["__final__"].collect())
    assert kept == [1, 3, 4]
    # schema is preserved — semdedup filters rows, never alters columns
    assert out["__final__"].columns == ["doc_id", "text", "embedding"]

    # trainer: minibatch (the scale path) makes the same keep decisions
    config["operations"][0]["trainer"] = "minibatch"
    config["operations"][0]["verify"] = "float"
    out = run_pipeline(spark, config, datasets={"docs": docs})
    assert sorted(r["doc_id"] for r in out["__final__"].collect()) == [1, 3, 4]

    # assign: two_level (the O(n·sqrt(k)) r11 assignment) — same keeps
    config["operations"][0]["assign"] = "two_level"
    out = run_pipeline(spark, config, datasets={"docs": docs})
    assert sorted(r["doc_id"] for r in out["__final__"].collect()) == [1, 3, 4]


def test_yaml_span_dedup_op(spark):
    """The span_dedup pipeline op drops docs whose cross-doc duplicated
    span coverage exceeds max_coverage, keeps the rest, and preserves
    schema."""
    from etl_poc_spark.plans.yaml_pipeline import run_pipeline

    span = " ".join(f"tok{j}" for j in range(10))
    docs = spark.createDataFrame(
        [
            (1, span),  # verbatim copy of 2 -> coverage 1.0
            (2, span),
            (3, span + " " + " ".join(f"u{j}" for j in range(30))),  # 10/40 = 0.25
            (4, " ".join(f"v{j}" for j in range(12))),  # unique
        ],
        "doc_id long, text string",
    )
    config = {
        "default_model": "stub",
        "datasets": {"docs": {"path": "injected.json"}},
        "operations": [
            {"name": "sd", "type": "span_dedup", "max_coverage": 0.25},
        ],
        "pipeline": {
            "steps": [{"name": "curate", "input": "docs", "operations": ["sd"]}]
        },
    }
    out = run_pipeline(spark, config, datasets={"docs": docs})
    kept = sorted(r["doc_id"] for r in out["__final__"].collect())
    # 1 and 2 exceed 0.25; doc 3 sits exactly AT 0.25 (not above) and stays
    assert kept == [3, 4]
    assert out["__final__"].columns == ["doc_id", "text"]


def test_yaml_span_dedup_removal_op(spark):
    """span_dedup_removal rewrites text with duplicated spans CUT (every
    doc survives), passes other columns through, and reports
    removed_tokens (ExactSubstr output step, r15)."""
    from etl_poc_spark.plans.yaml_pipeline import run_pipeline

    span = " ".join(f"tok{j}" for j in range(10))
    docs = spark.createDataFrame(
        [
            (1, span + " unique one tail", "web"),
            (2, span, "book"),
            (3, "fully original words in this document", "web"),
        ],
        "doc_id long, text string, source string",
    )
    config = {
        "default_model": "stub",
        "datasets": {"docs": {"path": "injected.json"}},
        "operations": [
            {"name": "sr", "type": "span_dedup_removal"},
        ],
        "pipeline": {
            "steps": [{"name": "curate", "input": "docs", "operations": ["sr"]}]
        },
    }
    out = run_pipeline(spark, config, datasets={"docs": docs})
    rows = {r["doc_id"]: r for r in out["__final__"].collect()}
    assert sorted(rows) == [1, 2, 3]                      # nothing dropped
    assert rows[1]["text"] == "unique one tail"
    assert rows[1]["removed_tokens"] == 10
    assert rows[2]["text"] == "" and rows[2]["removed_tokens"] == 10
    assert rows[3]["text"] == "fully original words in this document"
    assert rows[1]["source"] == "web"                     # columns pass through


def test_yaml_transition_streaks_fuzzylink_ops(spark):
    """The round-8 analytics join the declarative vocabulary: transition
    matrix, daily streaks, and blocked fuzzy linkage all drive from
    config with the same semantics as their query/operator forms."""
    from datetime import datetime

    from etl_poc_spark.plans.yaml_pipeline import run_pipeline

    t = lambda d, h=0: datetime(2024, 1, d, h)  # noqa: E731
    events = spark.createDataFrame(
        [
            (1, 1, "view", t(1)),
            (2, 1, "click", t(1, 1)),
            (3, 1, "view", t(2)),
            (4, 1, "view", t(5)),     # gap -> second streak
            (5, 2, "view", t(1)),
        ],
        "event_id long, user_id long, event_type string, ts timestamp",
    )

    def run(op):
        cfg = {
            "default_model": "stub",
            "datasets": {"events": {"path": "injected.json"}},
            "operations": [op],
            "pipeline": {"steps": [
                {"name": "s", "input": "events", "operations": [op["name"]]}
            ]},
        }
        return run_pipeline(spark, cfg, datasets={"events": events})["__final__"]

    tm = {(r["from_type"], r["to_type"]): (r["n_transitions"], r["p"])
          for r in run({"name": "tm", "type": "transition_matrix"}).collect()}
    assert tm[("view", "click")] == (1, 0.5)
    assert tm[("view", "view")] == (1, 0.5)
    assert tm[("click", "view")] == (1, 1.0)

    st = {r["user_id"]: (r["longest_streak"], r["n_active_days"], r["n_streaks"])
          for r in run({"name": "st", "type": "streaks"}).collect()}
    assert st[1] == (2, 3, 2) and st[2] == (1, 1, 1)

    names = spark.createDataFrame(
        [(1, "smith"), (2, "smyth"), (3, "jones")], "doc_id long, text string"
    )
    cfg = {
        "default_model": "stub",
        "datasets": {"names": {"path": "injected.json"}},
        "operations": [{
            "name": "fl", "type": "fuzzy_link", "id": "doc_id",
            "name_key": "text", "block_expr": "substring(text, 1, 2)",
            "max_distance": 1,
        }],
        "pipeline": {"steps": [
            {"name": "s", "input": "names", "operations": ["fl"]}
        ]},
    }
    pairs = run_pipeline(spark, cfg, datasets={"names": names})["__final__"].collect()
    assert [(r["id_a"], r["id_b"], r["distance"]) for r in pairs] == [(1, 2, 1)]


def test_yaml_analytics_tier_ops(spark):
    """The round-9 declarative analytics vocabulary: profile, attribution,
    rfm, twap, abc, and grouping_sets drive from config with the same
    semantics as their query forms (queries/behavior_q.py, profile_q.py)."""
    from datetime import datetime

    from etl_poc_spark.plans.yaml_pipeline import run_pipeline

    t = lambda d, h=0, mi=0: datetime(2024, 1, d, h, mi)  # noqa: E731
    events = spark.createDataFrame(
        [
            (1, 1, "view", t(1, 10, 0), 10.0),
            (2, 1, "purchase", t(1, 10, 30), 50.0),   # within 1h of the view
            (3, 1, "purchase", t(1, 13, 0), 20.0),    # >1h after anything -> direct
            (4, 2, "click", t(2, 9, 0), 5.0),
            (5, 2, "purchase", t(2, 9, 10), 30.0),    # credited to click
            (6, 2, "view", t(3, 9, 0), None),
        ],
        "event_id long, user_id long, event_type string, ts timestamp, value double",
    )

    def run(op, data=events, name="events"):
        cfg = {
            "default_model": "stub",
            "datasets": {name: {"path": "injected.json"}},
            "operations": [op],
            "pipeline": {"steps": [
                {"name": "s", "input": name, "operations": [op["name"]]}
            ]},
        }
        return run_pipeline(spark, cfg, datasets={name: data})["__final__"]

    # profile: one row per column, exact nulls/distinct/min/max
    prof = {r["column_name"]: r for r in run(
        {"name": "p", "type": "profile", "columns": ["event_type", "value"]}
    ).collect()}
    assert prof["value"]["n_nulls"] == 1 and prof["value"]["n_distinct"] == 5
    assert prof["event_type"]["min_str"] == "click"
    assert prof["event_type"]["max_str"] == "view"

    # attribution: last non-conversion touch within the hour, else direct
    att = {r["channel"]: r["n_conversions"] for r in run(
        {"name": "a", "type": "attribution", "within_seconds": 3600}
    ).collect()}
    assert att == {"view": 1, "click": 1, "direct": 1}

    # rfm: 2-tile scores over the 2-entity frame -> each entity its own tile
    rfm = {r["user_id"]: (r["r_score"], r["f_score"], r["m_score"]) for r in run(
        {"name": "r", "type": "rfm", "n_tiles": 2, "value_key": "value"}
    ).collect()}
    # user 2 has the latest event (recency tile 1); user 1 has more events
    assert rfm[2][0] == 1 and rfm[1][0] == 2 and rfm[1][1] == 1

    # twap: view 10 held 30min (user 1); purchases 50 held 2.5h (user 1)
    # and 30 held 23h50m (user 2) -> (50*9000 + 30*85800) / 94800
    tw = {r["event_type"]: (r["n_weighted"], r["twap"]) for r in run(
        {"name": "t", "type": "twap", "value_key": "value"}
    ).collect()}
    assert tw["view"] == (1, 10.0)
    assert tw["purchase"] == (2, round(3024000 / 94800, 9))

    # abc: 80/95 cuts on a 3-key value distribution
    sales = spark.createDataFrame(
        [(1, 80.0), (2, 15.0), (3, 5.0)], "k long, v double"
    )
    abc = {r["k"]: r["abc_class"] for r in run(
        {"name": "c", "type": "abc", "key": "k", "value_key": "v"},
        data=sales, name="sales",
    ).collect()}
    assert abc == {1: "A", 2: "B", 3: "C"}
    roll = {r["abc_class"]: (r["n_keys"], r["class_value"]) for r in run(
        {"name": "c", "type": "abc", "key": "k", "value_key": "v", "rollup": True},
        data=sales, name="sales",
    ).collect()}
    assert roll["A"] == (1, 80.0) and roll["C"] == (1, 5.0)

    # grouping_sets: 3 grains in one pass with the standard grouping_id
    gs = run(
        {"name": "g", "type": "grouping_sets",
         "sets": [["event_type"], []],
         "aggs": {"n": "COUNT(*)", "total_v": "CAST(SUM(value) AS DOUBLE)"}},
    ).collect()
    by_gid = {}
    for r in gs:
        by_gid.setdefault(r["grouping_id"], []).append(r)
    assert {r["event_type"]: r["n"] for r in by_gid[0]} == {
        "view": 2, "purchase": 3, "click": 1
    }
    assert by_gid[1][0]["n"] == 6 and by_gid[1][0]["total_v"] == 115.0


def test_yaml_join_scd2_pit_ops(spark):
    """Multi-input ops: a feature pipeline built ENTIRELY from config —
    step 1 derives an SCD2 history from a change log, step 2 point-in-
    time-joins facts against that step's output, and a plain `join` op
    enriches against a dimension dataset."""
    from datetime import datetime

    from etl_poc_spark.plans.yaml_pipeline import PipelineConfigError, run_pipeline

    t = lambda d: datetime(2024, 1, d)  # noqa: E731
    changes = spark.createDataFrame(
        [(1, "bronze", t(1)), (1, "silver", t(5)), (2, "gold", t(3))],
        "k long, tier string, ts timestamp",
    )
    facts = spark.createDataFrame(
        [(100, 1, t(2)), (101, 1, t(6)), (102, 2, t(1))],
        "fact_id long, k long, ts timestamp",
    )
    dim = spark.createDataFrame(
        [("bronze", 1), ("silver", 2), ("gold", 3)], "tier string, rank int"
    )
    cfg = {
        "default_model": "stub",
        "datasets": {
            "changes": {"path": "injected"},
            "facts": {"path": "injected"},
            "tier_dim": {"path": "injected"},
        },
        "operations": [
            {"name": "hist", "type": "scd2", "keys": ["k"],
             "attrs": ["tier"], "ts_key": "ts"},
            {"name": "lookup", "type": "pit_join", "history": "history",
             "keys": ["k"], "ts_key": "ts", "attrs": ["tier"]},
            {"name": "enrich", "type": "join", "right": "tier_dim",
             "on": ["tier"], "how": "left", "broadcast": True},
        ],
        "pipeline": {"steps": [
            {"name": "history", "input": "changes", "operations": ["hist"]},
            {"name": "features", "input": "facts",
             "operations": ["lookup", "enrich"]},
        ]},
    }
    out = run_pipeline(
        spark, cfg, datasets={"changes": changes, "facts": facts, "tier_dim": dim}
    )
    feats = {r["fact_id"]: (r["tier"], r["rank"])
             for r in out["features"].collect()}
    assert feats == {100: ("bronze", 1), 101: ("silver", 2), 102: (None, None)}

    # unknown second-input frame fails loudly at execution
    bad = dict(cfg)
    bad["datasets"] = {"facts": {"path": "injected"}}
    bad["operations"] = [dict(cfg["operations"][1], history="nope")]
    bad["pipeline"] = {"steps": [
        {"name": "features", "input": "facts", "operations": ["lookup"]}
    ]}
    import pytest

    with pytest.raises(PipelineConfigError, match="unknown frame"):
        run_pipeline(spark, bad, datasets={"facts": facts})


def test_pit_priority_is_union_window_not_range_join(spark, sf_dir):
    """The PIT lookup plans as union + ONE user-key window — never the
    per-key interval theta-join that degenerates on hot keys."""
    p = formatted_plan(spark, "lineitem_pit_priority", sf_dir)
    assert "Union" in p
    assert "NestedLoop" not in p and "CartesianProduct" not in p


def test_column_profile_is_one_scan_one_expand(spark, sf_dir):
    """The multi-metric profile reads the table exactly TWICE (r16 split:
    one plain aggregate for nulls/min/max, one Expand + aggregate for ALL
    N distinct counts — mixing them made Catalyst evaluate every regular
    aggregate on every Expand-multiplied row, measured 2.7s vs 0.8s), and
    the two 1-row results meet in a broadcast join — never N scans, never
    a regular aggregate inside the Expand blowup."""
    from etl_poc_spark.io import load_table
    from etl_poc_spark.llm.provider import StubProvider
    from etl_poc_spark.plans.yaml_pipeline import _apply_op

    # the YAML `profile` op runs the same operator, so it plans the same
    op = {"name": "p", "type": "profile"}
    yaml_plan = explain_formatted(
        _apply_op(load_table(spark, sf_dir, "orders"), op, StubProvider())
    )
    for p in (formatted_plan(spark, "orders_column_profile", sf_dir), yaml_plan):
        # count scans in the TREE section only (ADVICE r16: the old ==4
        # over the whole text encoded the tree+detail duplication, so a
        # harmless formatting change or future exchange reuse would flip it)
        assert tree_section(p).count("Scan parquet") == 2
        assert "Expand" in p
        assert "BroadcastNestedLoopJoin" in p  # the 1-row x 1-row stitch


def _yaml_run(spark, ops, inp, frames):
    """Run `ops` as one pipeline step over `inp`, every frame injected."""
    from etl_poc_spark.plans.yaml_pipeline import run_pipeline

    cfg = {
        "default_model": "stub",
        "datasets": {n: {"path": "injected"} for n in frames},
        "operations": [{"name": f"op{i}", **op} for i, op in enumerate(ops)],
        "pipeline": {"steps": [
            {"name": "s", "input": inp, "operations": [f"op{i}" for i in range(len(ops))]}
        ]},
    }
    return run_pipeline(spark, cfg, datasets=frames)["__final__"]


def _renamed(mapping):
    return lambda df: df.withColumnsRenamed(mapping)


_EVENTS = {"entity_key": "user_id", "ts_key": "ts", "tiebreak": "event_id"}
# (query, input table, YAML ops with the query's parameters, the query's
# projection/rollup applied to the op's output)
_OP_QUERY_PARITY = [
    ("user_daily_streaks", "events", [{"type": "streaks", **_EVENTS}], None),
    ("event_transition_matrix", "events",
     [{"type": "transition_matrix", "state_key": "event_type", **_EVENTS}], None),
    ("purchase_attribution_last_touch", "events",
     [{"type": "attribution", "state_key": "event_type", "conversion_type": "purchase",
       "within_seconds": 3600, **_EVENTS}],
     _renamed({"n_conversions": "n_purchases"})),
    ("customer_rfm_segments", "orders",
     [{"type": "rfm", "entity_key": "o_custkey", "ts_key": "o_orderdate",
       "value_key": "o_totalprice", "n_tiles": 5, "rollup": True}],
     _renamed({"n_entities": "n_customers"})),
    ("event_type_twap", "events",
     [{"type": "twap", "group_key": "event_type", "value_key": "value", **_EVENTS}], None),
    ("part_abc_classification", "lineitem",
     [{"type": "abc", "key": "l_partkey", "value_key": "l_extendedprice",
       "a_pct": 80, "b_pct": 95, "rollup": True}],
     _renamed({"n_keys": "n_parts", "class_value": "class_revenue"})),
    ("segment_year_grouping_sets", "orders",
     [{"type": "join", "right": "customer", "on": "o_custkey = c_custkey"},
      {"type": "select", "columns": [
          "c_mktsegment AS segment", "CAST(year(o_orderdate) AS INT) AS year",
          "CAST(o_totalprice AS DECIMAL(18,2)) AS p"]},
      {"type": "grouping_sets", "sets": [["segment", "year"], ["segment"], ["year"], []],
       "aggs": {"n_orders": "COUNT(*)", "revenue": "CAST(SUM(p) AS DOUBLE)"}}], None),
    ("orders_column_profile", "orders",
     [{"type": "select", "columns": [
          "o_orderkey", "o_custkey", "o_orderstatus",
          "CAST(o_totalprice AS DECIMAL(18,2)) AS o_totalprice",
          "CAST(o_orderdate AS DATE) AS o_orderdate", "o_orderpriority"]},
      {"type": "profile"}], None),
    ("part_association_rules", "lineitem",
     [{"type": "association_rules", "basket_key": "l_orderkey", "item_key": "l_partkey",
       "min_support_count": 5, "top_n": 20}],
     _renamed({"item_a": "part_a", "item_b": "part_b"})),
    # the op keeps the picked docs; the query's rollup counts them and
    # their tokens (tokens_total also counts unpicked docs, so it has no
    # op-side counterpart)
    ("pps_token_sample", "documents",
     [{"type": "pps_sample", "id": "doc_id", "stratify_key": "source",
       "text_key": "text", "k": 10}],
     lambda df: df.groupBy("source").agg(
         F.count(F.lit(1)).alias("n_selected"),
         F.sum(word_count(F.col("text"))).alias("tokens_selected"))),
]


@pytest.mark.parametrize(
    "query,table,ops,project", _OP_QUERY_PARITY, ids=[c[0] for c in _OP_QUERY_PARITY]
)
def test_yaml_analytics_op_matches_query(spark, parity_sf_dir, query, table, ops, project):
    """Each analytics op runs the same operator as its registered query:
    over the query's tables with the query's parameters, the op's output
    after the query's own projection/rollup equals the query's rows."""
    from etl_poc_spark.io import load_table

    frames = {t: load_table(spark, parity_sf_dir, t) for t in (table, "customer")}
    got = _yaml_run(spark, ops, table, frames)
    if project is not None:
        got = project(got)
    want = registry.QUERIES[query](spark, parity_sf_dir)
    unmatched = {"tokens_total"} if query == "pps_token_sample" else set()
    assert set(want.columns) - set(got.columns) == unmatched
    want = want.select(*got.columns)
    want_rows = sorted(want.collect(), key=repr)
    assert want_rows and sorted(got.collect(), key=repr) == want_rows


def test_yaml_unknown_op_type_fails_before_any_step_runs(spark, tmp_path):
    """An op type outside the table is a config error raised by
    validate_config — before any dataset loads or any step writes its
    intermediate checkpoint."""
    from etl_poc_spark.plans.yaml_pipeline import PipelineConfigError, run_pipeline

    inter = tmp_path / "intermediate"
    inter.mkdir()
    cfg = {
        "default_model": "stub",
        "datasets": {"docs": {"path": "injected"}},
        "operations": [
            {"name": "keep", "type": "filter", "condition": "doc_id > 0"},
            {"name": "dedup", "type": "exact_dedupe"},
        ],
        "pipeline": {
            "steps": [
                {"name": "s1", "input": "docs", "operations": ["keep"]},
                {"name": "s2", "input": "s1", "operations": ["dedup"]},
            ],
            "output": {"intermediate_dir": str(inter)},
        },
    }
    docs = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(PipelineConfigError, match="exact_dedupe"):
        run_pipeline(spark, cfg, datasets={"docs": docs})
    assert list(inter.iterdir()) == []


def test_yaml_abc_rollup_sums_decimals(spark):
    """The abc rollup sums the DECIMAL per-key values and casts once:
    0.2 + 0.1 accumulated in doubles is 0.30000000000000004, in decimal
    exactly 0.3 — independent of the fold order a partitioning picks."""
    sales = spark.createDataFrame([(1, 0.2), (2, 0.1)], "k long, v double")
    # a_pct/b_pct below the top key's 2/3 share: both keys land in C
    op = {"type": "abc", "key": "k", "value_key": "v", "a_pct": 10, "b_pct": 50,
          "rollup": True}
    rows = _yaml_run(spark, [op], "sales", {"sales": sales}).collect()
    assert [(r["abc_class"], r["n_keys"], r["class_value"]) for r in rows] == [("C", 2, 0.3)]


def test_grouping_sets_leave_no_temp_views(spark, sf_dir):
    """grouping_sets (query and op) build on DataFrame.groupingSets, so
    the session catalog gains no view; the op still rejects column names
    that are not plain identifiers."""
    from etl_poc_spark.plans.yaml_pipeline import PipelineConfigError

    before = {t.name for t in spark.catalog.listTables()}
    registry.QUERIES["segment_year_grouping_sets"](spark, sf_dir).collect()
    events = spark.createDataFrame([("view", 1.0), ("buy", 2.0)], "event_type string, v double")
    op = {"type": "grouping_sets", "sets": [["event_type"], []]}
    rows = _yaml_run(spark, [op], "events", {"events": events}).collect()
    assert [(r["event_type"], r["grouping_id"], r["n_rows"]) for r in rows] == [
        ("buy", 0, 1), ("view", 0, 1), (None, 1, 2)
    ]
    assert {t.name for t in spark.catalog.listTables()} == before
    bad = {"type": "grouping_sets", "sets": [["event_type; DROP"]]}
    with pytest.raises(PipelineConfigError, match="invalid column name"):
        _yaml_run(spark, [bad], "events", {"events": events})


def test_transition_matrix_single_user_shuffle(spark, sf_dir):
    """Lag window and the from-type normalization reuse partitionings:
    no more than 3 real exchanges (user window, bigram agg, from-type
    window) plus the output sort."""
    p = formatted_plan(spark, "event_transition_matrix", sf_dir)
    assert p.count("Exchange") <= 10  # formatted prints nodes twice -> <=5 real
    assert "CartesianProduct" not in p


def test_yaml_asof_and_pps_ops(spark):
    """Round-9 vocabulary: as-of enrichment against another dataset and
    PPS sampling both drive from config."""
    from datetime import datetime

    from etl_poc_spark.plans.yaml_pipeline import run_pipeline

    t = lambda m: datetime(2024, 1, 1, 0, m)  # noqa: E731
    facts = spark.createDataFrame(
        [(1, t(5)), (1, t(10)), (2, t(3))], "k long, ts timestamp"
    )
    quotes = spark.createDataFrame(
        [(1, t(4), 40.0), (1, t(9), 90.0), (2, t(7), 70.0)],
        "k long, ts timestamp, px double",
    )
    cfg = {
        "default_model": "stub",
        "datasets": {"facts": {"path": "i.json"}, "quotes": {"path": "i.json"}},
        "operations": [{
            "name": "aj", "type": "asof_join", "right": "quotes",
            "keys": ["k"], "attrs": ["px"],
        }],
        "pipeline": {"steps": [
            {"name": "s", "input": "facts", "operations": ["aj"]}
        ]},
    }
    out = run_pipeline(spark, cfg, datasets={"facts": facts, "quotes": quotes})
    got = {(r["k"], str(r["ts"])[14:16]): r["asof_px"] for r in out["__final__"].collect()}
    assert got == {(1, "05"): 40.0, (1, "10"): 90.0, (2, "03"): None}

    # bucket_seconds opts into the hot-key-mitigated two-phase form with
    # identical semantics
    cfg["operations"][0]["bucket_seconds"] = 120
    out = run_pipeline(spark, cfg, datasets={"facts": facts, "quotes": quotes})
    got = {(r["k"], str(r["ts"])[14:16]): r["asof_px"] for r in out["__final__"].collect()}
    assert got == {(1, "05"): 40.0, (1, "10"): 90.0, (2, "03"): None}
    del cfg["operations"][0]["bucket_seconds"]

    docs = spark.createDataFrame(
        [(i, "w " * (i + 1)) for i in range(20)], "doc_id long, text string"
    )
    cfg = {
        "default_model": "stub",
        "datasets": {"docs": {"path": "i.json"}},
        "operations": [{"name": "pp", "type": "pps_sample", "k": 4}],
        "pipeline": {"steps": [
            {"name": "s", "input": "docs", "operations": ["pp"]}
        ]},
    }
    kept = run_pipeline(spark, cfg, datasets={"docs": docs})["__final__"].collect()
    # systematic PPS with k=4 picks between 1 and 4 docs, schema preserved
    assert 1 <= len(kept) <= 4
    assert sorted(kept[0].asDict().keys()) == ["doc_id", "text"]


def test_round9_query_plan_shapes(spark, sf_dir):
    """Pin the scale-critical shapes of the round-9 tier:

    - events_asof_last_purchase: ONE user-key window over a union — never
      a per-row range subquery or nested loop;
    - part_association_rules: the min-support prefilter joins BEFORE the
      pair self-join (downward closure), and the top-k is a
      TakeOrderedAndProject, not a global sort;
    - price_ks_two_segments / customer_order_hazard: running CDFs /
      at-risk sums are windows over AGGREGATED frames (HashAggregate
      precedes Window), never over raw fact rows."""
    p = formatted_plan(spark, "events_asof_last_purchase", sf_dir)
    assert "Union" in p and p.count("Window") >= 1
    assert "NestedLoop" not in p and "CartesianProduct" not in p

    p = formatted_plan(spark, "part_association_rules", sf_dir)
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p

    # the running CDFs / at-risk sums window over AGGREGATED frames (a
    # HashAggregate grains the data below every Window; no scale-killers)
    for name in ("price_ks_two_segments", "customer_order_hazard"):
        p = formatted_plan(spark, name, sf_dir)
        assert "Window" in p and "HashAggregate" in p
        assert "NestedLoop" not in p and "CartesianProduct" not in p
        # structural anchor (ADVICE r16): the deepest Window's own child
        # subtree must contain the aggregate — a text-position check could
        # pass on a HashAggregate in an unrelated branch
        assert "HashAggregate" in window_child_subtree(p)


def test_yaml_entity_resolution_and_association_rules_ops(spark):
    """Round-10 vocabulary: the two flagship r9 compositions drive from
    config — blocked-fuzzy-pairs -> components -> canonical entities
    (both output modes), and A-priori-prefiltered market-basket rules."""
    from etl_poc_spark.plans.yaml_pipeline import run_pipeline

    people = spark.createDataFrame(
        [
            (1, "smith"), (2, "smyth"), (3, "smythe"),
            (10, "jones"), (11, "jonez"),
            (20, "solo"),
        ],
        "pid long, name string",
    )

    def er_cfg(output):
        return {
            "default_model": "stub",
            "datasets": {"people": {"path": "i.json"}},
            "operations": [{
                "name": "er", "type": "entity_resolution",
                "id": "pid", "name_key": "name",
                "block_expr": "substring(name, 1, 2)",
                "max_distance": 1, "output": output,
            }],
            "pipeline": {"steps": [
                {"name": "s", "input": "people", "operations": ["er"]}
            ]},
        }

    ents = run_pipeline(spark, er_cfg("entities"), datasets={"people": people})
    got = {
        r["representative"]: r["n_members"] for r in ents["__final__"].collect()
    }
    # smith~smyth~smythe resolve transitively; jones~jonez pair; solo absent
    # (entities mode reports LINKED clusters; singletons carry no pair)
    assert got == {1: 3, 10: 2}

    ann = run_pipeline(spark, er_cfg("annotated"), datasets={"people": people})
    ids = {r["pid"]: r["entity_id"] for r in ann["__final__"].collect()}
    assert ids == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20}

    baskets = spark.createDataFrame(
        [(o, i) for o in range(10) for i in ("a", "b")]
        + [(o, "c") for o in range(5)]
        + [(99, "rare")],
        "order long, item string",
    )
    cfg = {
        "default_model": "stub",
        "datasets": {"b": {"path": "i.json"}},
        "operations": [{
            "name": "ar", "type": "association_rules",
            "basket_key": "order", "item_key": "item",
            "min_support_count": 3, "top_n": 5,
        }],
        "pipeline": {"steps": [{"name": "s", "input": "b", "operations": ["ar"]}]},
    }
    rules = run_pipeline(spark, cfg, datasets={"b": baskets})["__final__"].collect()
    by_pair = {(r["item_a"], r["item_b"]): r for r in rules}
    assert ("a", "rare") not in by_pair  # pruned by min support
    ab = by_pair[("a", "b")]
    n_baskets = 11
    assert ab["n_both"] == 10
    assert ab["support"] == round(10 / n_baskets, 9)
    assert ab["confidence"] == 1.0
    assert ab["lift"] == round(10 * n_baskets / (10 * 10), 9)
    ac = by_pair[("a", "c")]
    assert ac["n_both"] == 5 and ac["confidence"] == 0.5


def test_yaml_lm_perplexity_op(spark):
    """Round-10 vocabulary: the bigram-LM gate drives from config — a
    repetitive in-distribution doc scores low, a gibberish doc high;
    max_ppl filters only the gibberish; score mode attaches columns and
    keeps unscoreable (sub-two-word) docs with NULL scores."""
    from etl_poc_spark.plans.yaml_pipeline import run_pipeline

    docs = spark.createDataFrame(
        [(i, "the cat sat on the mat and the cat sat again") for i in range(8)]
        + [(100, "zq xv qk jw vx wj kq zx vq xz jk wq")]   # gibberish
        + [(200, "tiny")],                                  # unscoreable
        "doc_id long, text string",
    )

    def cfg(extra):
        return {
            "default_model": "stub",
            "datasets": {"d": {"path": "i.json"}},
            "operations": [{
                "name": "lm", "type": "lm_perplexity", "id": "doc_id",
                **extra,
            }],
            "pipeline": {"steps": [
                {"name": "s", "input": "d", "operations": ["lm"]}
            ]},
        }

    scored = run_pipeline(spark, cfg({}), datasets={"d": docs})["__final__"]
    rows = {r["doc_id"]: r for r in scored.collect()}
    assert len(rows) == 10 and {"n_bigrams", "avg_nll", "ppl"} <= set(scored.columns)
    assert rows[200]["ppl"] is None                  # kept, unscored
    assert rows[100]["ppl"] > rows[0]["ppl"] * 2     # gibberish is high-ppl

    cut = (rows[0]["ppl"] + rows[100]["ppl"]) / 2
    kept = run_pipeline(
        spark, cfg({"max_ppl": cut}), datasets={"d": docs}
    )["__final__"]
    ids = sorted(r["doc_id"] for r in kept.collect())
    assert 100 not in ids and 200 in ids and 0 in ids


def test_round10_tier_plan_shapes(spark, sf_dir):
    """Plan pins for the round-10 queries: dims broadcast into the
    chisq contingency scan (no shuffle join for 25/5-row dims); the
    trigram motif query carries exactly one user_id window shuffle plus
    motif-frame aggregates; the LM scoring joins are broadcast at test
    scale and the only nested-loop is the whitelisted 1-row vocab
    scalar; novelty never nests loops at all."""
    p = formatted_plan(spark, "segment_region_chisq", sf_dir)
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p

    p = formatted_plan(spark, "event_trigram_paths", sf_dir)
    assert "Window" in p and "SortMergeJoin" not in p
    # ONE exchange feeds the window (hashpartitioning on user_id); the
    # rest shuffle cells-frame sized aggregates
    assert "hashpartitioning(user_id" in p

    p = formatted_plan(spark, "doc_bigram_novelty", sf_dir)
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p

    p = formatted_plan(spark, "doc_lm_perplexity", sf_dir)
    assert "CartesianProduct" not in p
    # per-doc fold is the JVM higher-order aggregate, not a Python UDF
    assert "aggregate(array_sort" in p or "aggregate(sort_array" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_yaml_lm_perplexity_reference_dataset(spark):
    """lm_perplexity with `reference`: the LM trains on the named
    held-out dataset, so in-reference-distribution docs survive a cut
    that drops out-of-distribution ones — and the scores differ from the
    train-on-self path."""
    from etl_poc_spark.plans.yaml_pipeline import run_pipeline

    ref = spark.createDataFrame(
        [(i, "the cat sat on the mat and the dog sat too") for i in range(6)],
        "doc_id long, text string",
    )
    probe = spark.createDataFrame(
        [(100, "the cat sat on the mat"), (200, "zq xv qk jw vx wj")],
        "doc_id long, text string",
    )
    cfg = {
        "default_model": "stub",
        "datasets": {"ref": {"path": "r.json"}, "probe": {"path": "p.json"}},
        "operations": [{
            "name": "lm", "type": "lm_perplexity", "id": "doc_id",
            "reference": "ref",
        }],
        "pipeline": {"steps": [
            {"name": "s", "input": "probe", "operations": ["lm"]}
        ]},
    }
    out = run_pipeline(
        spark, cfg, datasets={"ref": ref, "probe": probe}
    )["__final__"]
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[200]["ppl"] > rows[100]["ppl"] * 2  # OOD vs in-distribution


def test_yaml_dsir_select_from_persisted_store(spark, tmp_path):
    """dsir_select can score against the PERSISTED store (maintained by
    the streaming ops) instead of computing models from the incoming
    frame — and the attached weights are bit-identical to the in-flight
    computation over the same corpora."""
    from pyspark.sql import functions as F

    from etl_poc_spark.llm.provider import StubProvider
    from etl_poc_spark.operators.dsir import (
        dsir_log_weights,
        incremental_dsir_ingest,
    )
    from etl_poc_spark.plans.yaml_pipeline import _apply_op

    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "le chat noir dort"),
         (3, "the dog sat on the rug"), (4, "der hund lief schnell")],
        "doc_id long, text string",
    )
    tgt = docs.where(F.col("doc_id").isin(1, 3))
    store = str(tmp_path / "store")
    B = 64
    incremental_dsir_ingest(spark, docs, store, role="raw", n_buckets=B, batch_tag="b0")
    incremental_dsir_ingest(
        spark, tgt, store, role="target", n_buckets=B, batch_tag="reference"
    )

    out = _apply_op(
        docs,
        {"name": "sel", "type": "dsir_select", "store_dir": store, "n_buckets": B},
        StubProvider(),
    )
    got = {r["doc_id"]: r["log_weight"] for r in out.collect()}
    want = {
        r["doc_id"]: r["log_weight"]
        for r in dsir_log_weights(docs, tgt, n_buckets=B).collect()
    }
    assert got == want  # bit-identical doubles

    picked = _apply_op(
        docs,
        {"name": "sel", "type": "dsir_select", "store_dir": store,
         "n_buckets": B, "k": 2},
        StubProvider(),
    )
    rows = picked.collect()
    assert len(rows) == 2
    assert set(picked.columns) == set(docs.columns)


def test_yaml_unimax_mix_realizes_budgets(spark):
    """unimax_mix: a dominant stratum is cut to roughly its water-filled
    budget share while small (epoch-capped) strata keep everything;
    deterministic across runs."""
    from etl_poc_spark.llm.provider import StubProvider
    from etl_poc_spark.plans.yaml_pipeline import _apply_op

    docs = spark.createDataFrame(
        [(i, "small", 10) for i in range(30)]
        + [(1000 + i, "big", 10) for i in range(600)],
        "doc_id long, source string, w long",
    )
    # caps: small 300, big 6000; T=1500: f(1)=300*2=600<=1500 -> capped;
    # f(2)=6000+300=6300>1500 -> big water-fills (1500-300)/1 = 1200
    # -> keep-rate 20% of big (120 of 600 docs +- hash noise)
    op = {
        "name": "um", "type": "unimax_mix", "stratify_key": "source",
        "weight_key": "w", "total_budget": 1500,
    }
    kept = {r["doc_id"] for r in _apply_op(docs, op, StubProvider()).collect()}
    small = {i for i in kept if i < 1000}
    big = kept - small
    assert len(small) == 30                      # epoch-capped: keep all
    assert 60 <= len(big) <= 180                 # ~20% of 600, hash noise
    kept2 = {r["doc_id"] for r in _apply_op(docs, op, StubProvider()).collect()}
    assert kept2 == kept


def test_yaml_mix_subpercent_rates_and_null_strata(spark):
    """ADVICE r12 fixes: (1) keep decisions use the 52-bit md5 uniform,
    so sub-percent keep-rates realize faithfully instead of flooring to
    the whole-percent bucket grid (where ANY positive rate kept ~1%);
    (2) the rate join is null-safe, so a null stratify key mixes like
    any other stratum; (3) strata with no positive total weight carry no
    sampling mass and are DROPPED, not passed through at 100%."""
    from etl_poc_spark.llm.provider import StubProvider
    from etl_poc_spark.plans.yaml_pipeline import _apply_op

    # tau=0.25: big (4000 docs) vs small (2): rate_big = (4000/2)^-0.75
    #         = ~0.34% — far below one percent-bucket
    docs = spark.createDataFrame(
        [(i, "big", 1) for i in range(4000)]
        + [(90001, "small", 1), (90002, "small", 1)]
        + [(90003, None, 1), (90004, None, 1)]       # null stratum, n=2
        + [(90005, "zero", 0), (90006, "zero", None)],  # no positive mass
        "doc_id long, source string, w long",
    )
    op = {
        "name": "mix", "type": "temperature_mix", "stratify_key": "source",
        "weight_key": "w", "tau": 0.25,
    }
    kept = {r["doc_id"] for r in _apply_op(docs, op, StubProvider()).collect()}
    big = {i for i in kept if i < 4000}
    # ~0.34% of 4000 = ~13.5 expected; the old percent grid kept ~40.
    # Bound generously for hash noise but strictly below the 1% floor.
    assert 2 <= len(big) <= 30, len(big)
    assert {90001, 90002} <= kept                # most-boosted keeps all
    assert {90003, 90004} <= kept                # null stratum: same rate as small
    assert not kept & {90005, 90006}             # zero-mass stratum dropped


def test_yaml_unimax_mix_epochs_duplicate_to_full_budget(spark):
    """ADVICE r12: with max_epochs=E the one-pass realization DUPLICATES
    epoch-capped strata E times, so realized token mass tracks
    total_budget itself — not total_budget/E as the old budget/cap
    keep-rate did."""
    from pyspark.sql import functions as F

    from etl_poc_spark.llm.provider import StubProvider
    from etl_poc_spark.plans.yaml_pipeline import _apply_op

    docs = spark.createDataFrame(
        [(i, "small", 10) for i in range(30)]
        + [(1000 + i, "big", 10) for i in range(600)],
        "doc_id long, source string, w long",
    )
    # E=2: caps small 600, big 12000; T=2000: small capped (600*2=1200<=2000),
    # big water-fills 2000-600=1400 tokens -> r_big = 1400/6000 epochs
    op = {
        "name": "um", "type": "unimax_mix", "stratify_key": "source",
        "weight_key": "w", "total_budget": 2000, "max_epochs": 2,
    }
    out = _apply_op(docs, op, StubProvider())
    mass = out.agg(F.sum("w")).collect()[0][0]
    # realized mass ~= T = 2000 (small contributes exactly 600 = 30*10*2
    # duplicated copies; big ~1400 +- hash noise), NOT T/E = 1000
    small_rows = out.where(F.col("source") == "small").count()
    assert small_rows == 60                       # every small doc twice
    assert 1700 <= mass <= 2300, mass
    # deterministic
    mass2 = _apply_op(docs, op, StubProvider()).agg(F.sum("w")).collect()[0][0]
    assert mass2 == mass


def test_yaml_unimax_mix_composes_with_maintained_stores(spark, tmp_path):
    """r12 verdict ask #6: unimax_mix composes with the persisted-store
    selection path the way temperature_mix and dsir_select do — a
    batched (incremental-store-backed) pipeline realizes the SAME kept
    multiset as the one-shot pipeline over the union corpus, because
    both the DSIR weights (exact-integer store fold) and the mix
    decision (pure function of stratum totals + id hash) are
    batch-slicing-independent."""
    from pyspark.sql import functions as F

    from etl_poc_spark.llm.provider import StubProvider
    from etl_poc_spark.operators.dsir import incremental_dsir_ingest
    from etl_poc_spark.plans.yaml_pipeline import _apply_op

    rows = [
        (i, "en", "the cat sat on the mat rug dog " * 3 + f"tail{i}")
        for i in range(40)
    ] + [
        (100 + i, "fr", "le chat noir dort sur le tapis " * 3 + f"fin{i}")
        for i in range(8)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    tgt = docs.where(F.col("lang") == "en")

    # maintain the store INCREMENTALLY in two tagged batches (the
    # streaming discipline), vs one-shot ingestion
    inc_store = str(tmp_path / "inc")
    b1 = docs.where(F.col("doc_id") % 2 == 0)
    b2 = docs.where(F.col("doc_id") % 2 == 1)
    B = 64
    incremental_dsir_ingest(spark, b1, inc_store, role="raw", n_buckets=B, batch_tag="b1")
    incremental_dsir_ingest(spark, b2, inc_store, role="raw", n_buckets=B, batch_tag="b2")
    incremental_dsir_ingest(
        spark, tgt, inc_store, role="target", n_buckets=B, batch_tag="reference"
    )

    one_store = str(tmp_path / "one")
    incremental_dsir_ingest(spark, docs, one_store, role="raw", n_buckets=B, batch_tag="b0")
    incremental_dsir_ingest(
        spark, tgt, one_store, role="target", n_buckets=B, batch_tag="reference"
    )

    def run(store):
        # k = full corpus: the selection stage still scores every doc
        # against the persisted store (weights bit-equal regardless of
        # slicing) while keeping the downstream strata deterministic for
        # the epoch-cap arithmetic below
        sel = _apply_op(
            docs,
            {"name": "sel", "type": "dsir_select", "store_dir": store,
             "n_buckets": B, "k": 48},
            StubProvider(),
        )
        # tokens: en 40x25=1000, fr 8x22=176; E=2 caps: fr 352, en 2000.
        # T=800: f(1)=352*2=704<=800 -> fr epoch-capped; en water-fills
        # 800-352=448 tokens -> r_en = 0.448 subsample
        mixed = _apply_op(
            sel,
            {"name": "um", "type": "unimax_mix", "stratify_key": "lang",
             "total_budget": 800, "max_epochs": 2},
            StubProvider(),
        )
        return sorted(r["doc_id"] for r in mixed.collect())

    got_inc = run(inc_store)
    got_one = run(one_store)
    assert got_inc == got_one            # store slicing never changes the mix
    from collections import Counter

    c = Counter(got_inc)
    fr_counts = {i: n for i, n in c.items() if i >= 100}
    assert len(fr_counts) == 8 and all(n == 2 for n in fr_counts.values())
    en_kept = {i for i in c if i < 100}
    assert 0 < len(en_kept) < 40         # en genuinely subsampled at ~44.8%


def test_c4_line_filter_rules_and_yaml_op(spark):
    """Each C4 line rule exercised by hand-built lines: terminal
    punctuation, min words, curly braces, boilerplate phrases; the
    document drops when fewer than min_lines survive; the yaml op
    replaces text with the survivors."""
    from etl_poc_spark.llm.provider import StubProvider
    from etl_poc_spark.operators.curation import c4_line_filter
    from etl_poc_spark.plans.yaml_pipeline import _apply_op

    good1 = "this sentence has plenty of words and ends properly."
    good2 = "another proper sentence with enough words to pass!"
    docs = spark.createDataFrame(
        [
            (1, "\n".join([good1, "too few words.", good2])),
            (2, "\n".join([good1, "no terminal punctuation but many words here today",
                           "Please accept our Cookie Policy before continuing."])),
            (3, "\n".join(["function f() { return 1; } and other words too.",
                           "lorem ipsum dolor sit amet consectetur adipiscing elit.",
                           good2])),
            (4, "one short line"),
        ],
        "doc_id long, text string",
    )
    out = c4_line_filter(docs, min_words_per_line=5, min_lines=2)
    got = {r["doc_id"]: (r["n_lines"], r["n_kept_lines"], r["clean_text"])
           for r in out.collect()}
    # doc 1: good1 + good2 survive ("too few words." has 3 words)
    assert got[1] == (3, 2, good1 + "\n" + good2)
    # doc 2: only good1 survives (no-punct line, boilerplate line) -> doc dropped
    # doc 3: only good2 survives (braces line, lorem ipsum line) -> doc dropped
    # doc 4: nothing survives -> dropped
    assert set(got) == {1}

    mixed = _apply_op(
        docs, {"name": "c4", "type": "c4_filter", "min_lines": 1}, StubProvider()
    )
    rows = {r["doc_id"]: r["text"] for r in mixed.collect()}
    assert set(rows) == {1, 2, 3}              # min_lines=1 keeps 1-survivor docs
    assert rows[2] == good1                    # text replaced by survivors
    assert rows[3] == good2
    assert set(mixed.columns) == {"doc_id", "text"}


@pytest.mark.slow
def test_yaml_full_curation_pipeline_e2e(spark):
    """The complete modern curation vocabulary composes declaratively:
    c4_filter (line rules) -> quality_filter (gopher doc rules) ->
    exact_dedup -> dsir_select (target affinity) -> unimax_mix
    (water-filled budgets). Deterministic end to end."""
    from pyspark.sql import functions as F

    from etl_poc_spark.plans.yaml_pipeline import run_pipeline

    def mk(i, lang, base):
        lines = [
            f"{base} sentence number {i} with plenty of useful words inside.",
            "too few words.",
            f"another {base} line number {i} that carries enough words to survive!",
        ]
        if i % 7 == 0:
            lines.append("please accept our cookie policy and enable javascript now.")
        return (i, lang, "\n".join(lines))

    rows = [mk(i, "en", "the quick brown fox jumps over lazy dogs in") for i in range(60)] + [
        mk(100 + i, "fr", "le renard brun rapide saute par dessus les chiens") for i in range(12)
    ]
    # exact duplicates to be removed by the dedup stage
    rows += [(200 + i, "en", rows[i][2]) for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")

    config = {
        "default_model": "stub",
        "datasets": {"docs": {"path": "injected.json"}},
        "operations": [
            {"name": "c4", "type": "c4_filter", "min_lines": 2},
            {"name": "quality", "type": "quality_filter"},
            {"name": "exact", "type": "exact_dedup", "keys": ["text"], "id": "doc_id"},
            {"name": "select", "type": "dsir_select", "target_where": "lang = 'en'", "k": 60},
            {"name": "mix", "type": "unimax_mix", "stratify_key": "lang",
             "total_budget": 1200, "max_epochs": 1},
        ],
        "pipeline": {"steps": [
            {"name": "curate", "input": "docs",
             "operations": ["c4", "quality", "exact", "select", "mix"]},
        ]},
    }
    out = run_pipeline(spark, config, datasets={"docs": docs})["__final__"]
    kept = [r for r in out.collect()]
    ids = sorted(r["doc_id"] for r in kept)
    assert ids == sorted(set(ids))               # E=1: no duplication
    assert len(ids) > 0
    # the 5 exact duplicates never both survive (dedup keeps min doc_id)
    assert not ({200 + i for i in range(5)} & set(ids))
    # boilerplate lines never reach the output text
    assert all("javascript" not in r["text"] for r in kept)
    assert all("too few words." not in r["text"] for r in kept)
    # deterministic rerun
    out2 = run_pipeline(spark, config, datasets={"docs": docs})["__final__"]
    assert sorted(r["doc_id"] for r in out2.collect()) == ids


def test_yaml_doremi_mix_realizes_alpha(spark):
    """doremi_mix: domains with higher per-example excess loss are
    up-weighted — keep-rates ∝ α_d/n_d normalized to the most-boosted
    stratum, so the hard domain keeps ~100% while equal-sized easy
    domains keep ~α_easy/α_hard. Deterministic rerun; rows whose stratum
    solved to no rate (absent) would drop."""
    from etl_poc_spark.llm.provider import StubProvider
    from etl_poc_spark.plans.yaml_pipeline import _apply_op

    docs = spark.createDataFrame(
        [(i, "hard", 2000) for i in range(300)]
        + [(1000 + i, "easy", 0) for i in range(300)],
        "doc_id long, source string, ex long",
    )
    op = {
        "name": "dm",
        "type": "doremi_mix",
        "stratify_key": "source",
        "excess_key": "ex",
        "n_steps": 4,
        "eta_shift": 10,
    }
    out = _apply_op(docs, op, StubProvider())
    kept = {r["doc_id"] for r in out.collect()}
    hard = {i for i in kept if i < 1000}
    easy = kept - hard
    # equal n -> rate ratio = alpha ratio; hard stratum is most-boosted
    assert len(hard) == 300
    # alpha_easy/alpha_hard for lam=(2000,0), eta=2^-10, T=4, eps=2^-6
    m = (1024 + 2000, 1024)
    eps, k = 1.0 / 64, 2
    a = [0.0, 0.0]
    for t in (1, 2, 3, 4):
        st = m[0] ** t + m[1] ** t
        for j in (0, 1):
            a[j] += (1 - eps) * (m[j] ** t / st) + eps / k
    expected_rate = a[1] / a[0]
    assert abs(len(easy) / 300.0 - expected_rate) < 0.07
    kept2 = {r["doc_id"] for r in _apply_op(docs, op, StubProvider()).collect()}
    assert kept2 == kept
    # missing excess_key is a config error
    import pytest as _pytest

    from etl_poc_spark.plans.yaml_pipeline import PipelineConfigError

    with _pytest.raises(PipelineConfigError):
        _apply_op(docs, {"name": "x", "type": "doremi_mix"}, StubProvider())


def test_yaml_doremi_pipeline_composes(spark):
    """The mixing vocabulary composes declaratively: a `select` step
    derives the per-example excess column, `doremi_mix` reweights by it,
    and a downstream `temperature_mix` subsamples the survivors — all in
    one config, deterministic end to end."""
    from pyspark.sql import functions as F

    from etl_poc_spark.plans.yaml_pipeline import run_pipeline

    docs = spark.createDataFrame(
        [(i, "hard", "text " * 20, 900) for i in range(200)]
        + [(1000 + i, "easy", "text " * 20, 0) for i in range(200)],
        "doc_id long, source string, text string, loss_milli long",
    )
    config = {
        "default_model": "stub",
        "datasets": {"docs": {"path": "injected.json"}},
        "operations": [
            {
                "name": "derive",
                "type": "select",
                "columns": ["*", "loss_milli - 100 AS excess"],
            },
            {
                "name": "dm",
                "type": "doremi_mix",
                "stratify_key": "source",
                "excess_key": "excess",
                "eta_shift": 10,
            },
            {
                "name": "tm",
                "type": "temperature_mix",
                "stratify_key": "source",
                "text_key": "text",
                "tau": 1.0,
            },
        ],
        "pipeline": {
            "steps": [
                {"name": "mix", "input": "docs",
                 "operations": ["derive", "dm", "tm"]}
            ]
        },
    }
    out = run_pipeline(spark, config, datasets={"docs": docs})["__final__"]
    rows = out.collect()
    kept_hard = sum(r["source"] == "hard" for r in rows)
    kept_easy = sum(r["source"] == "easy" for r in rows)
    # doremi up-weights the high-excess domain; tau=1 temperature pass is
    # proportional (keeps everything with positive weight)
    assert kept_hard == 200
    assert 0 < kept_easy < 200
    rows2 = run_pipeline(spark, config, datasets={"docs": docs})["__final__"].collect()
    assert {r["doc_id"] for r in rows2} == {r["doc_id"] for r in rows}


def test_round14_tier_plan_shapes(spark, sf_dir):
    """Pin the scale-critical shapes of the round-14 tier:

    - epoch_shuffle_order: the pos <= 20 filter over the per-epoch
      row_number MUST plan a WindowGroupLimit (Spark's map-side
      top-k-per-window, keeping 20 rows per partition before the
      shuffle) — without it the probe would sort a full corpus copy per
      epoch;
    - c4_badwords_doc_stats: map-only flag computation + ONE aggregation
      exchange, zero Python UDFs (the filter runs inside the scan stage
      at 100 TB);
    - quality_dedup_keep_best: a single fingerprint Window over the
      planted-dup frame, no cartesian products;
    - mixture_loss_regression / padding_waste_stats: aggregation plans
      with no windows over raw corpus rows (their windows/joins run on
      bounded aggregated frames)."""
    p = formatted_plan(spark, "epoch_shuffle_order", sf_dir)
    assert "WindowGroupLimit" in p
    assert "CartesianProduct" not in p

    p = formatted_plan(spark, "c4_badwords_doc_stats", sf_dir)
    assert "EvalPython" not in p           # no row-at-a-time or Arrow UDF
    assert p.count("Exchange") <= 2        # partial+final agg exchange only
    assert "Window" not in p

    p = formatted_plan(spark, "quality_dedup_keep_best", sf_dir)
    assert "Window" in p and "CartesianProduct" not in p

    for name in ("mixture_loss_regression", "padding_waste_stats"):
        p = formatted_plan(spark, name, sf_dir)
        assert "HashAggregate" in p
        assert "NestedLoop" not in p and "CartesianProduct" not in p
