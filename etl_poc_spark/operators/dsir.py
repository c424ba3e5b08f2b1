"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
arXiv:2302.03169): select pretraining documents whose hashed-n-gram
distribution looks like a TARGET corpus, by importance-weighting every
raw document with the log-likelihood ratio of two bag-of-hashed-ngrams
models and resampling proportional to the weights.

The reference pipeline has no data-selection stage; this extends the
training-data curation surface (SURVEY.md §7) the same way the bigram-LM
perplexity tier does, and shares its determinism discipline:

* feature hashing is md5-derived (first 6 hex digits → 24-bit int mod
  n_buckets) so a DuckDB oracle can reproduce buckets bit-exactly;
* the exact-integer companion (`target_affinity`) compares per-bucket
  target-vs-raw rates by DECIMAL(38,0) cross-multiplication — no floats
  until one final division, so it carries a hash-exact SQL oracle;
* the float path (`log_weights`) folds each document's per-bucket
  log-ratio terms left-to-right over a bucket-sorted array (the
  `ngram_lm` idiom), so the doubles are bit-identical under any
  partitioning — pinned-exact-safe.

Scale notes (100 TB): after the n-gram explode every shuffle is bounded
by `n_buckets` (the corpus models are ≤ n_buckets rows — broadcast
joins), plus ONE doc_id shuffle for the per-document fold. The explode
itself is map-side combined into (doc_id, bucket) partials before any
exchange, so the wire carries at most min(doc_len, n_buckets) rows per
document, never raw tokens. Resampling is a single window prefix-sum
per stratum (the systematic-PPS idiom) — no global sort of the corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_poc_spark.operators.deltastore import (
    DeltaStoreLogs,
    DeltaStoreSpec,
    read_delta_store,
    tag_slot,
    write_batch_slot,
)
from etl_poc_spark.operators.ngram_lm import words_col
from etl_poc_spark.operators.pins import pin

# per-role (bucket, n) histogram deltas; 'raw' and 'target' are the two
# sides of the likelihood ratio, each its own log
DSIR_LOG = DeltaStoreSpec(("bucket",), (("n", "sum"),))
DSIR_STORE = DeltaStoreLogs((("raw", DSIR_LOG), ("target", DSIR_LOG)))

DEFAULT_BUCKETS = 1024


def _bucket(feature: Column, n_buckets: int) -> Column:
    """Portable 24-bit md5 bucket (sketches.py idiom). DuckDB twin:
    CAST('0x' || substr(md5(f), 1, 6) AS BIGINT) % n_buckets."""
    return (
        F.conv(F.substring(F.md5(feature), 1, 6), 16, 10).cast("long")
        % F.lit(n_buckets)
    ).cast("long")


def hashed_feature_counts(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """(id_col, bucket, cnt): hashed unigram+bigram occurrence counts per
    document — DSIR's feature extractor. Unigrams contain no whitespace
    and bigrams always do, so the two families cannot collide pre-hash.

    The (doc, bucket) rollup happens BEFORE any exchange (map-side
    combine on the explode output), so the shuffle payload per document
    is bounded by min(2·len, n_buckets) rows, not token count."""
    feats = _features_frame(docs, [F.col(id_col)], text_col)
    return (
        feats.select(F.col(id_col), _bucket(F.col("f"), n_buckets).alias("bucket"))
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _features_frame(docs: DataFrame, keep_cols: list, text_col: str) -> DataFrame:
    """Exploded (*keep_cols, f) frame of unigram + bigram features — the
    shared extractor under both per-document counting and the store's
    corpus-histogram deltas."""
    words = docs.select(*keep_cols, words_col(text_col).alias("words"))
    return words.select(
        *keep_cols,
        F.explode(
            F.concat(
                F.col("words"),
                F.expr(
                    # sequence(0, -1) would be DESCENDING in Spark, so the
                    # short-doc case must be an explicit empty array
                    "IF(size(words) >= 2, "
                    "transform(sequence(0, size(words) - 2), "
                    "i -> concat(words[i], ' ', words[i + 1])), "
                    "CAST(array() AS array<string>))"
                ),
            )
        ).alias("f"),
    )


def bucket_totals(feat_counts: DataFrame, suffix: str) -> DataFrame:
    """Corpus-level bucket histogram: (bucket, c_<suffix>). At most
    n_buckets rows — always broadcastable."""
    return feat_counts.groupBy("bucket").agg(F.sum("cnt").alias(f"c_{suffix}"))


def _model_frame(raw_f: DataFrame, tgt_f: DataFrame) -> DataFrame:
    """One broadcastable model frame (bucket, c_raw, c_tgt, t_raw, t_tgt)
    covering every bucket present in EITHER corpus, with the corpus
    totals attached via an unpartitioned window over the ≤ n_buckets-row
    frame — no scalar crossJoin, so the scoring join is a single
    BroadcastHashJoin (no BroadcastNestedLoopJoin anywhere in the plan).
    The single-partition window exchange moves at most n_buckets rows."""
    w = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        bucket_totals(raw_f, "raw")
        .join(bucket_totals(tgt_f, "tgt"), "bucket", "full_outer")
        .withColumn("t_raw", F.sum("c_raw").over(w))
        .withColumn("t_tgt", F.sum("c_tgt").over(w))
    )


def dsir_log_weights(
    raw_docs: DataFrame,
    target_docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """Per-document DSIR importance weight: log w(x) = Σ_f c_f(x) ·
    (ln p̂_target(f) − ln p̂_raw(f)) with add-1 smoothing over buckets,
    i.e. p̂(f) = (c_f + 1) / (total + n_buckets).

    Output: (id_col, n_features BIGINT, log_weight DOUBLE). Positive →
    the document's hashed-n-gram profile is closer to the target model.

    Determinism: each per-bucket term is a pure function of exact
    integer counts; the per-document sum folds left-to-right over the
    bucket-sorted (bucket, term) array in the JVM, so the double is
    bit-identical under any partitioning (pinned-exact-safe, the
    `ngram_lm.score_documents` discipline).

    Plan shape: one merged ≤ n_buckets-row model frame (totals attached
    by window, see _model_frame) broadcast onto the raw side's
    (doc, bucket) partials — a single BroadcastHashJoin — then ONE
    doc_id shuffle for the fold.
    """
    # r16: pin the raw-side partials — they feed BOTH the model's bucket
    # totals and the scoring join, and unpinned the hashed-n-gram explode
    # over the full raw corpus (the dominant compute) executed twice
    # (guide §1.2). Tracked pin, released by the caller's release_pins().
    raw_f = pin(
        hashed_feature_counts(
            raw_docs, id_col=id_col, text_col=text_col, n_buckets=n_buckets
        )
    )
    tgt_f = hashed_feature_counts(
        target_docs, id_col=id_col, text_col=text_col, n_buckets=n_buckets
    )
    return _score_against_model(raw_f, _model_frame(raw_f, tgt_f), id_col, n_buckets)


def _score_against_model(
    feats: DataFrame, model: DataFrame, id_col: str, n_buckets: int
) -> DataFrame:
    """Score (id, bucket, cnt) document partials against a model frame
    (bucket, c_raw, c_tgt, t_raw, t_tgt): one broadcast join, then the
    bucket-sorted left-to-right fold (partition-independent doubles).
    The model must COVER every bucket the feats can produce: batch-mode
    models cover all buckets present in raw (scored docs ⊆ raw corpus);
    store-backed models are completed over the full [0, n_buckets)
    domain (see read_dsir_model) so NEW docs always land — the count
    coalesces then realize add-1 smoothing for unseen features."""
    nb = float(n_buckets)
    scored = (
        feats.join(F.broadcast(model), "bucket")
        .select(
            F.col(id_col),
            "bucket",
            "cnt",
            (
                F.col("cnt").cast("double")
                * (
                    F.log(
                        (F.coalesce(F.col("c_tgt"), F.lit(0)) + F.lit(1)).cast(
                            "double"
                        )
                        / (F.col("t_tgt") + F.lit(nb)).cast("double")
                    )
                    - F.log(
                        (F.coalesce(F.col("c_raw"), F.lit(0)) + F.lit(1)).cast(
                            "double"
                        )
                        / (F.col("t_raw") + F.lit(nb)).cast("double")
                    )
                )
            ).alias("term"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.sum("cnt").alias("n_features"),
        F.expr(
            "aggregate(array_sort(collect_list(struct(bucket, term))), "
            "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.term)"
        ).alias("log_weight"),
    )


def dsir_target_affinity(
    raw_docs: DataFrame,
    target_docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """Exact-integer companion to the log weight: the share of a
    document's feature occurrences that land in TARGET-LEANING buckets,
    where a bucket leans target iff its smoothed target rate exceeds its
    smoothed raw rate — decided by cross-multiplication in DECIMAL(38,0)
    (the chi-square headroom discipline), no logarithms anywhere:

        (c_tgt + 1) · (t_raw + B)  >  (c_raw + 1) · (t_tgt + B)

    Output: (id_col, n_occurrences, n_target_leaning BIGINT,
    affinity DOUBLE, target_leaning BOOLEAN). affinity is ONE double
    division of exact BIGINTs and the flag is pure integer arithmetic
    (n_target_leaning·2 ≥ n_occurrences), so the whole result carries a
    hash-exact DuckDB oracle."""
    # r16: pinned for the same two-consumer reason as dsir_log_weights
    raw_f = pin(
        hashed_feature_counts(
            raw_docs, id_col=id_col, text_col=text_col, n_buckets=n_buckets
        )
    )
    tgt_f = hashed_feature_counts(
        target_docs, id_col=id_col, text_col=text_col, n_buckets=n_buckets
    )
    d38 = "decimal(38,0)"
    leaning = (
        (F.coalesce(F.col("c_tgt"), F.lit(0)) + F.lit(1)).cast(d38)
        * (F.col("t_raw") + F.lit(n_buckets)).cast(d38)
    ) > (
        (F.col("c_raw") + F.lit(1)).cast(d38)
        * (F.col("t_tgt") + F.lit(n_buckets)).cast(d38)
    )
    per_bucket = (
        raw_f.join(F.broadcast(_model_frame(raw_f, tgt_f)), "bucket")
        .select(F.col(id_col), "cnt", leaning.alias("leaning"))
    )
    return (
        per_bucket.groupBy(id_col)
        .agg(
            F.sum("cnt").cast("bigint").alias("n_occurrences"),
            F.sum(F.when(F.col("leaning"), F.col("cnt")).otherwise(0))
            .cast("bigint")
            .alias("n_target_leaning"),
        )
        .select(
            F.col(id_col),
            "n_occurrences",
            "n_target_leaning",
            (
                F.col("n_target_leaning").cast("double")
                / F.col("n_occurrences").cast("double")
            ).alias("affinity"),
            (F.col("n_target_leaning") * 2 >= F.col("n_occurrences")).alias(
                "target_leaning"
            ),
        )
    )


def dsir_resample(
    weights: DataFrame,
    k: int,
    *,
    id_col: str = "doc_id",
    weight_col: str = "log_weight",
    seed: str = "dsir",
) -> DataFrame:
    """Gumbel top-k resampling: draw k documents WITHOUT replacement with
    probability proportional to exp(weight_col) — the exact scheme the
    DSIR paper uses. The Gumbel noise is derived from md5(seed || id),
    so the draw is a pure function of (corpus, seed): reruns and
    stragglers reproduce the same sample.

    key_i = log w_i + Gumbel_i,  Gumbel_i = −ln(−ln(u_i)),
    u_i ∈ (0,1) from the first 13 hex digits of md5: a 52-bit integer
    is EXACT in a double, so after the +1/+2 guard u stays strictly
    inside (0,1) after the float cast too — a 60-bit draw can round to
    exactly 1.0 (values within 128 of 2^60 collapse onto 2^60) and turn
    −ln(−ln u) into NULL, silently dropping the doc from the sample.

    Scale: one global top-k (TakeOrderedAndProject — per-partition heap
    then a k-row merge on one reducer), never a full sort."""
    u = (
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(seed + "|"), F.col(id_col).cast("string"))),
                    1,
                    13,
                ),
                16,
                10,
            ).cast("double")
            + F.lit(1.0)
        )
        / F.lit(float(2**52 + 2))
    )
    key = F.col(weight_col) + (-F.log(-F.log(u)))
    return (
        weights.select(F.col(id_col), F.col(weight_col), key.alias("gumbel_key"))
        .orderBy(F.desc("gumbel_key"), id_col)
        .limit(k)
    )


# ---------------------------------------------------------------------------
# Incremental / streaming model maintenance (DSIR_STORE; slot/replay
# contract in operators/deltastore.py)
# ---------------------------------------------------------------------------


def _dsir_batch_deltas(batch: DataFrame, text_col: str, n_buckets: int) -> DataFrame:
    """Per-batch corpus-level bucket histogram (bucket, n) — the delta a
    batch contributes to a DSIR model. Map-side combined before the one
    ≤ n_buckets-row shuffle."""
    feats = _features_frame(batch, [], text_col)
    return (
        feats.select(_bucket(F.col("f"), n_buckets).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def incremental_dsir_ingest(
    spark,
    batch: DataFrame,
    store_dir: str,
    *,
    role: str = "raw",
    text_col: str = "text",
    n_buckets: int = DEFAULT_BUCKETS,
    batch_tag: str,
) -> None:
    """Fold `batch` into the DSIR model store at `store_dir` under
    `role` ('raw' or 'target' — the two sides of the likelihood ratio;
    each is an independent append-only delta log).

    Idempotency: `batch_tag` slots the delta as tag=<tag>, so
    an at-least-once replay replaces its own delta instead of
    double-counting (dsir_handle_batch passes the micro-batch id).
    After any sequence of ingests, read_dsir_store equals the one-shot
    histogram over the union of every batch — exact integers, bit-equal
    under any batch slicing. Slot, replay and concurrency contract:
    operators/deltastore.py. Any other role raises ValueError before
    anything is written: read_dsir_store would never fold its log."""
    roles = [name for name, _ in DSIR_STORE.logs]
    if role not in roles:
        raise ValueError(f"DSIR role must be one of {roles}, got {role!r}")
    DSIR_LOG.append(
        _dsir_batch_deltas(batch, text_col, n_buckets),
        f"{store_dir}/{role}",
        tag_slot(batch_tag),
    )


def _dsir_hist(log: DataFrame) -> DataFrame:
    return DSIR_LOG.fold(log).withColumnRenamed("n", "c")


def read_dsir_store(
    spark, store_dir: str, role: str, *, exclude_tag: str | None = None
) -> DataFrame:
    """Fold a role's delta log to its current histogram (bucket, c) —
    ≤ n_buckets rows. `exclude_tag` drops that batch's slot from the
    fold (the replay seam: a replayed tagged batch reads the store as it
    stood before its own crashed attempt). Bit-equal after
    compact_dsir_store."""
    return _dsir_hist(
        read_delta_store(
            spark, f"{store_dir}/{role}", exclude_slot=tag_slot(exclude_tag)
        )
    )


compact_dsir_store = DSIR_STORE.compact


def read_dsir_model(
    spark,
    store_dir: str,
    *,
    n_buckets: int = DEFAULT_BUCKETS,
    exclude_tag: str | None = None,
) -> DataFrame:
    """The store's current model frame, COMPLETE over the full
    [0, n_buckets) bucket domain (a spark.range scaffold — so scoring
    NEW documents never drops an unseen bucket; c=0 rows realize add-1
    smoothing). Same (bucket, c_raw, c_tgt, t_raw, t_tgt) shape
    _model_frame builds in batch mode; ≤ n_buckets rows, broadcastable."""
    hists = {}
    for role, spec in DSIR_STORE.logs:
        log = spec.read(
            spark, f"{store_dir}/{role}", exclude_slot=tag_slot(exclude_tag)
        )
        if log is None:
            raise ValueError(
                f"DSIR store at {store_dir!r} has no {role!r} model — seed it "
                f"with incremental_dsir_ingest(..., role={role!r}) first"
            )
        hists[role] = _dsir_hist(log)
    raw_h, tgt_h = hists["raw"], hists["target"]
    w = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        spark.range(n_buckets)
        .select(F.col("id").cast("long").alias("bucket"))
        .join(raw_h.withColumnRenamed("c", "c_raw"), "bucket", "left")
        .join(tgt_h.withColumnRenamed("c", "c_tgt"), "bucket", "left")
        .select(
            "bucket",
            F.coalesce("c_raw", F.lit(0)).alias("c_raw"),
            F.coalesce("c_tgt", F.lit(0)).alias("c_tgt"),
        )
        .withColumn("t_raw", F.sum("c_raw").over(w))
        .withColumn("t_tgt", F.sum("c_tgt").over(w))
    )


def score_dsir_store(
    spark,
    docs: DataFrame,
    store_dir: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = DEFAULT_BUCKETS,
    exclude_tag: str | None = None,
) -> DataFrame:
    """Score documents against the PERSISTED models: same output shape
    and bit-identical doubles as dsir_log_weights whenever the store
    holds the same two corpora (the fold is bucket-sorted either way).
    Scoring stays a batch concern — the store only maintains counts,
    exactly the ngram_lm split."""
    feats = hashed_feature_counts(
        docs, id_col=id_col, text_col=text_col, n_buckets=n_buckets
    )
    model = read_dsir_model(
        spark, store_dir, n_buckets=n_buckets, exclude_tag=exclude_tag
    )
    return _score_against_model(feats, model, id_col, n_buckets)


def dsir_handle_batch(
    batch_df: DataFrame,
    batch_id: int,
    *,
    store_dir: str,
    role: str = "raw",
    text_col: str = "text",
    n_buckets: int = DEFAULT_BUCKETS,
) -> None:
    """foreachBatch body of continuous DSIR model maintenance (run it
    with deltastore.foreach_batch_writer): the batch id is the tag slot
    (<role>-b<id>), so the same batch_id twice == once. Read the live
    model any time with read_dsir_model; score with score_dsir_store."""
    incremental_dsir_ingest(
        batch_df.sparkSession,
        batch_df,
        store_dir,
        role=role,
        text_col=text_col,
        n_buckets=n_buckets,
        batch_tag=f"{role}-b{batch_id}",
    )


def dsir_monitor_handle_batch(
    batch_df: DataFrame,
    batch_id: int,
    *,
    store_dir: str,
    monitor_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = DEFAULT_BUCKETS,
    fold: bool = True,
) -> None:
    """foreachBatch body of the target-affinity drift monitor (run it
    with deltastore.foreach_batch_writer): score the batch's DSIR log
    weights against the PRE-BATCH raw model, write a 1-row drift record
    to `monitor_dir`, then fold the batch into the raw model. The target
    model is the reference corpus: seed the 'target' role ONCE with
    incremental_dsir_ingest(role='target', batch_tag='reference') before
    starting the stream — it never folds. The perplexity-monitor
    recovery contract verbatim: both sinks are batch_id-slotted, the
    store read EXCLUDES the batch's own tag slot, so every replay point
    (post-monitor/pre-fold, mid-fold, post-fold pre-checkpoint)
    converges to single-delivery state.

    Drift reading: mean_log_weight RISING means incoming data looks
    more like the target corpus than the accumulated raw stream did;
    falling means the stream is drifting off-target.
    share_target_leaning is the integer fraction of docs with positive
    weight. Stats are decimal-accumulated means of per-doc fixed-order
    folds — partition-independent. The first batch (or its replay) has
    no prior raw model and records n_scored=0."""
    spark = batch_df.sparkSession
    tag = f"raw-b{int(batch_id)}"
    raw = DSIR_LOG.read(spark, f"{store_dir}/raw", exclude_slot=tag_slot(tag))
    prior_total = 0
    if raw is not None:
        row = raw.agg(F.sum("n").alias("t")).first()
        prior_total = (row["t"] if row else 0) or 0
    if prior_total > 0:
        scored = score_dsir_store(
            spark,
            batch_df,
            store_dir,
            id_col=id_col,
            text_col=text_col,
            n_buckets=n_buckets,
            exclude_tag=tag,
        )
        stats = scored.agg(
            F.count(F.lit(1)).alias("n_scored"),
            F.avg(F.col("log_weight").cast("decimal(28,16)"))
            .cast("double")
            .alias("mean_log_weight"),
            (
                F.sum(F.when(F.col("log_weight") > 0, 1).otherwise(0))
                / F.count(F.lit(1))
            ).alias("share_target_leaning"),
        )
    else:  # first batch (or its replay): no pre-batch raw model
        stats = spark.createDataFrame(
            [(0, None, None)],
            "n_scored long, mean_log_weight double, share_target_leaning double",
        )
    write_batch_slot(stats, monitor_dir, batch_id)
    if fold:
        dsir_handle_batch(
            batch_df,
            batch_id,
            store_dir=store_dir,
            role="raw",
            text_col=text_col,
            n_buckets=n_buckets,
        )


from etl_poc_spark._serde import register_by_value as _rbv  # noqa: E402

_rbv(__name__)
