"""Bigram language-model training + per-document perplexity scoring —
the KenLM-shaped quality filter a pretraining-data pipeline runs after
exact/near dedup (CCNet / Gopher both gate on LM perplexity; public
recipe: arXiv:1911.00359 §4.3, arXiv:2112.11446 §A1.2).

Everything is DataFrame-native and JVM-side:

- **training** is explode → groupBy with map-side combine: the shuffle
  carries (bigram, partial_count) pairs — bounded by per-partition
  distinct-bigram occupancy, never corpus token volume. Unigram
  (history) counts reuse the same tokenization. At 100 TB the count
  tables are themselves large; they stay distributed (no driver
  collect), and scoring joins against them shuffle-on-key.
- **scoring** explodes each document's bigrams WITH their position,
  left-joins the count tables (missing history → pure-smoothing mass),
  computes each add-k log-probability from exact integer counts, and
  folds the per-document sum via `aggregate` over a position-sorted
  array — a FIXED left-to-right fold, so the double result is
  bit-identical under any partitioning/AQE regime (the property the
  pinned-exact gate class requires). A plain SUM would be
  merge-order-dependent.
- smoothing: add-k over the training vocabulary V;
  p(w2|w1) = (c(w1 w2) + k) / (c(w1) + k·V). An unseen history word
  degrades to the uniform 1/V mass, never a zero division.

The per-doc regroup is ONE shuffle on doc_id; the scoring join is
broadcast when the LM fits (sf-test scale) and a standard shuffle join
otherwise — Catalyst/AQE picks via the normal size estimate, nothing is
forced.

Reference parity: the reference pipeline has no LM stage; this extends
the engine's training-data curation tier (SURVEY.md §7) alongside
vocab_q / tokenize_q / curation.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_poc_spark.operators.deltastore import (
    DeltaStoreLogs,
    DeltaStoreSpec,
    foreach_batch_writer,
    read_delta_store,
    tag_slot,
    write_batch_slot,
)

# two count logs per batch slot: (bigram, n) and (tok, n_tok, n_hist)
LM_BIGRAMS = DeltaStoreSpec(("bigram",), (("n", "sum"),))
LM_TOKENS = DeltaStoreSpec(("tok",), (("n_tok", "sum"), ("n_hist", "sum")))
LM_STORE = DeltaStoreLogs((("bigrams", LM_BIGRAMS), ("tokens", LM_TOKENS)))


def words_col(text_col: str = "text") -> Column:
    """Whitespace tokens of the trimmed body — the engine's shared
    tokenizer (same idiom as vocab_q / linededup)."""
    return F.split(F.trim(F.col(text_col)), r"\s+")


def _bigram_structs(words: str = "words") -> Column:
    """(pos, w1, bigram) structs for every adjacent pair, built inside
    whole-stage codegen. Operates on a pre-projected array column so the
    regex split is not re-run per element (Catalyst does not CSE through
    lambda bodies)."""
    return F.expr(
        f"transform(sequence(0, size({words}) - 2), i -> "
        f"struct(i AS pos, {words}[i] AS w1, "
        f"concat({words}[i], ' ', {words}[i + 1]) AS bigram))"
    )


def train_bigram_lm(
    docs: DataFrame, *, text_col: str = "text"
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Count tables for an add-k bigram LM over `docs[text_col]`.

    Returns (bigram_counts, unigram_counts, vocab_size):
      bigram_counts  (bigram STRING, c_bi BIGINT)
      unigram_counts (w1 STRING, c_uni BIGINT) — history counts, i.e.
                     every token that HAS a successor (so the
                     denominator matches the bigram numerator mass)
      vocab_size     1-row (v BIGINT): distinct tokens in the corpus
                     (full vocabulary, not just histories — the
                     smoothing support).

    All three stay distributed; vocab_size is a 1-row aggregate meant to
    fold in-plan via a broadcast crossJoin."""
    from etl_poc_spark.operators.pins import pin

    # r17 (ADVICE r16): pin the PRE-explode token-array frame — all three
    # outputs (both count tables and vocab_size) derive from it, so the
    # regex tokenize over the corpus runs once, while the cached bytes are
    # one array row per document instead of one row per bigram occurrence
    # (the corpus-dominant intermediate the r16 pin persisted; at scale
    # its MEMORY_AND_DISK spill write+read can cost more than re-running
    # the in-codegen transform+explode it saves).
    w = pin(docs.select(words_col(text_col).alias("words")))
    pairs = w.where(F.size("words") >= 2).select(
        F.explode(_bigram_structs()).alias("p")
    )
    bigram_counts = pairs.groupBy(F.col("p.bigram").alias("bigram")).agg(
        F.count(F.lit(1)).alias("c_bi")
    )
    unigram_counts = pairs.groupBy(F.col("p.w1").alias("w1")).agg(
        F.count(F.lit(1)).alias("c_uni")
    )
    vocab_size = (
        w.select(F.explode("words").alias("tok"))
        .agg(F.countDistinct("tok").alias("v"))
    )
    return bigram_counts, unigram_counts, vocab_size


def score_bigram_logprob(
    docs: DataFrame,
    bigram_counts: DataFrame,
    unigram_counts: DataFrame,
    vocab_size: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: float = 1.0,
) -> DataFrame:
    """Per-document add-k bigram log-probability / perplexity.

    Output: (id_col, n_bigrams BIGINT, avg_nll DOUBLE, ppl DOUBLE) for
    every document with at least one bigram. avg_nll is the mean
    negative natural-log probability per bigram; ppl = exp(avg_nll).

    Determinism: each per-bigram logp is a pure function of exact
    integer counts; the per-document total folds left-to-right over the
    position-sorted (pos, logp) array, so the doubles are bit-identical
    under any partitioning (pinned-exact-safe). The fold runs in the JVM
    (`aggregate` over an array column), not Python."""
    b = (
        docs.select(F.col(id_col), words_col(text_col).alias("words"))
        .where(F.size("words") >= 2)
        .select(F.col(id_col), F.explode(_bigram_structs()).alias("p"))
        .select(F.col(id_col), "p.pos", "p.w1", "p.bigram")
    )
    scored = (
        b.join(bigram_counts, "bigram", "left")
        .join(unigram_counts, "w1", "left")
        .crossJoin(F.broadcast(vocab_size))
        .select(
            F.col(id_col),
            "pos",
            F.log(
                (F.coalesce(F.col("c_bi"), F.lit(0)) + F.lit(float(k)))
                / (
                    F.coalesce(F.col("c_uni"), F.lit(0))
                    + F.lit(float(k)) * F.col("v").cast("double")
                )
            ).alias("logp"),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.expr(
                "aggregate(array_sort(collect_list(struct(pos, logp))), "
                "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.logp)"
            ).alias("total_logp"),
        )
        .select(
            F.col(id_col),
            "n_bigrams",
            (-F.col("total_logp") / F.col("n_bigrams")).alias("avg_nll"),
            F.exp(-F.col("total_logp") / F.col("n_bigrams")).alias("ppl"),
        )
    )


def perplexity_filter(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: float = 1.0,
    max_ppl: float | None = None,
    reference: DataFrame | None = None,
) -> DataFrame:
    """Train, then score-per-doc in one call. Default trains on `docs`
    itself; pass `reference` to train on a held-out/high-quality corpus
    and gate `docs` against it — the true CCNet setup (the Wikipedia-
    trained LM scores the crawl, arXiv:1911.00359 §4.3). Adds a `keep`
    flag when `max_ppl` is given; otherwise returns the scores for a
    downstream threshold choice."""
    bi, uni, v = train_bigram_lm(
        reference if reference is not None else docs, text_col=text_col
    )
    out = score_bigram_logprob(
        docs, bi, uni, v, id_col=id_col, text_col=text_col, k=k
    )
    if max_ppl is not None:
        out = out.withColumn("keep", F.col("ppl") <= F.lit(float(max_ppl)))
    return out


# ---------------------------------------------------------------------------
# incremental / streaming LM count maintenance — append-only per-batch
# deltas in two logs (LM_STORE), folded on read with an exact-integer SUM;
# the slot/replay contract is operators/deltastore.py's. Corpus-scale
# counts never rewrite; each ingest shuffles only (token, partial_count)
# rows.
# ---------------------------------------------------------------------------


def _lm_batch_deltas(batch: DataFrame, text_col: str) -> tuple[DataFrame, DataFrame]:
    """Per-batch (bigram, n) and (tok, n_tok, n_hist) delta frames.
    n_hist counts occurrences WITH a successor (the LM denominator);
    n_tok counts all occurrences (vocabulary support) — token rows exist
    even for single-word docs, mirroring train_bigram_lm exactly."""
    w = batch.select(words_col(text_col).alias("words"))
    pairs = w.where(F.size("words") >= 2).select(
        F.explode(_bigram_structs()).alias("p")
    )
    bi = pairs.groupBy(F.col("p.bigram").alias("bigram")).agg(
        F.count(F.lit(1)).alias("n")
    )
    hist = pairs.groupBy(F.col("p.w1").alias("tok")).agg(
        F.count(F.lit(1)).alias("n_hist")
    )
    tok = (
        w.select(F.explode("words").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n_tok"))
    )
    toks = tok.join(hist, "tok", "left").select(
        "tok", "n_tok", F.coalesce("n_hist", F.lit(0)).alias("n_hist")
    )
    return bi, toks


def incremental_bigram_lm_ingest(
    spark,
    batch: DataFrame,
    store_dir: str,
    *,
    text_col: str = "text",
    batch_tag: str | None = None,
) -> None:
    """Fold `batch` into the bigram-LM count store at `store_dir`
    (subdirs bigrams/ and tokens/, each an append-only delta log).

    Idempotency: a stable `batch_tag` slots both deltas as
    tag=<batch_tag>, so a replayed batch replaces its own deltas instead
    of double-counting (the streaming twin passes the micro-batch id).
    After any sequence of ingests, read_bigram_lm_store equals
    train_bigram_lm over the union of every batch ever ingested. Slot,
    replay and concurrency contract: operators/deltastore.py."""
    bi, toks = _lm_batch_deltas(batch, text_col)
    slot = tag_slot(batch_tag)
    LM_BIGRAMS.append(bi, f"{store_dir}/bigrams", slot)
    LM_TOKENS.append(toks, f"{store_dir}/tokens", slot)


def _lm_from_logs(
    bi_log: DataFrame, tok_log: DataFrame
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(bigram_counts, unigram_counts, vocab_size) folded from the two
    delta logs."""
    bi = LM_BIGRAMS.fold(bi_log).withColumnRenamed("n", "c_bi")
    toks = LM_TOKENS.fold(tok_log)
    uni = toks.where(F.col("n_hist") > 0).select(
        F.col("tok").alias("w1"), F.col("n_hist").alias("c_uni")
    )
    vocab = toks.agg(F.count(F.lit(1)).alias("v"))
    return bi, uni, vocab


def read_bigram_lm_store(
    spark, store_dir: str, *, exclude_tag: str | None = None
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Fold the delta logs to the current LM: returns
    (bigram_counts, unigram_counts, vocab_size) in the exact shape
    train_bigram_lm produces, so score_bigram_logprob consumes either
    interchangeably (and bit-identically — counts are exact integers
    regardless of batch slicing, and after compact_bigram_lm_store).

    `exclude_tag` drops that batch's tag slot from both logs: the replay
    seam, which also heals a crash BETWEEN the two writes of
    incremental_bigram_lm_ingest (operators/deltastore.py)."""
    slot = tag_slot(exclude_tag)
    return _lm_from_logs(
        read_delta_store(spark, f"{store_dir}/bigrams", exclude_slot=slot),
        read_delta_store(spark, f"{store_dir}/tokens", exclude_slot=slot),
    )


compact_bigram_lm_store = LM_STORE.compact


def bigram_lm_handle_batch(
    batch_df: DataFrame, batch_id: int, *, store_dir: str, text_col: str = "text"
) -> None:
    """One micro-batch of streaming_bigram_lm_ingest: the batch id is the
    tag slot (b<id>), so calling this twice with the same batch_id
    (at-least-once delivery) leaves the store as one call does."""
    incremental_bigram_lm_ingest(
        batch_df.sparkSession,
        batch_df,
        store_dir,
        text_col=text_col,
        batch_tag=f"b{batch_id}",
    )


def streaming_bigram_lm_ingest(
    stream: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    *,
    text_col: str = "text",
):
    """Continuous LM count maintenance: each micro-batch folds into the
    shared store exactly-once (batch id = tag slot). Returns a configured
    DataStreamWriter — call .trigger(...).start(). Read the live LM any
    time with read_bigram_lm_store; scoring stays a batch concern."""
    return foreach_batch_writer(
        stream, checkpoint_dir, bigram_lm_handle_batch,
        store_dir=store_dir, text_col=text_col,
    )


from etl_poc_spark._serde import register_by_value as _rbv  # noqa: E402

_rbv(__name__)


def perplexity_monitor_handle_batch(
    batch_df: DataFrame,
    batch_id: int,
    *,
    store_dir: str,
    monitor_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: float = 1.0,
    fold: bool = True,
) -> None:
    """One micro-batch of streaming_perplexity_monitor: score the batch
    against the PRE-BATCH LM state (what "this data looks unlike what
    came before" means), write a 1-row drift record, then fold the batch
    into the store. Both sinks are batch_id-slotted with overwrite, so
    an at-least-once replay leaves store AND monitor exactly as a single
    delivery would (operators/deltastore.py).

    `fold=False` is the HELD-OUT mode (CCNet's fixed-reference setup):
    the store is a pre-seeded reference LM that batches score against
    but never fold into — the monitor series then reads "distance from
    the reference corpus" instead of "drift from everything so far".
    Replay stays trivially idempotent (the store never changes).

    Recovery contract (crash-sim pytested): the store read EXCLUDES the
    current batch's own tag slot, so every replay point converges —
    (a) crash after the monitor write, before the fold: replay rewrites
    the identical record (store lacks tag b; exclusion is a no-op) and
    completes the fold; (b) crash mid-fold (bigrams/tag=b written,
    tokens/tag=b not): exclusion restores the consistent pre-batch view
    and the replay's overwrite completes both subdirs; (c) crash after
    the fold, before the checkpoint commit: exclusion removes the
    already-folded tag b, so the replay scores against the same
    pre-batch LM a single delivery saw instead of the batch's own
    counts. A missing log (no ingest has completed) means no prior LM.

    The drift statistic is decimal-mean of the per-doc avg_nll values
    (each itself a deterministic fixed-order fold), so the record is
    partition-independent. The very first batch has no prior LM and
    records n_scored=0 (a replayed first batch likewise: its own slot
    is excluded, leaving an empty prior vocabulary)."""
    spark = batch_df.sparkSession
    slot = tag_slot(f"b{int(batch_id)}")
    logs = [
        spec.read(spark, f"{store_dir}/{name}", exclude_slot=slot)
        for name, spec in LM_STORE.logs
    ]
    prior_vocab = 0
    if None not in logs:
        bi, uni, v = _lm_from_logs(*logs)
        prior_vocab = (v.first() or {"v": 0})["v"] or 0  # 1-row driver probe
    if prior_vocab > 0:
        scored = score_bigram_logprob(
            batch_df, bi, uni, v, id_col=id_col, text_col=text_col, k=k
        )
        stats = scored.agg(
            F.count(F.lit(1)).alias("n_scored"),
            F.avg(F.col("avg_nll").cast("decimal(28,16)"))
            .cast("double")
            .alias("mean_nll"),
        )
    else:  # first batch (or its replay): no pre-batch LM to score against
        stats = spark.createDataFrame(
            [(0, None)], "n_scored long, mean_nll double"
        )
    write_batch_slot(stats, monitor_dir, batch_id)
    if fold:
        bigram_lm_handle_batch(
            batch_df, batch_id, store_dir=store_dir, text_col=text_col
        )


def streaming_perplexity_monitor(
    stream: DataFrame,
    store_dir: str,
    monitor_dir: str,
    checkpoint_dir: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: float = 1.0,
    fold: bool = True,
):
    """Concept-drift monitor for a document stream: every micro-batch is
    scored against the LM of everything that came BEFORE it, then folded
    in — a rising mean_nll series means the incoming data is drifting
    away from the accumulated corpus (new domain, new language, spam
    flood). Returns a configured DataStreamWriter; read the drift series
    with spark.read.parquet(monitor_dir) (batch_id is an inferred
    partition column)."""
    return foreach_batch_writer(
        stream, checkpoint_dir, perplexity_monitor_handle_batch,
        store_dir=store_dir, monitor_dir=monitor_dir, id_col=id_col,
        text_col=text_col, k=k, fold=fold,
    )
