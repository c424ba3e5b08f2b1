"""Corpus vocabulary / n-gram statistics — the counting workloads a
tokenizer- or LM-training pipeline runs before anything else: a word
vocabulary with term and document frequencies (the input to BPE/WordPiece
vocab induction), corpus-wide bigram counts (n-gram LM estimation /
heavy-hitter analysis), and per-document repetition ratios (Gopher-style
n-gram repetition signals at the bigram level).

Scale notes (100 TB): all three are explode -> groupBy pipelines whose
shuffle carries (token, partial_count) pairs after map-side combine —
never document bodies. The heavy-hitter outputs are TakeOrderedAndProject
(top-k per partition, k rows per partition to the driver-side merge), not
a global sort. Per-doc ratios partition by doc_id and stay exact-integer
divisions, so results are independent of partitioning.

Reference parity: the reference has no corpus-stats stage; these extend
the engine's LLM-data-pipeline surface (SURVEY.md §7 "training-data
ops") alongside dedup/curation/tokenize_q.

Numeric policy: counts are exact BIGINTs; every ratio is ONE double
division of exact integers — bit-identical to the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_poc_spark.io import load_table, table_path
from etl_poc_spark.operators.pins import memo_model
from etl_poc_spark.registry import query

# shared split: whitespace tokens of the trimmed body (same idiom as
# operators/linededup.py so word counts agree across the engine).
# Column factories, not module constants: building a Column requires an
# active SparkContext in pyspark 4.x, and query modules import eagerly.
def _words() -> F.Column:
    return F.split(F.trim(F.col("text")), r"\s+")


_WORDS_SQL = "string_split_regex(trim(text), '\\s+')"


@query(
    "vocab_stats",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, unnest({_WORDS_SQL}) AS word FROM documents
    ), vocab AS (
      SELECT word,
             CAST(COUNT(*) AS BIGINT) AS term_freq,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq
      FROM w GROUP BY word
    )
    SELECT word, term_freq, doc_freq,
           CAST(doc_freq AS DOUBLE) / (SELECT COUNT(*) FROM documents) AS df_ratio
    FROM vocab
    ORDER BY term_freq DESC, word
    LIMIT 50
    """,
)
def vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary induction input: top-50 words by corpus term frequency
    with document frequency and df ratio. term_freq aggregates with
    map-side combine (the shuffle carries one row per distinct word per
    partition); doc_freq needs word x doc distinctness, which reuses the
    SAME (word, doc_id) shuffle via count(distinct). The top-50 is
    TakeOrderedAndProject; df_ratio is one double division of two exact
    counts (corpus size folds in-plan as a 1-row aggregate broadcast —
    no separate driver count job, same scalar-crossJoin idiom as the
    sibling queries)."""
    d = load_table(spark, sf_dir, "documents")
    n_docs = d.agg(F.count(F.lit(1)).alias("_n_docs"))  # 1-row, in-plan
    w = d.select("doc_id", F.explode(_words()).alias("word"))
    return (
        w.groupBy("word")
        .agg(
            F.count(F.lit(1)).alias("term_freq"),
            F.countDistinct("doc_id").alias("doc_freq"),
        )
        .crossJoin(F.broadcast(n_docs))
        .select(
            "word",
            "term_freq",
            "doc_freq",
            (F.col("doc_freq").cast("double") / F.col("_n_docs").cast("double")).alias(
                "df_ratio"
            ),
        )
        .orderBy(F.desc("term_freq"), F.asc("word"))
        .limit(50)
    )


# bigrams as a 0-based Spark transform / 1-based DuckDB list_transform —
# both produce words[i] + ' ' + words[i+1] for every adjacent pair.
# Operates on a pre-projected `words` array column: referencing the regex
# split inside the lambda would re-run it once PER ELEMENT (Catalyst does
# not CSE through lambda bodies — measured 10x on this query).
def _bigrams_of_words() -> F.Column:
    return F.expr(
        "transform(sequence(0, size(words) - 2), i -> concat(words[i], ' ', words[i + 1]))"
    )


_BIGRAMS_SQL = (
    f"list_transform(range(1, len({_WORDS_SQL})), i -> "
    f"{_WORDS_SQL}[i] || ' ' || {_WORDS_SQL}[i + 1])"
)


@query(
    "bigram_counts",
    oracle=f"""
    WITH b AS (
      SELECT unnest({_BIGRAMS_SQL}) AS bigram FROM documents
      WHERE len({_WORDS_SQL}) >= 2
    )
    SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n
    FROM b GROUP BY bigram
    ORDER BY n DESC, bigram
    LIMIT 30
    """,
)
def bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram heavy hitters (n-gram LM count table): explode
    adjacent word pairs, count, top-30. The transform builds bigrams
    inside whole-stage codegen (no Python); the aggregate's map-side
    combine collapses each partition to its distinct-bigram counts before
    the shuffle, so shuffle volume is bounded by vocabulary^2 occupancy,
    not corpus token count. Tie-break on the bigram string keeps the
    limit deterministic across engines."""
    d = load_table(spark, sf_dir, "documents").select(_words().alias("words"))
    b = d.filter(F.size("words") >= 2).select(F.explode(_bigrams_of_words()).alias("bigram"))
    return (
        b.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(30)
    )


@query(
    "doc_repetition_stats",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, unnest({_WORDS_SQL}) AS word FROM documents
    ), per_word AS (
      SELECT doc_id, word, COUNT(*) AS c FROM w GROUP BY doc_id, word
    ), per_doc AS (
      SELECT doc_id,
             CAST(SUM(c) AS BIGINT) AS n_words,
             CAST(MAX(c) AS BIGINT) AS top_word_n
      FROM per_word GROUP BY doc_id
    ), b AS (
      SELECT doc_id, unnest({_BIGRAMS_SQL}) AS bigram FROM documents
      WHERE len({_WORDS_SQL}) >= 2
    ), bg AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             CAST(COUNT(DISTINCT bigram) AS BIGINT) AS n_distinct_bigrams
      FROM b GROUP BY doc_id
    )
    SELECT p.doc_id, p.n_words,
           CAST(p.top_word_n AS DOUBLE) / p.n_words AS top_word_frac,
           CAST(g.n_distinct_bigrams AS DOUBLE) / g.n_bigrams AS distinct_bigram_ratio,
           (CAST(p.top_word_n AS DOUBLE) / p.n_words <= 0.1
            AND CAST(g.n_distinct_bigrams AS DOUBLE) / g.n_bigrams >= 0.8) AS keep
    FROM per_doc p JOIN bg g USING (doc_id)
    ORDER BY p.doc_id
    """,
)
def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition signals (Gopher-style, public paper
    arXiv:2112.11446 table A1): fraction of tokens that are the single
    most frequent word, and the distinct-bigram ratio; `keep` applies the
    paper-shaped thresholds (top word <= 10% of tokens, >= 80% distinct
    bigrams). Both signals aggregate per (doc_id, token) with map-side
    combine and join back on doc_id — co-partitioned, no extra shuffle
    after the aggregates. Ratios are exact-int divisions."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", _words().alias("words"))
    w = d.select("doc_id", F.explode("words").alias("word"))
    per_doc = (
        w.groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.sum("c").cast("bigint").alias("n_words"), F.max("c").alias("top_word_n"))
    )
    bg = (
        d.filter(F.size("words") >= 2)
        .select("doc_id", F.explode(_bigrams_of_words()).alias("bigram"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.countDistinct("bigram").alias("n_distinct_bigrams"),
        )
    )
    top_frac = F.col("top_word_n").cast("double") / F.col("n_words")
    dist_ratio = F.col("n_distinct_bigrams").cast("double") / F.col("n_bigrams")
    return (
        per_doc.join(bg, "doc_id")
        .select(
            "doc_id",
            "n_words",
            top_frac.alias("top_word_frac"),
            dist_ratio.alias("distinct_bigram_ratio"),
            ((top_frac <= 0.1) & (dist_ratio >= 0.8)).alias("keep"),
        )
    )


@query(
    "bpe_merge_candidates",
    oracle=f"""
    WITH w AS (
      SELECT unnest({_WORDS_SQL}) AS word FROM documents
    ), v AS (
      SELECT word, COUNT(*) AS freq FROM w GROUP BY word
    ), p AS (
      SELECT unnest(list_transform(range(1, length(word)),
                    i -> substring(word, CAST(i AS INTEGER), 2))) AS pair,
             freq
      FROM v WHERE length(word) >= 2
    )
    SELECT pair, CAST(SUM(freq) AS BIGINT) AS n
    FROM p GROUP BY pair
    ORDER BY n DESC, pair
    LIMIT 20
    """,
)
def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One iteration of the BPE-training inner loop: the top-20 adjacent
    symbol pairs by corpus-weighted count (the pair a BPE trainer would
    merge next, at the initial character vocabulary).

    The scale trick is the classic BPE one re-expressed relationally:
    count pairs over the DISTINCT-WORD table weighted by word frequency,
    not over every token occurrence — the explode runs on vocabulary
    cardinality (bounded) instead of corpus token count (100 TB). Both
    aggregations combine map-side; adjacent pairs are substring(word,i,2)
    built inside whole-stage codegen."""
    d = load_table(spark, sf_dir, "documents")
    v = (
        d.select(F.explode(_words()).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.length("word") >= 2)
    )
    pairs = v.select(
        F.explode(
            F.expr("transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))")
        ).alias("pair"),
        "freq",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").cast("bigint").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(20)
    )


def _trained_merges(spark: SparkSession, sf_dir: str) -> list[tuple[str, str, int]]:
    """The 8-merge BPE model, trained once per documents-table version
    (pins.memo_model): training is deterministic (exact integer counts,
    lexicographic tie-break), so the reuse is exact."""
    from etl_poc_spark.operators.bpe import train_bpe

    def train() -> list[tuple[str, str, int]]:
        d = load_table(spark, sf_dir, "documents")
        w = d.select(F.explode(_words()).alias("word"))
        return train_bpe(w, n_merges=8)[0]

    return memo_model("bpe", table_path(sf_dir, "documents"), train)


@query("bpe_trained_merges")  # no oracle: iterative training loop (the
# merge decisions are exact-integer with a deterministic tie-break, but
# expressing the n-step merge application in SQL needs recursion over
# array state DuckDB's recursive CTEs can't carry); behavior is pinned by
# the pure-Python-reference parity pytest in tests/test_operators.py
def bpe_trained_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full BPE vocabulary training (operators/bpe.py::train_bpe), 8
    merges over the documents corpus: the ordered merge decisions
    (step, left, right, pair_count) — bpe_merge_candidates' inner loop
    actually iterated, with the symbol-table state checkpointed per
    iteration. The returned frame is the KB-sized trained artifact
    (driver-side by construction: one decision row per iteration)."""
    merges = _trained_merges(spark, sf_dir)
    return spark.createDataFrame(
        [(i + 1, a, b, n) for i, (a, b, n) in enumerate(merges)],
        "step int, left string, right string, pair_count bigint",
    )


@query("bpe_segmentation_stats")  # rows-only: derives from the trained
# merge list (see bpe_trained_merges); invariants pinned in pytest
def bpe_segmentation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INFERENCE side of BPE at corpus scale: apply the trained merge
    list (operators/bpe.py::segment_expr — composed JVM folds, no UDF) to
    the corpus and report tokenizer quality: corpus tokens before/after
    merging and the chars-per-token compression.

    Scale trick mirrors training: segmentation runs once per DISTINCT
    word and weights by frequency, so the fold cost is vocabulary
    cardinality while the stats describe the full corpus. Exact integer
    sums; the two ratios are single double divisions."""
    merges = _trained_merges(spark, sf_dir)
    from etl_poc_spark.operators.bpe import segment_expr

    d = load_table(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(_words()).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    seg = vocab.select(
        "freq",
        F.length("word").alias("n_chars"),
        F.size(segment_expr(merges)).alias("n_toks"),
    )
    return seg.agg(
        F.sum("freq").cast("bigint").alias("total_words"),
        F.sum(F.col("freq") * F.col("n_chars")).cast("bigint").alias("total_chars"),
        F.sum(F.col("freq") * F.col("n_toks")).cast("bigint").alias("total_tokens"),
        (
            F.sum(F.col("freq") * F.col("n_toks")).cast("double")
            / F.sum("freq").cast("double")
        ).alias("tokens_per_word"),
        (
            F.sum(F.col("freq") * F.col("n_chars")).cast("double")
            / F.sum(F.col("freq") * F.col("n_toks")).cast("double")
        ).alias("chars_per_token"),
    )
