"""Training-data curation queries: deterministic split, stratified sample,
PII redaction, contamination scan, sequence packing — each over the
documents table with a DuckDB oracle where the semantics are
SQL-expressible (all but the greedy packer, whose bin boundary is a
recursive restart-cumsum).

The md5-bucket primitive keeps every hash-driven decision engine-portable:
Spark `conv(substr(md5(x),1,6),16,10) % n` == DuckDB
`CAST('0x' || substr(md5(x),1,6) AS INTEGER) % n`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_poc_spark.io import load_table
from etl_poc_spark.operators.curation import (
    GOPHER_STOPWORDS,
    PII_PATTERNS,
    c4_line_filter,
    contamination_check,
    hash_uniform,
    pack_sequences_greedy,
    pack_stream_cut,
    redact_pii,
    train_val_test_split,
)
from etl_poc_spark.registry import query

_BUCKET_SQL = "CAST('0x' || substr(md5('{salt}' || CAST(doc_id AS VARCHAR)), 1, 6) AS INTEGER) % 100"


@query(
    "train_split_stats",
    oracle=f"""
    WITH assigned AS (
      SELECT doc_id, n_chars,
             CASE WHEN {_BUCKET_SQL.format(salt='split')} < 80 THEN 'train'
                  WHEN {_BUCKET_SQL.format(salt='split')} < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    )
    SELECT split, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM assigned GROUP BY split
    """,
)
def train_split_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split by hashed doc_id — no
    shuffle for the assignment itself (narrow md5 projection), one
    aggregation for the stats. Stable under corpus growth: a document's
    split never changes when new data lands."""
    d = load_table(spark, sf_dir, "documents")
    return (
        train_val_test_split(d, "doc_id", 80, 10, salt="split")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


@query(
    "stratified_sample_counts",
    oracle=f"""
    SELECT lang,
           COUNT(*) AS n_total,
           CAST(SUM(CASE WHEN {_BUCKET_SQL.format(salt='sample')} < 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
    FROM documents GROUP BY lang
    """,
)
def stratified_sample_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~20% sample, uniform within each language stratum
    because the hash sees only doc_id. Single pass: the sample membership
    is a narrow expression (hash_bucket < pct), so total and sampled counts
    come from one conditional aggregation — no self-join, one shuffle.
    Reproducible across partitionings, unlike df.sample()."""
    from etl_poc_spark.operators.curation import hash_bucket

    d = load_table(spark, sf_dir, "documents")
    in_sample = (hash_bucket(F.col("doc_id"), 100, "sample") < 20).cast("long")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(in_sample).cast("long").alias("n_sampled"),
    )


# synthetic PII appended deterministically so the redactor has real work;
# identical construction in the oracle
_PII_TEXT_SQL = """
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or 555-010-' ||
             lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
             CASE WHEN doc_id % 3 = 0 THEN ' ssn 123-45-6789' ELSE '' END ||
             CASE WHEN doc_id % 4 = 0 THEN ' host 10.0.0.' || CAST(doc_id % 256 AS VARCHAR) ELSE '' END
             AS text
      FROM documents
"""


def _pii_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"), F.lit("@example.com or 555-010-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.when(F.col("doc_id") % 3 == 0, F.lit(" ssn 123-45-6789")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 4 == 0,
                   F.concat(F.lit(" host 10.0.0."), (F.col("doc_id") % 256).cast("string"))
                   ).otherwise(F.lit("")),
        ).alias("text"),
    )


@query(
    "pii_redaction",
    oracle="WITH pii AS (" + _PII_TEXT_SQL + ")" + """
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(text, '\\b\\d{3}-\\d{3}-\\d{4}\\b')) AS BIGINT) AS n_phone,
           CAST(len(regexp_extract_all(text, '\\b\\d{3}-\\d{2}-\\d{4}\\b')) AS BIGINT) AS n_ssn,
           CAST(len(regexp_extract_all(text, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS BIGINT) AS n_ipv4,
           length(
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
                   '\\b\\d{3}-\\d{3}-\\d{4}\\b', '[PHONE]', 'g'),
                 '\\b\\d{3}-\\d{2}-\\d{4}\\b', '[SSN]', 'g'),
               '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '[IP]', 'g')
           ) AS redacted_len
    FROM pii
    """,
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing over a corpus with synthesized emails/phones/SSNs/IPs:
    typed placeholder replacement plus per-category counts, all narrow
    JVM-side regex — the shape of a real pre-training scrub pass."""
    red = redact_pii(_pii_text(spark, sf_dir), "text")
    return red.select(
        "doc_id",
        *[F.col(f"n_{name}").cast("long").alias(f"n_{name}") for name, _, _ in PII_PATTERNS],
        F.length("redacted").alias("redacted_len"),
    )


@query(
    "contamination_check",
    oracle="""
    WITH bench AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0
    ), corpus AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 50 <> 0
    ), bg AS (
      SELECT DISTINCT array_to_string(list_slice(words, i + 1, i + 8), ' ') AS ngram
      FROM (SELECT string_split_regex(trim(text), '\\s+') AS words FROM bench
            WHERE len(string_split_regex(trim(text), '\\s+')) >= 8),
           LATERAL (SELECT unnest(range(0, len(words) - 7)) AS i)
    ), cg AS (
      SELECT DISTINCT doc_id, array_to_string(list_slice(words, i + 1, i + 8), ' ') AS ngram
      FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words FROM corpus
            WHERE len(string_split_regex(trim(text), '\\s+')) >= 8),
           LATERAL (SELECT unnest(range(0, len(words) - 7)) AS i)
    )
    SELECT cg.doc_id, COUNT(*) AS n_overlapping_ngrams
    FROM cg JOIN bg USING (ngram)
    GROUP BY cg.doc_id
    """,
)
def contamination_check_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-test contamination scan: corpus docs sharing any word 8-gram
    with a benchmark subset (doc_id % 50 == 0 stands in for the eval set).
    Inverted-index equi-join on the gram with the small benchmark gram
    table broadcast — never a cross join."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bench = d.filter(F.col("doc_id") % 50 == 0)
    corpus = d.filter(F.col("doc_id") % 50 != 0)
    return contamination_check(corpus, bench, "doc_id", "text", n=8)


@query(
    "pack_stream_cut_stats",
    oracle="""
    WITH toks AS (
      SELECT doc_id, len(string_split_regex(trim(text), '\\s+')) AS n_tokens
      FROM documents WHERE trim(text) <> ''
    ), packed AS (
      SELECT doc_id, n_tokens,
             COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_offset
      FROM toks
    )
    SELECT CAST(start_offset // 512 AS BIGINT) AS seq_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens
    FROM packed
    GROUP BY CAST(start_offset // 512 AS BIGINT)
    """,
)
def pack_stream_cut_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-cut sequence packing stats (cap 512): docs are concatenated
    in id order and cut every cap tokens; a doc belongs to the sequence
    where it starts. One window prefix-sum + one aggregation. At cluster
    scale the window would partition by shard (group_cols) so no single
    task orders the whole corpus — here the corpus is one group to stay
    oracle-comparable."""
    d = load_table(spark, sf_dir, "documents").filter(F.trim(F.col("text")) != "")
    toks = d.select(
        "doc_id", F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tokens")
    )
    packed = pack_stream_cut(toks, "doc_id", "n_tokens", cap=512)
    return packed.groupBy("seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("seq_tokens"),
    )


@query(
    "pack_sequences_greedy",
    oracle="""
    WITH RECURSIVE toks AS MATERIALIZED (
      -- MATERIALIZED is load-bearing at scale: the recursive member joins
      -- toks once per iteration, and without it DuckDB re-tokenizes every
      -- document per step — O(iterations x corpus regex splits), ~hours at
      -- sf1 (20.6k-doc stratum x 50k docs); materialized it's one
      -- tokenize + 20.6k cheap frontier joins
      SELECT lang, doc_id,
             len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
             row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
      FROM documents WHERE trim(text) <> ''
    ), packed(lang, doc_id, n_tokens, rn, bin_id, bin_fill) AS (
      -- next-fit restart-cumsum: each step advances every language stratum
      -- by one document (rn), carrying (bin_id, bin_fill) state
      SELECT lang, doc_id, n_tokens, rn,
             CAST(0 AS BIGINT), CAST(n_tokens AS BIGINT)
      FROM toks WHERE rn = 1
      UNION ALL
      SELECT t.lang, t.doc_id, t.n_tokens, t.rn,
             CASE WHEN p.bin_fill + t.n_tokens > 512
                  THEN p.bin_id + 1 ELSE p.bin_id END,
             CASE WHEN p.bin_fill + t.n_tokens > 512
                  THEN CAST(t.n_tokens AS BIGINT)
                  ELSE p.bin_fill + t.n_tokens END
      FROM packed p JOIN toks t ON t.lang = p.lang AND t.rn = p.rn + 1
    )
    SELECT lang, doc_id, n_tokens, bin_id, bin_fill FROM packed
    """,
)
def pack_sequences_greedy_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-fit greedy packing (cap 512) per language stratum via
    applyInPandas — no doc straddles a bin; a doc that would overflow opens
    the next bin. The bin boundary is a restart-cumsum, beyond plain
    window SQL, but a DuckDB RECURSIVE CTE walks each stratum in doc_id
    order carrying (bin_id, bin_fill) — so the greedy packer is fully
    hash-checked; invariants (fill <= cap, every doc packed once, id order
    preserved) are additionally pytest-asserted."""
    d = load_table(spark, sf_dir, "documents").filter(F.trim(F.col("text")) != "")
    toks = d.select(
        "lang", "doc_id", F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tokens")
    )
    return pack_sequences_greedy(toks, "doc_id", "n_tokens", cap=512, group_cols=["lang"])


@query(
    "per_source_cap",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, source, n_chars,
             row_number() OVER (
               PARTITION BY source
               ORDER BY {_BUCKET_SQL.format(salt='cap')}, doc_id
             ) AS rn
      FROM documents
    )
    SELECT source,
           COUNT(*) AS n_kept,
           CAST(SUM(n_chars) AS BIGINT) AS kept_chars,
           CAST(MIN(doc_id) AS BIGINT) AS min_kept_doc
    FROM ranked WHERE rn <= 40
    GROUP BY source
    """,
)
def per_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap (keep <= 40 docs per source): rank within
    each source by hashed id (a deterministic uniform shuffle — no
    source's "first" docs are privileged) and keep the top 40. One window
    shuffle on source; the standard anti-domination pass before training-
    data mixing. The hash ranking makes the kept set reproducible across
    runs and engines."""
    from etl_poc_spark.operators.curation import hash_bucket
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(hash_bucket(F.col("doc_id"), 100, "cap"), F.col("doc_id"))
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 40)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").cast("long").alias("kept_chars"),
            F.min("doc_id").cast("long").alias("min_kept_doc"),
        )
    )


# one shared constant generates BOTH the Spark filter and the oracle SQL
# (SCALING.md "Oracle authoring discipline")
_STOPWORDS = ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS)

# shared CTE chain: per-doc word stats + top-bigram mode + keep flag —
# reused by the gopher_quality_flags and curation_funnel oracles
_GOPHER_CTE = f"""
    WITH base AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w,
             length(regexp_replace(trim(text), '\\s+', '', 'g')) AS total_wlen
      FROM documents WHERE trim(text) <> ''
    ), scal AS (
      SELECT doc_id, total_wlen,
             len(w) AS n_words,
             len(list_distinct(w)) AS n_distinct,
             len(list_filter(w, x -> x IN ({_STOPWORDS}))) AS n_stop,
             w
      FROM base
    ), bg AS (
      SELECT doc_id, unnest([w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))]) AS bg
      FROM scal WHERE n_words >= 2
    ), bcnt AS (
      SELECT doc_id, bg, COUNT(*) AS c FROM bg GROUP BY doc_id, bg
    ), btop AS (
      SELECT doc_id, MAX(c) AS top_bigram_cnt FROM bcnt GROUP BY doc_id
    ), flags AS (
    SELECT s.doc_id,
           CAST(s.n_words AS BIGINT) AS n_words,
           s.total_wlen / s.n_words AS mean_word_len,
           (s.n_words - s.n_distinct) / s.n_words AS dup_word_frac,
           CASE WHEN s.n_words > 1
                THEN COALESCE(b.top_bigram_cnt, 0) / (s.n_words - 1)
                ELSE 0.0 END AS top_bigram_frac,
           CAST(s.n_stop AS BIGINT) AS n_stop,
           (s.total_wlen >= 3 * s.n_words AND s.total_wlen <= 10 * s.n_words
            AND (s.n_words - s.n_distinct) * 2 < s.n_words
            AND COALESCE(b.top_bigram_cnt, 0) * 100 <= 18 * (s.n_words - 1)
            AND s.n_stop >= 2) AS keep
    FROM scal s LEFT JOIN btop b USING (doc_id)
    )
"""


@query(
    "gopher_quality_flags",
    oracle=_GOPHER_CTE + """
    SELECT doc_id, n_words, mean_word_len, dup_word_frac, top_bigram_frac,
           n_stop, keep
    FROM flags
    """,
)
def gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition/quality heuristics per document (public
    rules from Rae et al. 2021 'Scaling Language Models' appendix A,
    word-level subset): mean word length in [3,10], duplicate-word
    fraction < 0.5, top-bigram fraction <= 0.18, >= 2 stopwords.

    Plan shape: the scalar stats are a narrow PROJECTION (array builtins +
    one filter/zip_with lambda per row — linear CPU, no shuffle); only the
    top-bigram mode needs a groupBy(doc_id, bigram) -> max shuffle, which
    is linear in corpus token count and partitions by doc_id. All flag
    comparisons are integer-exact (no float thresholds), ratios are single
    int/int double divisions — bit-exact vs the DuckDB oracle.
    Implementation lives in operators/curation.py::gopher_flags (shared
    with the YAML pipeline's quality_filter op)."""
    from etl_poc_spark.operators.curation import gopher_flags

    return gopher_flags(load_table(spark, sf_dir, "documents"), "doc_id", "text")


@query(
    "curation_funnel",
    oracle=_GOPHER_CTE + """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(COUNT(*) FILTER (WHERE trim(d.text) <> '') AS BIGINT) AS n_nonempty,
           CAST(COUNT(*) FILTER (WHERE f.keep) AS BIGINT) AS n_quality,
           CAST(COUNT(DISTINCT CASE WHEN f.keep THEN md5(d.text) END) AS BIGINT)
             AS n_unique_quality
    FROM documents d LEFT JOIN flags f USING (doc_id)
    """,
)
def curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation funnel in ONE pass: corpus size -> non-empty ->
    quality-kept (Gopher rules) -> exact-dedup unique among the kept. The
    composition query a pipeline dashboard shows after every ingest.

    Scale: the flags join is doc_id-keyed (co-partitioned with the corpus);
    the dedup leg shuffles only 128-bit md5 digests, never bodies. One row
    out."""
    d = load_table(spark, sf_dir, "documents")
    flags = gopher_quality_flags(spark, sf_dir).select("doc_id", "keep")
    j = d.join(flags, "doc_id", "left")
    keep = F.col("keep") & F.col("keep").isNotNull()
    return j.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count(F.when(F.trim(F.col("text")) != "", 1)).alias("n_nonempty"),
        F.count(F.when(keep, 1)).alias("n_quality"),
        F.countDistinct(F.when(keep, F.md5(F.col("text")))).alias("n_unique_quality"),
    )


_MIX_RATES = {"src0": 100, "src1": 50, "src2": 25, "src3": 10}

@query(
    "c4_line_filter_stats",
    oracle="""
    WITH built AS (
      SELECT doc_id,
        'this document number ' || CAST(doc_id AS VARCHAR)
          || ' has some useful words inside.' AS l0,
        CASE WHEN doc_id % 3 = 0 THEN NULL
             ELSE 'another informative sentence number '
                  || CAST(doc_id AS VARCHAR)
                  || ' with enough words present.' END AS l2,
        CASE WHEN doc_id % 5 = 0 THEN NULL
             WHEN doc_id % 2 = 1 THEN NULL
             ELSE 'final closing sentence with plenty of words to pass!'
             END AS l3
      FROM documents
    ), agg AS (
      SELECT doc_id,
        4 AS n_lines,
        1 + CASE WHEN l2 IS NULL THEN 0 ELSE 1 END
          + CASE WHEN l3 IS NULL THEN 0 ELSE 1 END AS n_kept_lines,
        length(l0)
          + CASE WHEN l2 IS NULL THEN 0 ELSE length(l2) + 1 END
          + CASE WHEN l3 IS NULL THEN 0 ELSE length(l3) + 1 END AS clean_len
      FROM built
    )
    SELECT doc_id, n_lines, n_kept_lines, CAST(clean_len AS BIGINT) AS clean_len
    FROM agg WHERE n_kept_lines >= 2
    """,
)
def c4_line_filter_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line-level cleaning (curation.c4_line_filter) over
    deterministically synthesized multi-line documents — the corpus is
    single-line word soup, so lines are built the way pii_redaction
    builds PII: line 0 always survives (words+period); line 1 is always
    dropped (3 words, no punctuation); line 2 is boilerplate for
    doc_id%3==0 ('javascript'/'cookie policy'); line 3 carries curly
    braces for %5==0 and lacks terminal punctuation for odd ids. The
    oracle re-derives survival ANALYTICALLY from the id arithmetic —
    an independent formulation, so a rule regression in the operator's
    array-lambda filter cannot cancel out."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    n = F.col("doc_id")
    l0 = F.concat(
        F.lit("this document number "), n.cast("string"),
        F.lit(" has some useful words inside."),
    )
    l1 = F.lit("too short line")
    l2 = F.when(
        n % 3 == 0,
        F.lit("please enable javascript and accept our cookie policy terms."),
    ).otherwise(
        F.concat(
            F.lit("another informative sentence number "), n.cast("string"),
            F.lit(" with enough words present."),
        )
    )
    l3 = (
        F.when(n % 5 == 0, F.lit("var x = { y: 1 }; done."))
        .when(n % 2 == 1, F.lit("final line without punctuation and enough words here"))
        .otherwise(F.lit("final closing sentence with plenty of words to pass!"))
    )
    docs = d.select("doc_id", F.concat_ws("\n", l0, l1, l2, l3).alias("text"))
    out = c4_line_filter(docs, min_words_per_line=5, min_lines=2)
    return out.select(
        "doc_id", "n_lines", "n_kept_lines",
        F.length("clean_text").cast("long").alias("clean_len"),
    )


@query(
    "c4_badwords_doc_stats",
    oracle="""
    WITH t AS (
      SELECT doc_id, source,
             CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END
           + CASE WHEN doc_id % 11 = 0 THEN 1 ELSE 0 END AS hits
      FROM documents
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_flagged,
           CAST(SUM(hits) AS BIGINT) AS n_hits,
           CAST(SUM(CASE WHEN hits = 0 THEN doc_id ELSE 0 END) AS BIGINT)
             AS kept_id_sum
    FROM t GROUP BY source
    """,
)
def c4_badwords_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4's DOCUMENT-level badwords drop (curation.c4_badwords_flags,
    Raffel 2020 §2.2 — the page-level complement of c4_line_filter_stats'
    line rules; r13 verdict ask #5) over a deterministically marked
    corpus: doc_id%7 appends a capitalized single banned word, doc_id%11
    a cased banned PHRASE, doc_id%13 near-miss superstrings ("badwords",
    "explicitly") that word-bounded matching must NOT flag. The corpus
    word-soup vocabulary is disjoint from the placeholder list, so the
    oracle re-derives the flags ANALYTICALLY from the id arithmetic — an
    independent formulation: a tokenization or boundary regression in the
    operator cannot cancel out."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    n = F.col("doc_id")
    txt = F.concat(
        F.col("text"),
        F.when(n % 7 == 0, F.lit(" Badword alert.")).otherwise(F.lit("")),
        F.when(n % 11 == 0, F.lit(" very NSFW stuff here.")).otherwise(F.lit("")),
        F.when(n % 13 == 0, F.lit(" badwords explicitly.")).otherwise(F.lit("")),
    )
    from etl_poc_spark.operators.curation import c4_badwords_flags

    flagged = c4_badwords_flags(d.select("doc_id", "source", txt.alias("text")))
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("has_badwords").cast("int")).cast("bigint").alias("n_flagged"),
        F.sum("n_badword_hits").cast("bigint").alias("n_hits"),
        F.sum(F.when(~F.col("has_badwords"), F.col("doc_id")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("kept_id_sum"),
    )


# 52-bit md5 uniform (curation.hash_uniform): first 13 hex digits / 2^52,
# exact in a double — engine-portable to the bit
_U13_SQL = (
    "(CAST(CAST('0x' || substr(md5('{salt}' || CAST(doc_id AS VARCHAR)), 1, 13) "
    "AS BIGINT) AS DOUBLE) / 4503599627370496.0)"
)
_SUBPCT_RATES = {"src0": 0.08, "src1": 0.0137, "src2": 0.30, "src3": 0.006}
_SUBPCT_DEFAULT = 0.009  # sub-percent catch-all for every other source


@query(
    "subpercent_uniform_sample",
    oracle=f"""
    WITH u AS (
      SELECT source, {_U13_SQL.format(salt='u13')} AS u FROM documents
    ), kept AS (
      SELECT source, u FROM u
      WHERE u < CASE source WHEN 'src0' THEN 0.08 WHEN 'src1' THEN 0.0137
                            WHEN 'src2' THEN 0.30 WHEN 'src3' THEN 0.006
                            ELSE 0.009 END
    )
    SELECT source, COUNT(*) AS n_kept,
           CAST(SUM(FLOOR(u * 1000000000.0)) AS BIGINT) AS u_checksum
    FROM kept GROUP BY source
    """,
)
def subpercent_uniform_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-percent deterministic sampling via the 52-bit md5 uniform
    (curation.hash_uniform) — the r13 replacement for the percent-grid
    hash_bucket decision in the mix ops (ADVICE r12, where any positive
    rate kept >=1%): keep-rates of 0.2-5% realize faithfully, verified
    hash-exact against DuckDB's rendering of the same draw. The checksum
    folds floor(u*1e9) per kept row — every addend is an integer under
    2^53, so the double SUM is exact in any fold order."""
    d = load_table(spark, sf_dir, "documents")
    rate = F.lit(_SUBPCT_DEFAULT)
    for src, r in _SUBPCT_RATES.items():
        rate = F.when(F.col("source") == src, F.lit(r)).otherwise(rate)
    u = hash_uniform(F.col("doc_id"), "u13")
    kept = d.select("source", u.alias("u")).where(F.col("u") < rate)
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum(F.floor(F.col("u") * F.lit(1000000000.0))).cast("bigint").alias(
            "u_checksum"
        ),
    )


@query(
    "mixture_resample_counts",
    oracle=f"""
    WITH kept AS (
      SELECT source FROM documents
      WHERE {_BUCKET_SQL.format(salt='mix')} <
            CASE source WHEN 'src0' THEN 100 WHEN 'src1' THEN 50
                        WHEN 'src2' THEN 25 WHEN 'src3' THEN 10 ELSE 100 END
    )
    SELECT source, COUNT(*) AS n_kept FROM kept GROUP BY source
    """,
)
def mixture_resample_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data mixture resampling: each source keeps its recipe
    fraction (100/50/25/10%) via the deterministic id hash — a narrow
    filter with a literal-map rate lookup (zero joins), then one counting
    shuffle. THE operation behind 'mix 2 parts web, 1 part code, ...' at
    pretraining scale."""
    from etl_poc_spark.operators.curation import mixture_resample

    d = load_table(spark, sf_dir, "documents")
    kept = mixture_resample(d, "source", _MIX_RATES, "doc_id", salt="mix")
    return kept.groupBy("source").agg(F.count(F.lit(1)).alias("n_kept"))


@query(
    "mixture_temperature_weights",
    oracle="""
    WITH t AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ), m AS (SELECT MAX(n_tokens) AS mx FROM t)
    SELECT source, n_docs, n_tokens,
           CAST(n_tokens AS DOUBLE) / CAST(mx AS DOUBLE) AS w_t1,
           sqrt(CAST(n_tokens AS DOUBLE)) / sqrt(CAST(mx AS DOUBLE)) AS w_t05
    FROM t, m ORDER BY source
    """,
)
def mixture_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mixture RECIPE side of data mixing: per-source token counts and
    temperature-flattened sampling weights, relative to the largest
    source — w_tau = (n_i / n_max)^tau at tau=1 (proportional) and
    tau=0.5 (the flattening bigger-than-proportional boost small domains
    get in multi-domain pretraining recipes, e.g. multilingual sampling
    per arXiv:1901.07291 §3.1).

    Float discipline: relative-to-max, NOT softmax-normalized —
    normalization needs a cross-row float SUM whose merge order no
    engine promises, while MAX of integers is order-free, IEEE-754
    sqrt is correctly rounded, and each weight is then one double
    division — bit-exact across Spark/DuckDB/partitionings by
    construction. Downstream consumers renormalize rationally. One
    narrow scan + one 4-group aggregate + a 1-row broadcast max."""
    d = load_table(spark, sf_dir, "documents")
    t = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split(F.trim(F.col("text")), r"\s+"))).alias("n_tokens"),
    )
    mx = t.agg(F.max("n_tokens").alias("mx"))
    return (
        t.crossJoin(F.broadcast(mx))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            (F.col("n_tokens").cast("double") / F.col("mx").cast("double")).alias("w_t1"),
            (
                F.sqrt(F.col("n_tokens").cast("double"))
                / F.sqrt(F.col("mx").cast("double"))
            ).alias("w_t05"),
        )
    )


@query(
    "token_budget_sample",
    oracle="""
    WITH t AS (
      SELECT source, doc_id,
             len(list_filter(string_split_regex(text, '\\s+'), w -> w <> '')) AS n_tokens,
             md5(CAST(doc_id AS VARCHAR)) AS h
      FROM documents
    ), c AS (
      SELECT source, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY source ORDER BY h
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM t
    )
    SELECT source,
           COUNT(*) AS n_docs_total,
           CAST(COUNT(*) FILTER (cum <= 800) AS BIGINT) AS n_docs_kept,
           CAST(COALESCE(SUM(n_tokens) FILTER (cum <= 800), 0) AS BIGINT) AS tokens_kept
    FROM c GROUP BY source
    """,
)
def token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-budget subsampling: walk each source's documents
    in deterministic pseudo-random order (md5 of doc_id — unbiased,
    seed-free, engine-portable) and keep documents until the source's
    token budget (800) is spent. THE operation behind 'take at most N
    tokens from each source' in a pretraining mix, complementing
    per_source_cap (doc-count cap) and mixture_resample (rate cap).

    One window shuffle partitioned by source; the prefix sum is the same
    pattern as pack_stream_cut_stats. A mega-source that dwarfs its
    budget still orders only ITS partition — with the usual caveat that a
    single giant source should be sub-sharded first (see
    curation.py::stratified_sample's mega-stratum note)."""
    from etl_poc_spark.functions.text import word_count
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "source",
        word_count(F.col("text")).alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    w = Window.partitionBy("source").orderBy("h").rowsBetween(Window.unboundedPreceding, 0)
    c = t.withColumn("cum", F.sum("n_tokens").over(w))
    kept = F.col("cum") <= 800
    return c.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs_total"),
        F.count(F.when(kept, 1)).alias("n_docs_kept"),
        F.coalesce(F.sum(F.when(kept, F.col("n_tokens"))), F.lit(0)).alias("tokens_kept"),
    )


@query(
    "hashed_quality_margin",
    oracle="""
    WITH w AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS word
      FROM documents
    ), feat AS (
      SELECT doc_id,
             CAST('0x' || substr(md5('qclf' || word), 1, 6) AS INTEGER) % 64 AS bucket
      FROM w
    ), scored AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM((CAST(bucket AS BIGINT) * 2654435761) % 2001 - 1000) AS BIGINT)
               AS margin_milli
      FROM feat GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, margin_milli, margin_milli > 0 AS keep
    FROM scored ORDER BY doc_id
    """,
)
def hashed_quality_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear text-classifier inference via the hashing trick (the shape
    of a fastText/logistic quality filter, e.g. the CCNet/LLaMA wiki-ref
    classifier): each token hashes into one of 64 feature buckets, each
    bucket carries a fixed weight, and a document's score is the sum of
    its token weights — keep if the margin is positive.

    The weights here are a deterministic integer schedule in milli-units
    ((bucket * 2654435761) % 2001 - 1000), standing in for trained
    parameters so the margin stays EXACT integer arithmetic — the real
    inference plan is identical with a literal weight map. Scale shape:
    explode -> md5 bucket -> integer weight -> groupBy(doc_id) SUM, all
    map-side-combining Column exprs; a 64-entry (or 1M-entry) weight
    table never shuffles because it is an expression, not a join side.
    No sigmoid on purpose: the margin's sign IS the decision, and
    avoiding exp keeps the result bit-identical across engines."""
    from etl_poc_spark.operators.curation import hash_bucket

    d = load_table(spark, sf_dir, "documents")
    w = d.select("doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word"))
    bucket = hash_bucket(F.col("word"), 64, salt="qclf")
    weight = (bucket.cast("bigint") * F.lit(2654435761)) % 2001 - 1000
    return (
        w.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(weight).cast("bigint").alias("margin_milli"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "margin_milli",
            (F.col("margin_milli") > 0).alias("keep"),
        )
    )


@query("doc_compression_quality")
def doc_compression_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language compression-ratio quality screen
    (operators/text_analysis.py::compression_ratio_features): DEFLATE
    ratio per document (deterministic for a fixed level — reproducible,
    not SQL-expressible: rows-only with pinned-behavior pytests, same
    class as the image hashes), rolled up per language with the count of
    low-entropy documents (ratio < 0.3 — the templated/repetitive red
    flag word-level heuristics miss). Scale: the zlib pass is one
    Arrow-batched map over (id, text); everything after is
    integer-exact aggregation."""
    from etl_poc_spark.operators.text_analysis import compression_ratio_features

    docs = load_table(spark, sf_dir, "documents")
    feats = compression_ratio_features(docs)
    j = docs.select("doc_id", "lang").join(feats, "doc_id")
    return (
        j.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bytes").alias("total_bytes"),
            F.sum("n_compressed").alias("total_compressed"),
            F.sum(
                F.when(F.col("compression_ratio") < 0.3, 1).otherwise(0)
            ).alias("n_low_entropy"),
        )
    )


@query(
    "unimax_lang_budgets",
    oracle="""
    WITH t AS (
      SELECT lang,
             CAST(SUM(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY lang
    ), capped AS (
      SELECT lang, n_tokens, n_tokens AS cap,
             ROW_NUMBER() OVER (ORDER BY n_tokens, lang) AS i,
             SUM(n_tokens) OVER (ORDER BY n_tokens, lang
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             COUNT(*) OVER () AS k
      FROM t
    ), flagged AS (
      SELECT *, (cap * (k - i + 1) + (cum - cap)) <= 18000 AS epoch_capped
      FROM capped
    ), p AS (
      SELECT *,
             SUM(CASE WHEN epoch_capped THEN 1 ELSE 0 END) OVER () AS np,
             SUM(CASE WHEN epoch_capped THEN cap ELSE 0 END) OVER () AS cum_p
      FROM flagged
    )
    SELECT lang, n_tokens, CAST(cap AS BIGINT) AS cap, epoch_capped,
           CASE WHEN epoch_capped THEN CAST(cap AS DOUBLE)
                ELSE CAST(18000 - cum_p AS DOUBLE) / CAST(k - np AS DOUBLE)
           END AS budget
    FROM p ORDER BY lang
    """,
)
def unimax_lang_budgets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax mixing budgets (arXiv:2304.09151) over the per-language
    token masses: total budget T=18000 tokens, max_epochs=1. Languages
    small enough to fit a full epoch under the uniform share are
    epoch-capped at n_tokens; the rest split the remainder evenly (the
    water-filling level, ONE int/int double division). At sf0.001 the
    whole corpus fits the budget (all epoch-capped); at sf0.01 the small
    languages cap while en water-fills — both branches carry the same
    hash-exact oracle.

    Plan: one scan + one ≤n_langs aggregate, then windows over the
    ≤n_langs frame (single-partition exchange of k rows — the
    bounded-model-frame class)."""
    from etl_poc_spark.operators.curation import unimax_budgets

    d = load_table(spark, sf_dir, "documents")
    t = d.groupBy("lang").agg(
        F.sum(F.size(F.split(F.trim(F.col("text")), r"\s+")))
        .cast("bigint")
        .alias("n_tokens")
    )
    return unimax_budgets(t, "lang", "n_tokens", 18000, 1).orderBy("lang")


@query(
    "doremi_domain_weights",
    oracle="""
    WITH per_doc AS (
      SELECT source,
             CAST(FLOOR(CAST(1000 AS DOUBLE) * n_chars
                        / len(string_split_regex(trim(text), '\\s+'))) AS BIGINT)
               - 5500 AS ex
      FROM documents
    ), t AS (
      SELECT source, COUNT(*) AS n_examples,
             CAST(SUM(GREATEST(ex, 0)) AS BIGINT) // COUNT(*)
               AS lambda_floor
      FROM per_doc GROUP BY source
    ), m AS (
      SELECT *, CAST(256 + lambda_floor AS HUGEINT) AS m1,
             COUNT(*) OVER () AS k
      FROM t
    ), p AS (
      SELECT *, m1*m1 AS m2, (m1*m1)*m1 AS m3, ((m1*m1)*m1)*m1 AS m4 FROM m
    ), s AS (
      SELECT *, SUM(m1) OVER () AS s1, SUM(m2) OVER () AS s2,
             SUM(m3) OVER () AS s3, SUM(m4) OVER () AS s4 FROM p
    )
    SELECT source, n_examples, lambda_floor,
      (((((CAST(0.984375 AS DOUBLE) * (CAST(m1 AS DOUBLE) / CAST(s1 AS DOUBLE)))
            + (CAST(0.015625 AS DOUBLE) / CAST(k AS DOUBLE)))
        + ((CAST(0.984375 AS DOUBLE) * (CAST(m2 AS DOUBLE) / CAST(s2 AS DOUBLE)))
            + (CAST(0.015625 AS DOUBLE) / CAST(k AS DOUBLE))))
       + ((CAST(0.984375 AS DOUBLE) * (CAST(m3 AS DOUBLE) / CAST(s3 AS DOUBLE)))
            + (CAST(0.015625 AS DOUBLE) / CAST(k AS DOUBLE))))
      + ((CAST(0.984375 AS DOUBLE) * (CAST(m4 AS DOUBLE) / CAST(s4 AS DOUBLE)))
            + (CAST(0.015625 AS DOUBLE) / CAST(k AS DOUBLE))))
      / CAST(4 AS DOUBLE) AS alpha
    FROM s ORDER BY source
    """,
)
def doremi_domain_weights_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi domain reweighting (arXiv:2305.10429) over the documents
    table with source as the domain: the per-example excess loss is a
    deterministic integer proxy — milli-bytes-per-token above a 5500
    baseline (a real deployment feeds the proxy−reference loss column a
    training run logged; the solver is loss-source-agnostic). T=4
    multiplicative-weights steps at η=2^-8, smoothing ε=2^-6;
    every cross-domain fold is an exact integer sum (HUGEINT in the
    oracle, DECIMAL(38,0) in Spark), so the weights are hash-exact
    across engines — the same no-float-fold discipline as
    unimax_lang_budgets and the DSIR affinity oracle.

    Plan: one scan + one map-side-combined groupBy(source); the T-step
    recurrence runs as windows over the ≤20-domain frame."""
    from etl_poc_spark.operators.curation import doremi_domain_weights

    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    bpt = F.floor(
        F.lit(1000.0) * F.col("n_chars") / n_tok.cast("double")
    ).cast("bigint")
    per_doc = d.select(F.col("source"), (bpt - F.lit(5500)).alias("ex"))
    return doremi_domain_weights(
        per_doc, "source", "ex", n_steps=4, eta_shift=8, smoothing_shift=6
    ).orderBy("source")


@query(
    "mixture_anneal_schedule",
    oracle="""
    WITH t AS (
      SELECT lang,
             CAST(SUM(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY lang
    ), p(phase, tau) AS (
      VALUES (0, CAST(1.0 AS DOUBLE)), (1, CAST(0.75 AS DOUBLE)),
             (2, CAST(0.5 AS DOUBLE)), (3, CAST(0.25 AS DOUBLE))
    ), fanned AS (
      SELECT p.phase, p.tau, t.lang, t.n_tokens,
             CASE p.phase
               WHEN 0 THEN CAST(1 AS DOUBLE)
               WHEN 1 THEN CAST(1 AS DOUBLE)
                           / sqrt(sqrt(CAST(n_tokens AS DOUBLE)))
               WHEN 2 THEN CAST(1 AS DOUBLE) / sqrt(CAST(n_tokens AS DOUBLE))
               ELSE CAST(1 AS DOUBLE)
                    / ((sqrt(sqrt(CAST(n_tokens AS DOUBLE)))
                        * sqrt(sqrt(CAST(n_tokens AS DOUBLE))))
                       * sqrt(sqrt(CAST(n_tokens AS DOUBLE))))
             END AS raw
      FROM t CROSS JOIN p
    )
    SELECT phase, tau, lang, n_tokens,
           raw / MAX(raw) OVER (PARTITION BY phase) AS rate
    FROM fanned ORDER BY phase, lang
    """,
)
def mixture_anneal_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum anneal schedule over the per-language token masses:
    four training phases flatten the mixture from the natural
    distribution (tau=1: every rate 1.0) toward near-uniform (tau=0.25:
    small languages most boosted). Each phase's keep-rates are
    n^(tau−1) normalized to the most-boosted stratum, computed as FIXED
    chains of IEEE sqrt/multiply/divide (dyadic taus — no pow(), whose
    libm builds disagree in the last ulps), so the whole schedule is
    hash-exact cross-engine.

    Plan: one scan + one ≤n_langs aggregate; a narrow literal-array
    explode fans phases (no join), one window max per phase over the
    ≤4k-row frame."""
    from etl_poc_spark.operators.curation import temperature_schedule

    d = load_table(spark, sf_dir, "documents")
    t = d.groupBy("lang").agg(
        F.sum(F.size(F.split(F.trim(F.col("text")), r"\s+")))
        .cast("bigint")
        .alias("n_tokens")
    )
    return temperature_schedule(t, "lang", "n_tokens", [1.0, 0.75, 0.5, 0.25])


@query("pack_sequences_bfd_stats")
def pack_sequences_bfd_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-fit-decreasing packing vs the next-fit greedy walk, per
    language at cap=512 tokens: BFD places longest-first into the fullest
    fitting bin (≤ 11/9·OPT + 4), so n_bins_bfd ≤ n_bins_greedy on every
    stratum — the padding saved is visible in the pinned row itself. No
    SQL oracle (the bin state is inherently sequential); pinned-exact
    under the adversarial session like the other deterministic
    rows-only queries (tools/gen_pins.py)."""
    from etl_poc_spark.operators.curation import (
        pack_sequences_bfd,
        pack_sequences_greedy,
    )

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("n_tokens"),
    )
    bfd = (
        pack_sequences_bfd(d, cap=512)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.countDistinct("bin_id").alias("n_bins_bfd"),
        )
    )
    greedy = (
        pack_sequences_greedy(d, cap=512)
        .groupBy("lang")
        .agg(F.countDistinct("bin_id").alias("n_bins_greedy"))
    )
    return bfd.join(greedy, "lang")


@query(
    "doremi_resample_counts",
    oracle="""
    WITH per_doc AS (
      SELECT doc_id, source,
             CAST(FLOOR(CAST(1000 AS DOUBLE) * n_chars
                        / len(string_split_regex(trim(text), '\\s+'))) AS BIGINT)
               - 5500 AS ex
      FROM documents
    ), t AS (
      SELECT source, COUNT(*) AS n_examples,
             CAST(SUM(GREATEST(ex, 0)) AS BIGINT) // COUNT(*)
               AS lambda_floor
      FROM per_doc GROUP BY source
    ), m AS (
      SELECT *, CAST(256 + lambda_floor AS HUGEINT) AS m1,
             COUNT(*) OVER () AS k
      FROM t
    ), p AS (
      SELECT *, m1*m1 AS m2, (m1*m1)*m1 AS m3, ((m1*m1)*m1)*m1 AS m4 FROM m
    ), s AS (
      SELECT *, SUM(m1) OVER () AS s1, SUM(m2) OVER () AS s2,
             SUM(m3) OVER () AS s3, SUM(m4) OVER () AS s4 FROM p
    ), alpha AS (
      SELECT source, n_examples,
        (((((CAST(0.984375 AS DOUBLE) * (CAST(m1 AS DOUBLE) / CAST(s1 AS DOUBLE)))
              + (CAST(0.015625 AS DOUBLE) / CAST(k AS DOUBLE)))
          + ((CAST(0.984375 AS DOUBLE) * (CAST(m2 AS DOUBLE) / CAST(s2 AS DOUBLE)))
              + (CAST(0.015625 AS DOUBLE) / CAST(k AS DOUBLE))))
         + ((CAST(0.984375 AS DOUBLE) * (CAST(m3 AS DOUBLE) / CAST(s3 AS DOUBLE)))
              + (CAST(0.015625 AS DOUBLE) / CAST(k AS DOUBLE))))
        + ((CAST(0.984375 AS DOUBLE) * (CAST(m4 AS DOUBLE) / CAST(s4 AS DOUBLE)))
              + (CAST(0.015625 AS DOUBLE) / CAST(k AS DOUBLE))))
        / CAST(4 AS DOUBLE) AS a
      FROM s
    ), rates AS (
      SELECT source,
             (a / CAST(n_examples AS DOUBLE))
               / MAX(a / CAST(n_examples AS DOUBLE)) OVER () AS rate
      FROM alpha
    ), kept AS (
      SELECT d.source,
             CASE WHEN CAST(CAST('0x' || substr(md5('doremi'
                    || CAST(d.doc_id AS VARCHAR)), 1, 13) AS BIGINT) AS DOUBLE)
                  / 4503599627370496.0 < r.rate
                  THEN 1 ELSE 0 END AS keep
      FROM per_doc d JOIN rates r USING (source)
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(keep) AS BIGINT) AS n_kept
    FROM kept GROUP BY source ORDER BY source
    """,
)
def doremi_resample_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end DoReMi mixing realization (the yaml `doremi_mix` math,
    driver-signed): solve the exact-integer MW weights from the bpt-proxy
    excess losses, realize keep-rates ∝ α_d/n_d normalized to the most-
    boosted stratum, decide each doc by the 52-bit md5 uniform, and count
    survivors per source. Every stage — solver, rate divisions, uniform
    draw, counts — is engine-portable, so the whole resample is
    hash-exact."""
    from etl_poc_spark.operators.curation import (
        doremi_domain_weights,
        max_normalized_rates,
    )

    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    bpt = F.floor(
        F.lit(1000.0) * F.col("n_chars") / n_tok.cast("double")
    ).cast("bigint")
    per_doc = d.select("doc_id", "source", (bpt - F.lit(5500)).alias("ex"))
    weights = doremi_domain_weights(
        per_doc, "source", "ex", n_steps=4, eta_shift=8, smoothing_shift=6
    )
    rates = max_normalized_rates(
        weights, "source", F.col("alpha") / F.col("n_examples").cast("double")
    )
    keep = (
        hash_uniform(F.col("doc_id"), "doremi") < F.col("__rate")
    ).cast("int")
    return (
        per_doc.join(F.broadcast(rates), "source")
        .select("source", keep.alias("__k"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_total"),
            F.sum("__k").cast("long").alias("n_kept"),
        )
    )


@query(
    "per_stratum_fixed_sample",
    oracle="""
    WITH u AS (
      SELECT lang, doc_id,
             CAST(CAST('0x' || substr(md5('psample' || CAST(doc_id AS VARCHAR)), 1, 13)
                  AS BIGINT) AS DOUBLE) / 4503599627370496.0 AS uu
      FROM documents
    ), ranked AS (
      SELECT lang, doc_id, uu,
             row_number() OVER (PARTITION BY lang ORDER BY uu, doc_id) AS rnk
      FROM u
    )
    SELECT lang, doc_id, rnk AS sample_rank FROM ranked WHERE rnk <= 10
    ORDER BY lang, sample_rank
    """,
)
def per_stratum_fixed_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY-k-per-stratum deterministic sample (fixed-size eval/dev
    sets per language): rank every doc by its 52-bit md5 uniform within
    the stratum and keep the k smallest — bottom-k by a stable hash is
    the distributed, rerun-stable form of reservoir sampling (no state,
    no RNG seed coordination; a doc's inclusion changes only if corpus
    membership changes near the threshold). One shuffle on the stratum;
    TopK-per-group plan. Hash-exact (the draw, the ranking, and the ties
    are all engine-portable)."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    u = hash_uniform(F.col("doc_id"), "psample")
    w = Window.partitionBy("lang").orderBy(u.asc(), F.col("doc_id").asc())
    return (
        d.select("lang", "doc_id", F.row_number().over(w).alias("sample_rank"))
        .filter(F.col("sample_rank") <= 10)
    )


@query(
    "quality_decile_profile",
    oracle="""
    WITH feat AS (
      SELECT doc_id, n_chars,
             len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
             CAST(FLOOR(CAST(1000 AS DOUBLE) * n_chars
                        / len(string_split_regex(trim(text), '\\s+'))) AS BIGINT)
               AS bpt_milli
      FROM documents
    ), tiled AS (
      SELECT *, ntile(10) OVER (ORDER BY bpt_milli, doc_id) AS decile FROM feat
    )
    SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(bpt_milli) AS min_bpt, MAX(bpt_milli) AS max_bpt,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(n_chars) AS DOUBLE) / CAST(SUM(n_tokens) AS DOUBLE)
             AS chars_per_token
    FROM tiled GROUP BY decile ORDER BY decile
    """,
)
def quality_decile_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-score decile profiling (the FineWeb-edu threshold-sweep
    shape: before picking a classifier cutoff, look at what each score
    decile holds): docs tiled into 10 equal buckets by the
    bytes-per-token proxy, per-decile doc/token mass and the exact
    chars-per-token ratio (one int/int double division). Hash-exact —
    the oracle is a plain global ntile.

    Scale shape (the reason this is NOT `ntile() OVER (ORDER BY ...)`,
    which is a single-task global sort): the global row number
    decomposes as cum_count(smaller values) + rank within the value
    group — the value histogram is a BOUNDED frame (bpt_milli has at
    most ~100k distinct values by construction), its cumulative counts
    broadcast back, and the within-value window partitions by value.
    The ntile bucket then comes from the closed-form rule
    (first N%10 tiles hold ceil(N/10) rows) — bit-identical to ntile,
    no global sort anywhere."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    feat = d.select(
        "doc_id",
        "n_chars",
        n_tok.cast("long").alias("n_tokens"),
        F.floor(F.lit(1000.0) * F.col("n_chars") / n_tok.cast("double"))
        .cast("bigint")
        .alias("bpt_milli"),
    )
    vals = feat.groupBy("bpt_milli").agg(F.count(F.lit(1)).alias("__c"))
    w_cum = Window.orderBy("bpt_milli").rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = vals.select(
        "bpt_milli",
        F.coalesce(F.sum("__c").over(w_cum), F.lit(0)).alias("__cum"),
        F.sum("__c").over(w_all).alias("__N"),
    )
    w_val = Window.partitionBy("bpt_milli").orderBy("doc_id")
    rn = (F.col("__cum") + F.row_number().over(w_val)).alias("__rn")
    ranked = feat.join(F.broadcast(cum), "bpt_milli").select("*", rn)
    # ntile(10): r = N % 10 big tiles of size ceil(N/10), then size floor
    size = (F.col("__N") / F.lit(10)).cast("bigint")
    r = F.col("__N") % F.lit(10)
    big_span = r * (size + 1)
    decile = F.when(
        F.col("__rn") <= big_span,
        ((F.col("__rn") - 1) / (size + 1)).cast("bigint") + 1,
    ).otherwise(
        r + ((F.col("__rn") - 1 - big_span) / size).cast("bigint") + 1
    )
    return (
        ranked.select("*", decile.cast("int").alias("decile"))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("bpt_milli").alias("min_bpt"),
            F.max("bpt_milli").alias("max_bpt"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            (
                F.sum("n_chars").cast("double")
                / F.sum("n_tokens").cast("double")
            ).alias("chars_per_token"),
        )
    )


@query(
    "padding_waste_stats",
    oracle="""
    WITH t AS (
      SELECT len(string_split_regex(trim(text), '\\s+')) AS n FROM documents
    ), b AS (
      SELECT ((n + 63) // 64) * 64 AS band_max, COUNT(*) AS n_seqs,
             CAST(SUM(n) AS BIGINT) AS sum_tokens, MAX(n) AS mx
      FROM t WHERE n > 0 GROUP BY 1
    )
    SELECT CAST(band_max AS BIGINT) AS band_max,
           CAST(n_seqs AS BIGINT) AS n_seqs,
           sum_tokens,
           CAST(band_max * n_seqs - sum_tokens AS BIGINT) AS bucketed_waste,
           CAST((MAX(mx) OVER ()) * n_seqs - sum_tokens AS BIGINT)
             AS unbucketed_waste
    FROM b
    """,
)
def padding_waste_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-batching efficiency dashboard
    (curation.length_bucket_padding): bucket document token counts into
    64-token bands and report, per band, the padded-token cost of
    length-grouped batching versus padding everything to the global max —
    the number that decides whether a training pipeline buckets by length
    before batching (it complements the packers: packing concatenates,
    bucketing pads). Exact integers end to end (`div`-based band
    arithmetic, no floats), so hash-exact; the global max attaches via a
    window over the ≤#bands aggregated frame, never corpus rows."""
    from etl_poc_spark.operators.curation import length_bucket_padding

    d = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    return length_bucket_padding(
        d.select(n_tokens.alias("n_tokens")), "n_tokens", bucket_tokens=64
    )


@query(
    "epoch_shuffle_order",
    oracle="""
    WITH e AS (SELECT 0 AS epoch UNION ALL SELECT 1 UNION ALL SELECT 2),
    k AS (
      SELECT e.epoch, d.doc_id,
             md5('shuffle' || CAST(e.epoch AS VARCHAR) || '|'
                 || CAST(d.doc_id AS VARCHAR)) AS key
      FROM documents d, e
    ), r AS (
      SELECT epoch, doc_id,
             row_number() OVER (PARTITION BY epoch ORDER BY key) AS pos
      FROM k
    )
    SELECT epoch, CAST(pos AS BIGINT) AS pos, doc_id
    FROM r WHERE pos <= 20
    """,
)
def epoch_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch corpus shuffle
    (curation.epoch_shuffle_key): every training epoch orders the corpus
    by md5(salt||epoch||'|'||id) — an independent, reproducible
    permutation per epoch with no RNG state (retries, resharding, and
    engine changes reproduce the same order). The probe emits each
    epoch's first 20 (epoch, position, doc_id) rows; at 100 TB the
    loader consumes the SAME key via range-partition +
    sortWithinPartitions (one total-order sort shuffle) — global rank
    materialization stays in bounded probes like this one."""
    from etl_poc_spark.operators.curation import epoch_shuffle_key

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    parts = [
        d.select(
            F.lit(e).alias("epoch"),
            "doc_id",
            epoch_shuffle_key(F.col("doc_id"), e).alias("__k"),
        )
        for e in (0, 1, 2)
    ]
    keyed = parts[0].unionByName(parts[1]).unionByName(parts[2])
    w = Window.partitionBy("epoch").orderBy("__k")
    return (
        keyed.withColumn("pos", F.row_number().over(w).cast("bigint"))
        .filter(F.col("pos") <= 20)
        .select("epoch", "pos", "doc_id")
    )


@query(
    "mixture_loss_regression",
    oracle="""
    WITH obs AS (
      SELECT source,
             CAST(SUM(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT)
               AS x,
             CAST(SUM(n_chars % 97) AS BIGINT) AS y
      FROM documents GROUP BY source
    ), s AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(x) AS HUGEINT) AS sx,
             CAST(SUM(y) AS HUGEINT) AS sy,
             CAST(SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS HUGEINT)
               AS sxx,
             CAST(SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS HUGEINT)
               AS sxy
      FROM obs
    )
    SELECT CAST(n AS BIGINT) AS n_obs,
           CAST(CAST(sy * sxx - sx * sxy AS VARCHAR) AS DOUBLE)
             / CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE) AS w0,
           CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE)
             / CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE) AS w1
    FROM s
    """,
)
def mixture_loss_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RegMix-style mixture-weight regression (curation.exact_ols_fit):
    fit loss ~ w0 + w1·x over per-domain observations by EXACT
    normal-equation OLS — the closed-form step a mixture search runs over
    its (mixture share → proxy-run loss) observations (Liu et al. 2024),
    and a scaling-law sweep runs over (size, loss) pairs. Here the ≤k
    observations are synthesized per source from the corpus itself
    (x = domain token mass, y = an integer loss proxy); production feeds
    real proxy-run rows through the same operator.

    Exactness: all five normal-equation sums fold in DECIMAL(38,0); each
    coefficient is ONE double division of two correctly-rounded exact
    determinants (the oracle bridges HUGEINT→DOUBLE through VARCHAR —
    DuckDB's direct wide-integer cast is 1-2 ulp off past 2^53, the
    SNIPPETS/verify-skill gotcha). Scale shape: one map-side-combined
    groupBy(source) plus a 1-row global aggregate; nothing else moves."""
    from etl_poc_spark.operators.curation import exact_ols_fit

    d = load_table(spark, sf_dir, "documents")
    obs = d.groupBy("source").agg(
        F.sum(F.size(F.split(F.trim(F.col("text")), r"\s+")))
        .cast("bigint")
        .alias("x"),
        F.sum(F.col("n_chars") % 97).cast("bigint").alias("y"),
    )
    return exact_ols_fit(obs, "x", "y")


@query(
    "epoch_training_manifest",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, source,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
               AS n_tokens
      FROM documents
    ), c AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM d GROUP BY source
    ), p(epoch) AS (VALUES (0), (1), (2)),
    r AS (
      SELECT p.epoch, c.source,
             CASE p.epoch
               WHEN 0 THEN CAST(1 AS DOUBLE)
               WHEN 1 THEN CAST(1 AS DOUBLE) / sqrt(CAST(n_docs AS DOUBLE))
               ELSE CAST(1 AS DOUBLE)
                    / ((sqrt(sqrt(CAST(n_docs AS DOUBLE)))
                        * sqrt(sqrt(CAST(n_docs AS DOUBLE))))
                       * sqrt(sqrt(CAST(n_docs AS DOUBLE))))
             END AS raw
      FROM c CROSS JOIN p
    ), rates AS (
      SELECT epoch, source, raw / MAX(raw) OVER (PARTITION BY epoch) AS rate
      FROM r
    ), kept AS (
      SELECT rates.epoch, d.doc_id, d.source, d.n_tokens
      FROM d JOIN rates ON rates.source = d.source
      WHERE (CAST(CAST('0x' || substr(md5('ep' || CAST(rates.epoch AS VARCHAR)
                 || CAST(d.doc_id AS VARCHAR)), 1, 13) AS BIGINT) AS DOUBLE)
             / 4503599627370496.0) < rates.rate
    ), ranked AS (
      SELECT epoch, doc_id, source, n_tokens,
             ROW_NUMBER() OVER (
               PARTITION BY epoch
               ORDER BY md5('shuffle' || CAST(epoch AS VARCHAR) || '|'
                            || CAST(doc_id AS VARCHAR))
             ) AS pos,
             SUM(n_tokens) OVER (
               PARTITION BY epoch
               ORDER BY md5('shuffle' || CAST(epoch AS VARCHAR) || '|'
                            || CAST(doc_id AS VARCHAR))
               ROWS UNBOUNDED PRECEDING
             ) AS cum_tokens
      FROM kept
    )
    SELECT epoch, CAST(pos AS BIGINT) AS pos, doc_id, source, n_tokens,
           CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM ranked WHERE pos <= 12 ORDER BY epoch, pos
    """,
)
def epoch_training_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-epoch training-order manifest — the artifact a training data
    loader actually consumes, composing three schedule operators into one
    frame: (1) a curriculum mixture anneal (curation.temperature_schedule
    over per-source doc counts, taus 1.0 → 0.5 → 0.25 across epochs 0-2),
    (2) deterministic sub-percent-faithful selection (curation.
    hash_uniform(doc_id, 'ep<e>') < rate — the 52-bit md5 uniform), and
    (3) the per-epoch reproducible global shuffle (curation.
    epoch_shuffle_key). Emits each epoch's first 12 manifest rows:
    (epoch, pos, doc_id, source, n_tokens, cum_tokens), cum_tokens being
    the running token budget in shuffle order — what a loader checkpoints
    against ("resume epoch 1 at 2.1B tokens").

    Hash-exact cross-engine by construction: rates are dyadic sqrt
    chains (no pow), the selection draw is the bit-exact 52-bit uniform,
    the order key is md5 text, and cum_tokens is an exact BIGINT running
    sum over that total order.

    Scale shape: ONE broadcast join of the ≤(sources × epochs) rate frame
    onto the corpus, a narrow filter, then one total-order sort per epoch
    — at 100 TB the loader range-partitions on the shuffle key and
    sortWithinPartitions (epoch_shuffle_order's contract); global rank +
    running budget materialize only in bounded probes like this one."""
    from etl_poc_spark.operators.curation import (
        epoch_shuffle_key,
        hash_uniform,
        temperature_schedule,
    )

    taus = [1.0, 0.5, 0.25]
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("bigint").alias(
            "n_tokens"
        ),
    )
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    rates = temperature_schedule(counts, "source", "n_docs", taus).select(
        F.col("phase").alias("epoch"), "source", "rate"
    )
    parts = [
        d.select(
            F.lit(e).alias("epoch"),
            "doc_id",
            "source",
            "n_tokens",
            hash_uniform(F.col("doc_id"), f"ep{e}").alias("__u"),
            epoch_shuffle_key(F.col("doc_id"), e).alias("__k"),
        )
        for e in range(len(taus))
    ]
    keyed = parts[0]
    for extra in parts[1:]:
        keyed = keyed.unionByName(extra)
    kept = keyed.join(F.broadcast(rates), ["epoch", "source"]).where(
        F.col("__u") < F.col("rate")
    )
    w = Window.partitionBy("epoch").orderBy("__k")
    cum = w.rowsBetween(Window.unboundedPreceding, 0)
    return (
        kept.select(
            "epoch",
            F.row_number().over(w).cast("bigint").alias("pos"),
            "doc_id",
            "source",
            "n_tokens",
            F.sum("n_tokens").over(cum).cast("bigint").alias("cum_tokens"),
        )
        .filter(F.col("pos") <= 12)
    )
