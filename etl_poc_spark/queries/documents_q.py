"""Document-pipeline operator inventory (SURVEY.md §2.2/2.8/2.9) over the
`documents` table.

The reference's deterministic path (stub-LLM article generation -> rule-based
quality scoring L11 -> threshold partition P3 -> stats A2) is reproduced here
end-to-end. The "stub article" is a pure deterministic derivation from
`documents` (headline/subtitle/body/meta/pull-quote counts spread across every
scoring band, per FIXTURES.md §B4 synthesis guidance), expressed identically
in Spark Columns and in the DuckDB oracle CTE below.

Scoring determinism: integer milli-points with a single double division at
the end (see functions/scoring.py) — bit-identical across engines; the
pass/fail threshold compares 10*score_millis >= 7*maxs in integers so the
0.7 boundary is exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_poc_spark.functions.scoring import paper_validation_exprs
from etl_poc_spark.functions.text import extract_id, field_completeness, safe_filename, slugify, word_count
from etl_poc_spark.io import load_table
from etl_poc_spark.operators.chunker import chunk_by_tokens
from etl_poc_spark.operators.text_analysis import (
    STOPWORDS_EN,
    fingerprint,
    mean_token_len,
    n_tokens,
    predict_lang_expr,
    stopword_count_expr,
)
from etl_poc_spark.registry import query

# J1 literal dimension — single source of truth for every lookup variant
# (arxiv_hook.py:195-209's category_descriptions, adapted to the test
# corpus's source codes); oracles are generated from this constant so the
# copies cannot drift.
SOURCE_CATEGORIES: tuple[tuple[str, str], ...] = (
    ("src0", "Artificial Intelligence"),
    ("src1", "Computation and Language"),
    ("src2", "Computer Vision and Pattern Recognition"),
    ("src3", "Machine Learning"),
    ("src4", "Robotics"),
)

DIM_VALUES_SQL = ",\n                      ".join(f"('{k}', '{v}')" for k, v in SOURCE_CATEGORIES)

# ---------------------------------------------------------------------------
# Stub article derivation (shared between Spark and the oracle)
# ---------------------------------------------------------------------------

ARTICLES_CTE = """
    WITH articles AS (
      SELECT doc_id,
             substr(text, 1, CAST(doc_id % 80 AS INT)) AS headline,
             CASE WHEN doc_id % 7 = 0 THEN '' ELSE 'Insights from ' || source END AS subtitle,
             repeat(text || ' ', CAST(doc_id % 30 AS INT)) AS article_body,
             CASE WHEN doc_id % 11 = 0 THEN '' ELSE substr(text, 1, 150) END AS meta_description,
             CAST(doc_id % 4 AS INT) AS n_pull_quotes,
             CAST(doc_id % 5 AS INT) AS n_key_takeaways
      FROM documents
    )
"""

SCORED_CTE = ARTICLES_CTE + """
    , measured AS (
      SELECT *,
             length(headline) AS h_len,
             len(list_filter(string_split_regex(article_body, '\\s+'), w -> w <> '')) AS wc,
             (CASE WHEN trim(headline) <> '' THEN 1 ELSE 0 END
              + CASE WHEN trim(subtitle) <> '' THEN 1 ELSE 0 END
              + CASE WHEN trim(article_body) <> '' THEN 1 ELSE 0 END
              + CASE WHEN trim(meta_description) <> '' THEN 1 ELSE 0 END) AS req_filled
      FROM articles
    ), scored AS (
      SELECT doc_id, h_len, wc, n_pull_quotes, n_key_takeaways,
             (CASE WHEN h_len = 0 THEN 0 WHEN h_len BETWEEN 10 AND 60 THEN 200 ELSE 100 END
              + CASE WHEN wc BETWEEN 700 AND 1000 THEN 200
                     WHEN wc BETWEEN 500 AND 1200 THEN 150
                     WHEN wc > 200 THEN 100 ELSE 0 END
              + req_filled * 75
              + CASE WHEN n_pull_quotes >= 2 THEN 150 WHEN n_pull_quotes >= 1 THEN 100 ELSE 0 END
              + CASE WHEN n_key_takeaways >= 3 THEN 150 WHEN n_key_takeaways >= 1 THEN 100 ELSE 0 END
             ) AS score_millis,
             CASE WHEN h_len > 0 THEN 1000 ELSE 800 END AS maxs
      FROM measured
    )
"""


def _stub_articles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stub of the LLM article-generation stage (L3): every
    scoring band is exercised by construction. Pure Column exprs."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.expr("substr(text, 1, CAST(doc_id % 80 AS INT))").alias("headline"),
        F.when(F.col("doc_id") % 7 == 0, F.lit("")).otherwise(F.concat(F.lit("Insights from "), F.col("source"))).alias("subtitle"),
        F.expr("repeat(text || ' ', CAST(doc_id % 30 AS INT))").alias("article_body"),
        F.when(F.col("doc_id") % 11 == 0, F.lit("")).otherwise(F.substring(F.col("text"), 1, 150)).alias("meta_description"),
        (F.col("doc_id") % 4).cast("int").alias("n_pull_quotes"),
        (F.col("doc_id") % 5).cast("int").alias("n_key_takeaways"),
    )


def scored_articles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer score components + exact quality_score for the stub articles.

    Performance note: the article body is `repeat(text || ' ', n)`, so its
    word count is provably n * word_count(text) and its non-blankness is
    (n >= 1 AND word_count(text) > 0) — computed analytically here instead
    of materializing the repeated string and regex-splitting it (Catalyst
    re-expands shared sub-expressions per aggregate reference, which made
    the naive formulation ~50x slower). The DuckDB oracle computes the body
    honestly from `repeat`, cross-checking the identity on every row."""
    d = load_table(spark, sf_dir, "documents")
    n_rep = (F.col("doc_id") % 30).cast("int")
    wc_text = word_count(F.col("text"))
    headline = F.expr("substr(text, 1, CAST(doc_id % 80 AS INT))")
    h_len = F.length(headline)
    wc = n_rep * wc_text

    h_nonblank = F.when(F.trim(headline) != "", F.lit(1)).otherwise(F.lit(0))
    sub_nonblank = F.when(F.col("doc_id") % 7 != 0, F.lit(1)).otherwise(F.lit(0))
    body_nonblank = F.when((n_rep >= 1) & (wc_text > 0), F.lit(1)).otherwise(F.lit(0))
    meta_nonblank = F.when(
        (F.col("doc_id") % 11 != 0) & (F.trim(F.substring(F.col("text"), 1, 150)) != ""), F.lit(1)
    ).otherwise(F.lit(0))
    req = h_nonblank + sub_nonblank + body_nonblank + meta_nonblank

    n_pq = (F.col("doc_id") % 4).cast("int")
    n_kt = (F.col("doc_id") % 5).cast("int")
    score_millis = (
        F.when(h_len == 0, F.lit(0)).when(h_len.between(10, 60), F.lit(200)).otherwise(F.lit(100))
        + F.when(wc.between(700, 1000), F.lit(200)).when(wc.between(500, 1200), F.lit(150)).when(wc > 200, F.lit(100)).otherwise(F.lit(0))
        + req * 75
        + F.when(n_pq >= 2, F.lit(150)).when(n_pq >= 1, F.lit(100)).otherwise(F.lit(0))
        + F.when(n_kt >= 3, F.lit(150)).when(n_kt >= 1, F.lit(100)).otherwise(F.lit(0))
    )
    maxs = F.when(h_len > 0, F.lit(1000)).otherwise(F.lit(800))
    return d.select(
        "doc_id",
        h_len.alias("h_len"),
        wc.alias("wc"),
        n_pq.alias("n_pull_quotes"),
        n_kt.alias("n_key_takeaways"),
        score_millis.alias("score_millis"),
        maxs.alias("maxs"),
    )


# ---------------------------------------------------------------------------
# L11 flagship: quality scoring + threshold partition
# ---------------------------------------------------------------------------


@query(
    "doc_quality_score",
    oracle=SCORED_CTE + """
    SELECT doc_id, h_len, wc,
           CAST(score_millis AS DOUBLE) / CAST(maxs AS DOUBLE) AS quality_score,
           CASE WHEN 10 * score_millis >= 7 * maxs THEN 1 ELSE 0 END AS passed
    FROM scored
    """,
)
def doc_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship L11: rule-based article quality score + 0.7-threshold flag
    (zara_hybrid_etl.py:212-232). Pure narrow pipeline — no shuffle at all."""
    s = scored_articles(spark, sf_dir)
    return s.select(
        "doc_id",
        "h_len",
        "wc",
        (F.col("score_millis").cast("double") / F.col("maxs").cast("double")).alias("quality_score"),
        F.when(F.col("score_millis") * 10 >= F.col("maxs") * 7, F.lit(1)).otherwise(F.lit(0)).alias("passed"),
    )


@query(
    "quality_partition_stats",
    oracle=SCORED_CTE + """
    SELECT COUNT(*) AS total_articles,
           CAST(SUM(CASE WHEN 10 * score_millis >= 7 * maxs THEN 1 ELSE 0 END) AS BIGINT) AS passed_quality,
           CAST(SUM(CASE WHEN 10 * score_millis >= 7 * maxs THEN 0 ELSE 1 END) AS BIGINT) AS failed_quality,
           CAST(SUM(CASE WHEN 10 * score_millis >= 7 * maxs THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS pass_rate,
           CAST(SUM(CASE WHEN maxs = 800 THEN score_millis * 5 ELSE score_millis * 4 END) AS DOUBLE)
             / (4000.0 * COUNT(*)) AS avg_quality
    FROM scored
    """,
)
def quality_partition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 quality stats (zara_hybrid_etl.py:233-239). avg_quality is computed
    from exact integer quarter-milli units (score*4000/maxs is integral for
    both denominators), summed exactly, divided once — order-independent."""
    s = scored_articles(spark, sf_dir)
    passed = F.when(F.col("score_millis") * 10 >= F.col("maxs") * 7, F.lit(1)).otherwise(F.lit(0))
    qmillis = F.when(F.col("maxs") == 800, F.col("score_millis") * 5).otherwise(F.col("score_millis") * 4)
    return s.agg(
        F.count(F.lit(1)).alias("total_articles"),
        F.sum(passed).alias("passed_quality"),
        F.sum(F.lit(1) - passed).alias("failed_quality"),
        (F.sum(passed).cast("double") / F.count(F.lit(1))).alias("pass_rate"),
        (F.sum(qmillis).cast("double") / (F.lit(4000.0) * F.count(F.lit(1)))).alias("avg_quality"),
    )


@query(
    "paper_validation",
    oracle="""
    WITH papers AS (
      SELECT doc_id,
             substr(text, 1, CAST(doc_id % 250 AS INT)) AS title,
             repeat(text, CAST(doc_id % 12 AS INT)) AS summary,
             CAST(doc_id % 25 AS INT) AS n_authors,
             repeat(text, CAST(doc_id % 5 AS INT)) AS text_content
      FROM documents
    ), graded AS (
      SELECT doc_id,
             length(title) AS t_len, length(summary) AS s_len,
             n_authors, length(text_content) AS tc_len
      FROM papers
    ), scored AS (
      SELECT doc_id,
             (CASE WHEN t_len = 0 THEN 4 ELSE 0 END
              + CASE WHEN n_authors = 0 THEN 4 ELSE 0 END
              + CASE WHEN s_len = 0 THEN 4 ELSE 0 END
              + CASE WHEN t_len < 10 THEN 2 ELSE 0 END
              + CASE WHEN t_len > 200 THEN 1 ELSE 0 END
              + CASE WHEN s_len < 100 THEN 2 ELSE 0 END
              + CASE WHEN s_len > 5000 THEN 1 ELSE 0 END
              + CASE WHEN tc_len > 0 AND tc_len < 1000 THEN 4 ELSE 0 END
              + CASE WHEN tc_len > 100000 THEN 2 ELSE 0 END
              + CASE WHEN n_authors = 0 THEN 2 ELSE 0 END
              + CASE WHEN n_authors > 20 THEN 1 ELSE 0 END) AS deduction,
             t_len, s_len, n_authors, tc_len
      FROM graded
    )
    SELECT doc_id,
           CAST(CASE WHEN 20 - deduction > 0 THEN 20 - deduction ELSE 0 END AS DOUBLE) / 20.0 AS quality_score,
           concat_ws(', ',
             CASE WHEN t_len = 0 THEN 'Missing title' END,
             CASE WHEN n_authors = 0 THEN 'Missing authors' END,
             CASE WHEN s_len = 0 THEN 'Missing summary' END,
             CASE WHEN t_len < 10 THEN 'Title too short' END,
             CASE WHEN t_len > 200 THEN 'Title too long' END,
             CASE WHEN s_len < 100 THEN 'Abstract too short' END,
             CASE WHEN s_len > 5000 THEN 'Abstract too long' END,
             CASE WHEN tc_len > 0 AND tc_len < 1000 THEN 'Extracted text too short' END,
             CASE WHEN tc_len > 100000 THEN 'Extracted text very long (may affect processing)' END,
             CASE WHEN n_authors = 0 THEN 'No authors listed' END,
             CASE WHEN n_authors > 20 THEN 'Too many authors (may be collaboration paper)' END
           ) AS issues,
           CASE WHEN CAST(20 - deduction AS DOUBLE) / 20.0 > 0.5 THEN 1 ELSE 0 END AS is_suitable,
           concat_ws(', ',
             CASE WHEN t_len = 0 THEN 'Skip processing - title required for article generation' END,
             CASE WHEN tc_len > 0 AND tc_len < 1000 THEN 'Verify PDF quality and consider manual processing' END,
             CASE WHEN t_len > 200 THEN 'Truncate title for headline generation' END
           ) AS recommendations
    FROM scored
    """,
)
def paper_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L12 paper-quality validation (arxiv_hook.py:217-294) over stub papers
    derived from `documents` so every decrement branch is exercised."""
    d = load_table(spark, sf_dir, "documents")
    papers = d.select(
        "doc_id",
        F.expr("substr(text, 1, CAST(doc_id % 250 AS INT))").alias("title"),
        F.expr("repeat(text, CAST(doc_id % 12 AS INT))").alias("summary"),
        (F.col("doc_id") % 25).cast("int").alias("n_authors"),
        F.expr("repeat(text, CAST(doc_id % 5 AS INT))").alias("text_content"),
    )
    v = paper_validation_exprs(F.col("title"), F.col("summary"), F.col("n_authors"), F.col("text_content"))
    return papers.select(
        "doc_id",
        v["quality_score"].alias("quality_score"),
        v["issues"].alias("issues"),
        F.when(v["is_suitable_for_processing"], F.lit(1)).otherwise(F.lit(0)).alias("is_suitable"),
        v["recommendations"].alias("recommendations"),
    )


# ---------------------------------------------------------------------------
# Scalar-function operators (F1-F9)
# ---------------------------------------------------------------------------


@query(
    "slugify_docs",
    oracle="""
    SELECT doc_id,
           coalesce(nullif(trim(regexp_replace(regexp_replace(
             lower(substr(text, 1, CAST(doc_id % 50 AS INT)) || ' ' || source),
             '[^a-z0-9]+', '-', 'g'), '-{2,}', '-', 'g'), '-'), ''), 'untitled') AS slug
    FROM documents
    """,
)
def slugify_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 slugify (zara_hybrid_etl.py:77-80) over a varying-length prefix so
    the empty->'untitled' default fires (doc_id % 50 == 0 rows still get
    ' ' || source)."""
    d = load_table(spark, sf_dir, "documents")
    raw = F.expr("substr(text, 1, CAST(doc_id % 50 AS INT))")
    return d.select("doc_id", slugify(F.concat(raw, F.lit(" "), F.col("source"))).alias("slug"))


@query(
    "safe_filename_docs",
    oracle="""
    SELECT doc_id,
           replace(regexp_replace(substr(source || ' ' || text, 1, 50), '[^A-Za-z0-9 _-]', '', 'g'), ' ', '_') AS fname
    FROM documents
    """,
)
def safe_filename_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 safe filename (arxiv_hook.py:115-122)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", safe_filename(F.concat(F.col("source"), F.lit(" "), F.col("text"))).alias("fname"))


@query(
    "extract_id_docs",
    oracle="""
    SELECT doc_id,
           string_split('http://arxiv.org/abs/' || source || '/' || CAST(doc_id AS VARCHAR), '/')[-1] AS arxiv_id
    FROM documents
    """,
)
def extract_id_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7 id extraction: entry_id.split('/')[-1] (arxiv_hook.py:81)."""
    d = load_table(spark, sf_dir, "documents")
    entry = F.concat(F.lit("http://arxiv.org/abs/"), F.col("source"), F.lit("/"), F.col("doc_id").cast("string"))
    return d.select("doc_id", extract_id(entry).alias("arxiv_id"))


@query(
    "word_count_bands",
    oracle="""
    WITH t AS (
      SELECT doc_id, len(list_filter(string_split_regex(text, '\\s+'), w -> w <> '')) AS wc FROM documents
    )
    SELECT doc_id, wc,
           CASE WHEN wc BETWEEN 700 AND 1000 THEN 'full'
                WHEN wc BETWEEN 500 AND 1200 THEN 'partial'
                WHEN wc > 200 THEN 'minimal'
                ELSE 'below' END AS band
    FROM t
    """,
)
def word_count_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5/F6 word count + banding (zara_hybrid_etl.py:214-217)."""
    d = load_table(spark, sf_dir, "documents")
    wc = word_count(F.col("text"))
    band = (
        F.when(wc.between(700, 1000), F.lit("full"))
        .when(wc.between(500, 1200), F.lit("partial"))
        .when(wc > 200, F.lit("minimal"))
        .otherwise(F.lit("below"))
    )
    return d.select("doc_id", wc.alias("wc"), band.alias("band"))


@query(
    "field_completeness_docs",
    oracle=ARTICLES_CTE + """
    SELECT doc_id,
           CAST((CASE WHEN trim(headline) <> '' THEN 1 ELSE 0 END
               + CASE WHEN trim(subtitle) <> '' THEN 1 ELSE 0 END
               + CASE WHEN trim(article_body) <> '' THEN 1 ELSE 0 END
               + CASE WHEN trim(meta_description) <> '' THEN 1 ELSE 0 END) AS DOUBLE) / 4.0 AS completeness
    FROM articles
    """,
)
def field_completeness_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 field-completeness ratio (zara_hybrid_etl.py:218-219)."""
    a = _stub_articles(spark, sf_dir)
    return a.select(
        "doc_id",
        field_completeness(F.col("headline"), F.col("subtitle"), F.col("article_body"), F.col("meta_description")).alias("completeness"),
    )


@query(
    "dim_lookup",
    oracle=f"""
    SELECT d.doc_id,
           coalesce(m.description, 'Category: ' || d.source) AS category_description
    FROM documents d
    LEFT JOIN (VALUES {DIM_VALUES_SQL}) AS m(code, description)
      ON d.source = m.code
    """,
)
def dim_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 static dimension lookup with fallback (arxiv_hook.py:184-215):
    broadcast left join against a literal dim + coalesce default."""
    d = load_table(spark, sf_dir, "documents")
    dim = spark.createDataFrame(list(SOURCE_CATEGORIES), ["code", "description"])
    return (
        d.join(F.broadcast(dim), d.source == dim.code, "left")
        .select(
            "doc_id",
            F.coalesce(F.col("description"), F.concat(F.lit("Category: "), F.col("source"))).alias("category_description"),
        )
    )


@query(
    "union_by_lang",
    oracle="""
    SELECT 'latin' AS bucket, doc_id, lang FROM documents WHERE lang IN ('en', 'de', 'fr', 'es')
    UNION ALL
    SELECT 'cjk' AS bucket, doc_id, lang FROM documents WHERE lang = 'zh'
    """,
)
def union_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 union-all across category scans (zara_hybrid_etl.py:138-147)."""
    d = load_table(spark, sf_dir, "documents")
    latin = d.filter(F.col("lang").isin("en", "de", "fr", "es")).select(F.lit("latin").alias("bucket"), "doc_id", "lang")
    cjk = d.filter(F.col("lang") == "zh").select(F.lit("cjk").alias("bucket"), "doc_id", "lang")
    return latin.unionByName(cjk)


# ---------------------------------------------------------------------------
# Text analysis + chunking (north-star extensions)
# ---------------------------------------------------------------------------


@query(
    "token_stats",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang,
             len(list_filter(string_split_regex(text, '\\s+'), w -> w <> '')) AS n_tok,
             length(regexp_replace(text, '\\s+', '', 'g')) AS n_chars_nospace,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(list_filter(string_split_regex(trim(text), '\\s+'),
                                       w -> list_contains(['the', 'a', 'of', 'and', 'in', 'to', 'is'], lower(w)))) END AS n_stop
      FROM documents
    )
    SELECT doc_id, lang, n_tok,
           CASE WHEN n_tok = 0 THEN 0.0 ELSE CAST(n_chars_nospace AS DOUBLE) / n_tok END AS mean_tok_len,
           CASE WHEN n_tok = 0 THEN 0.0 ELSE CAST(n_stop AS DOUBLE) / n_tok END AS stopword_ratio,
           CASE WHEN n_tok BETWEEN 20 AND 2000 THEN 1 ELSE 0 END AS quality_keep
    FROM t
    """,
)
def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-analysis quality signals: token count, mean token length,
    stopword ratio, keep flag. Single narrow pass, no shuffle."""
    d = load_table(spark, sf_dir, "documents")
    nt = n_tokens(F.col("text"))
    nstop = stopword_count_expr("text", STOPWORDS_EN)
    return d.select(
        "doc_id",
        "lang",
        nt.alias("n_tok"),
        mean_token_len(F.col("text")).alias("mean_tok_len"),
        F.when(nt == 0, F.lit(0.0)).otherwise(nstop.cast("double") / nt.cast("double")).alias("stopword_ratio"),
        F.when(nt.between(20, 2000), F.lit(1)).otherwise(F.lit(0)).alias("quality_keep"),
    )


@query(
    "doc_fingerprint",
    oracle="""
    SELECT doc_id,
           substr(md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')), 1, 16) AS fp
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 prefix of normalized text — the exact
    dedup key for normalized content."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint(F.col("text")).alias("fp"))


@query(
    "predict_language",
    oracle="""
    WITH counted AS (
      SELECT doc_id, lang,
             CASE WHEN trim(text) = '' THEN 0 ELSE len(list_filter(string_split_regex(trim(text), '\\s+'),
                  w -> list_contains(['the', 'and', 'of'], lower(w)))) END AS c_en,
             CASE WHEN trim(text) = '' THEN 0 ELSE len(list_filter(string_split_regex(trim(text), '\\s+'),
                  w -> list_contains(['der', 'und', 'die'], lower(w)))) END AS c_de,
             CASE WHEN trim(text) = '' THEN 0 ELSE len(list_filter(string_split_regex(trim(text), '\\s+'),
                  w -> list_contains(['le', 'et', 'les'], lower(w)))) END AS c_fr,
             CASE WHEN trim(text) = '' THEN 0 ELSE len(list_filter(string_split_regex(trim(text), '\\s+'),
                  w -> list_contains(['el', 'y', 'los'], lower(w)))) END AS c_es
      FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN c_en >= c_de AND c_en >= c_fr AND c_en >= c_es AND c_en > 0 THEN 'en'
                WHEN c_de >= c_fr AND c_de >= c_es AND c_de > 0 THEN 'de'
                WHEN c_fr >= c_es AND c_fr > 0 THEN 'fr'
                WHEN c_es > 0 THEN 'es'
                ELSE 'unknown' END AS pred_lang,
           CASE WHEN (CASE WHEN c_en >= c_de AND c_en >= c_fr AND c_en >= c_es AND c_en > 0 THEN 'en'
                WHEN c_de >= c_fr AND c_de >= c_es AND c_de > 0 THEN 'de'
                WHEN c_fr >= c_es AND c_fr > 0 THEN 'fr'
                WHEN c_es > 0 THEN 'es'
                ELSE 'unknown' END) = lang THEN 1 ELSE 0 END AS correct
    FROM counted
    """,
)
def predict_language(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (stopword markers) + accuracy against the label."""
    d = load_table(spark, sf_dir, "documents")
    pred = predict_lang_expr("text")
    return d.select(
        "doc_id",
        "lang",
        pred.alias("pred_lang"),
        F.when(pred == F.col("lang"), F.lit(1)).otherwise(F.lit(0)).alias("correct"),
    )


@query(
    "chunk_documents",
    oracle="""
    WITH w AS (
      SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS words,
             len(list_filter(string_split_regex(text, '\\s+'), w -> w <> '')) AS n
      FROM documents
    ), starts AS (
      SELECT doc_id, words, n, unnest(range(0, n, 30)) AS start
      FROM w WHERE n > 0
    )
    SELECT doc_id,
           CAST(start / 30 AS INT) AS chunk_id,
           array_to_string(list_slice(words, start + 1, start + 40), ' ') AS chunk_text,
           CASE WHEN n - start < 40 THEN n - start ELSE 40 END AS chunk_n_tokens
    FROM starts
    """,
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1 split op: 40-token chunks, 10-token overlap (reference chunk_size
    3000 / overlap 300 at paper_extraction.yaml:22-23, scaled to the test
    corpus). Fan-out is a codegen'd posexplode — no UDF, no shuffle."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    chunks = chunk_by_tokens(d, text_col="text", chunk_size=40, chunk_overlap=10)
    return chunks.select("doc_id", "chunk_id", "chunk_text", "chunk_n_tokens")


# confusion matrix over the language-ID heuristic: compose the
# predict_language oracle as a CTE so the two stay in lockstep
from etl_poc_spark.registry import ORACLES as _ORACLES  # noqa: E402

_PL_ORACLE = _ORACLES["predict_language"]


@query(
    "language_confusion",
    oracle=f"""
    WITH pl AS ({_PL_ORACLE})
    SELECT lang, pred_lang, COUNT(*) AS n,
           CAST(COUNT(*) AS DOUBLE)
             / CAST(SUM(COUNT(*)) OVER (PARTITION BY lang) AS DOUBLE) AS recall_share
    FROM pl
    GROUP BY lang, pred_lang
    """,
)
def language_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the language-ID heuristic against the gold
    label — the model-eval companion to predict_language (per true
    language: how its documents distribute over predicted languages).
    One groupBy plus a per-true-lang window over the ~25-cell matrix;
    recall_share is one double division of exact counts."""
    from pyspark.sql import Window

    pl = predict_language(spark, sf_dir)
    cells = pl.groupBy("lang", "pred_lang").agg(F.count(F.lit(1)).alias("n"))
    total = F.sum("n").over(Window.partitionBy("lang"))
    return cells.select(
        "lang",
        "pred_lang",
        "n",
        (F.col("n").cast("double") / total.cast("double")).alias("recall_share"),
    )


@query(
    "quality_threshold_sweep",
    oracle=SCORED_CTE + """
    , tiers AS (
      SELECT LEAST((10 * score_millis) // maxs, 10) AS tier, wc FROM scored
    ), th AS (SELECT unnest(range(0, 11)) AS t)
    SELECT CAST(th.t AS INT) AS threshold_tenths,
           CAST(COUNT(tiers.tier) AS BIGINT) AS n_kept,
           CAST(COALESCE(SUM(tiers.wc), 0) AS BIGINT) AS wc_kept,
           CAST(COUNT(tiers.tier) AS DOUBLE)
             / (SELECT COUNT(*) FROM scored) AS keep_rate
    FROM th LEFT JOIN tiers ON tiers.tier >= th.t
    GROUP BY th.t
    """,
)
def quality_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-calibration sweep over the L11 quality score: for every
    threshold t/10 report how many documents (and how much word mass) a
    score >= t/10 filter keeps — the curve a pipeline owner reads before
    choosing a quality cutoff (the FineWeb-Edu-style 'pick the threshold
    from the keep-rate/quality trade-off' step). ONE corpus scan: docs
    histogram into integer score tiers (floor(10*score/maxs), exact `div`
    arithmetic), and the 11-threshold sweep is a bounded non-equi join
    over the <=11-row histogram — never a re-scan per threshold.
    keep_rate is one exact int/int double division."""
    s = scored_articles(spark, sf_dir)
    tiers = s.select(
        F.least(F.expr("(10 * score_millis) div maxs"), F.lit(10)).alias("tier"),
        "wc",
    )
    hist = tiers.groupBy("tier").agg(
        F.count(F.lit(1)).alias("__n"), F.sum("wc").alias("__wc")
    )
    th = spark.range(0, 11).select(F.col("id").cast("int").alias("threshold_tenths"))
    joined = th.join(hist, hist["tier"] >= th["threshold_tenths"], "left")
    from pyspark.sql import Window

    w_all = Window.partitionBy(F.lit(0)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    agg = joined.groupBy("threshold_tenths").agg(
        F.coalesce(F.sum("__n"), F.lit(0)).cast("bigint").alias("n_kept"),
        F.coalesce(F.sum("__wc"), F.lit(0)).cast("bigint").alias("wc_kept"),
    )
    return agg.select(
        "threshold_tenths",
        "n_kept",
        "wc_kept",
        (
            F.col("n_kept").cast("double")
            / F.max("n_kept").over(w_all).cast("double")
        ).alias("keep_rate"),
    )


@query(
    "ngram_diversity_by_source",
    oracle="""
    WITH w AS (
      SELECT source, string_split_regex(trim(text), '\\s+') AS words
      FROM documents
    ), uni AS (
      SELECT source, unnest(words) AS tok FROM w
    ), bi AS (
      SELECT source, words[i + 1] || ' ' || words[i + 2] AS bg
      FROM (SELECT source, words, unnest(range(0, len(words) - 1)) AS i FROM w)
    ), u AS (
      SELECT source, COUNT(*) AS n_words,
             COUNT(DISTINCT tok) AS distinct_words
      FROM uni GROUP BY source
    ), b AS (
      SELECT source, COUNT(*) AS n_bigrams,
             COUNT(DISTINCT bg) AS distinct_bigrams
      FROM bi GROUP BY source
    )
    SELECT u.source,
           CAST(u.n_words AS BIGINT) AS n_words,
           CAST(u.distinct_words AS BIGINT) AS distinct_words,
           CAST(u.distinct_words AS DOUBLE) / u.n_words AS ttr,
           CAST(b.n_bigrams AS BIGINT) AS n_bigrams,
           CAST(b.distinct_bigrams AS BIGINT) AS distinct_bigrams,
           CAST(b.distinct_bigrams AS DOUBLE) / b.n_bigrams AS bigram_ttr
    FROM u JOIN b USING (source)
    """,
)
def ngram_diversity_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-diversity dashboard per source: type-token ratio at the
    word and bigram level — the templated/spammy-source detector (a
    boilerplate farm has high volume but collapsing distinct-n-gram
    ratios; Self-BLEU-style diversity screens in curation pipelines read
    exactly these numbers). Exact integer counts; each ratio is one
    int/int double division — hash-exact.

    Scale shape: two explode → two-level groupBy((source, gram) →
    source) passes — map-side partial aggregation bounds the wire at
    distinct grams per source, the token_stats class. No windows, no
    joins except the final ≤k-source merge."""
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.trim(F.col("text")), r"\s+")
    uni = d.select("source", F.explode(words).alias("tok"))
    u = uni.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_words"),
        F.countDistinct("tok").cast("bigint").alias("distinct_words"),
    )
    # zip_with needs the words array bound as a column first
    bi = (
        d.select("source", words.alias("__w"))
        .filter(F.size("__w") >= 2)
        .select(
            "source",
            F.explode(
                F.expr(
                    "zip_with(slice(__w, 1, size(__w) - 1), slice(__w, 2, size(__w) - 1),"
                    " (x, y) -> concat(x, ' ', y))"
                )
            ).alias("bg"),
        )
    )
    b = bi.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        F.countDistinct("bg").cast("bigint").alias("distinct_bigrams"),
    )
    return u.join(b, "source").select(
        "source",
        "n_words",
        "distinct_words",
        (F.col("distinct_words").cast("double") / F.col("n_words").cast("double")).alias("ttr"),
        "n_bigrams",
        "distinct_bigrams",
        (
            F.col("distinct_bigrams").cast("double")
            / F.col("n_bigrams").cast("double")
        ).alias("bigram_ttr"),
    )
