"""Exact substring-duplication coverage (Lee et al. 2021, "Deduplicating
Training Data Makes Language Models Better", arXiv:2107.06499 — the
ExactSubstr operation, re-expressed Spark-first).

The paper removes any 50-token span that appears verbatim elsewhere in
the corpus, found with a suffix array. A suffix array is a single global
sorted structure — exactly what a 1000-executor cluster should not build.
The distributed equivalent used here: hash every sliding w-token window
(w=8 for the sf-scale corpus; the operation is w-agnostic), find window
hashes shared across documents with one groupBy (the inverted index), and
measure each document's duplicated-span coverage as the interval union of
its shared windows — a lead() window per doc, exact integer arithmetic.

Scale shape: the window explode is hash-only rows (doc_id, start, 16-byte
md5) — the standard shingle blow-up, same class as minhash shingling;
bodies never re-cross the wire. The dup verdict is one groupBy(hash) with
map-side combine; coverage is one window shuffle on doc_id. No suffix
array, no global sort, no all-pairs.

Reference parity: the reference dedups nothing (its arXiv ingest skips
re-downloads by filename only — arxiv_hook.py); this is north-star
surface per the brief's dedup list.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_poc_spark.io import load_table
from etl_poc_spark.registry import query

_W = 8  # window length in tokens


@query(
    "duplicate_span_coverage",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '\\s+'), w -> w <> '') AS arr
      FROM documents
    ), w AS (
      SELECT doc_id, i AS start,
             md5(array_to_string(arr[i+1:i+{_W}], ' ')) AS h
      FROM d, LATERAL unnest(range(len(arr) - {_W - 1})) AS t(i)
      WHERE len(arr) >= {_W}
    ), dup AS (
      SELECT h FROM w GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
    ), c AS (
      SELECT w.doc_id, start,
             lead(start) OVER (PARTITION BY w.doc_id ORDER BY start) AS nxt
      FROM w JOIN dup USING (h)
    ), cov AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN nxt IS NULL OR nxt - start >= {_W} THEN {_W}
                           ELSE nxt - start END) AS BIGINT) AS covered_tokens
      FROM c GROUP BY doc_id
    )
    SELECT d.doc_id,
           len(d.arr) AS n_tokens,
           COALESCE(cov.covered_tokens, 0) AS covered_tokens,
           CASE WHEN len(d.arr) = 0 THEN 0.0
                ELSE CAST(COALESCE(cov.covered_tokens, 0) AS DOUBLE)
                     / CAST(len(d.arr) AS DOUBLE) END AS dup_coverage,
           COALESCE(cov.covered_tokens, 0) * 4 >= len(d.arr) AS heavy_dup
    FROM d LEFT JOIN cov USING (doc_id)
    """,
)
def duplicate_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document fraction of token positions inside a >=8-token span
    that appears verbatim in ANOTHER document. heavy_dup flags docs with
    >= 25% duplicated coverage (division-free: covered*4 >= n) — the
    candidates ExactSubstr dedup would cut.

    Interval-union arithmetic: duplicated window starts are sorted per
    doc; a window contributes min(W, next_start - start) tokens (the last
    one contributes W) — exact integers, so the coverage and flag are
    bit-stable across engines and partitionings."""
    from etl_poc_spark.operators.spandedup import span_coverage

    d = load_table(spark, sf_dir, "documents")
    cov = span_coverage(d, "doc_id", "text", window=_W)
    return cov.select(
        "doc_id",
        "n_tokens",
        "covered_tokens",
        "dup_coverage",
        (F.col("covered_tokens") * 4 >= F.col("n_tokens")).alias("heavy_dup"),
    )


@query(
    "doc_self_repetition",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\\s+'), w -> w <> '') AS arr
      FROM documents
    ), w AS (
      SELECT doc_id, md5(lower(array_to_string(arr[i+1:i+{_W}], ' '))) AS h
      FROM d, LATERAL unnest(range(len(arr) - {_W - 1})) AS t(i)
      WHERE len(arr) >= {_W}
    ), per_doc AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_windows,
             CAST(COUNT(DISTINCT h) AS BIGINT) AS n_distinct,
             CAST(MAX(c) AS BIGINT) AS max_multiplicity
      FROM (SELECT doc_id, h, COUNT(*) AS c FROM w GROUP BY doc_id, h)
      GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(p.n_windows, 0) AS n_windows,
           COALESCE(p.n_distinct, 0) AS n_distinct,
           COALESCE(p.max_multiplicity, 0) AS max_multiplicity,
           COALESCE(p.n_windows, 0) - COALESCE(p.n_distinct, 0) AS repeated_windows,
           (COALESCE(p.n_windows, 0) - COALESCE(p.n_distinct, 0)) * 5
             >= COALESCE(p.n_windows, 0) AND COALESCE(p.n_windows, 0) > 0
             AS self_repetitive
    FROM d LEFT JOIN per_doc p USING (doc_id)
    ORDER BY d.doc_id
    """,
)
def doc_self_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITHIN-document repetition profile (r15) — the intra-doc counterpart
    of duplicate_span_coverage's cross-doc rule, and the other half of
    Lee et al. 2021's observation (templated/spammy documents repeat their
    own spans; Gopher/MassiveText repetition filters gate on exactly this).
    Per document: sliding-window count, distinct-window count, the most
    repeated window's multiplicity, and a division-free >=20%%-repeated
    flag (repeated*5 >= total).

    Scale shape: one map-side groupBy(doc_id, hash) — windows of a doc
    colocate after one shuffle on doc_id; integers end-to-end →
    hash-exact."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.filter(
            F.split(F.trim(F.lower(F.col("text"))), "\\s+"), lambda w: w != ""
        ).alias("arr"),
    )
    wins = (
        toks.where(F.size("arr") >= _W)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, size(arr) - {_W}),"
                    f" i -> md5(concat_ws(' ', slice(arr, i + 1, {_W}))))"
                )
            ).alias("h"),
        )
    )
    per_doc = (
        wins.groupBy("doc_id", "h")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_windows"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.max("c").alias("max_multiplicity"),
        )
    )
    nw = F.coalesce(F.col("n_windows"), F.lit(0))
    nd = F.coalesce(F.col("n_distinct"), F.lit(0))
    return (
        d.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            nw.cast("long").alias("n_windows"),
            nd.cast("long").alias("n_distinct"),
            F.coalesce(F.col("max_multiplicity"), F.lit(0))
            .cast("long")
            .alias("max_multiplicity"),
            (nw - nd).cast("long").alias("repeated_windows"),
            (((nw - nd) * 5 >= nw) & (nw > 0)).alias("self_repetitive"),
        )
    )


def _span_intervals_sql(keep_first: bool) -> str:
    """The span-removal CTE chain over the documents table: d (tokens), w
    (window hashes), dup (hashes in >= 2 docs), fl/isl (island starts and
    ids of each doc's duplicated windows) and ivs (merged token intervals
    [s, e) to remove). With `keep_first` the smallest doc_id holding a
    hash keeps its copy."""
    first_id = ", MIN(doc_id) AS first_id" if keep_first else ""
    not_first = "\n      WHERE w.doc_id <> dup.first_id" if keep_first else ""
    return f"""
    WITH d AS (
      SELECT doc_id, source,
             list_filter(string_split_regex(trim(text), '\\s+'), w -> w <> '') AS arr
      FROM documents
    ), w AS (
      SELECT doc_id, i AS start,
             md5(lower(array_to_string(arr[i+1:i+{_W}], ' '))) AS h
      FROM d, LATERAL unnest(range(len(arr) - {_W - 1})) AS t(i)
      WHERE len(arr) >= {_W}
    ), dup AS (
      SELECT h{first_id} FROM w GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
    ), fl AS (
      SELECT w.doc_id, start,
             CASE WHEN lag(start) OVER (PARTITION BY w.doc_id ORDER BY start) IS NULL
                  THEN 1
                  WHEN start - lag(start) OVER (PARTITION BY w.doc_id ORDER BY start) > {_W}
                  THEN 1 ELSE 0 END AS ni
      FROM w JOIN dup USING (h){not_first}
    ), isl AS (
      SELECT doc_id, start, SUM(ni) OVER (PARTITION BY doc_id ORDER BY start) AS g
      FROM fl
    ), ivs AS (
      SELECT doc_id, g, MIN(start) AS s, MAX(start) + {_W} AS e
      FROM isl GROUP BY doc_id, g
    )"""


@query(
    "duplicate_span_removal_stats",
    oracle=_span_intervals_sql(keep_first=False)
    + """, toks AS (
      SELECT d.doc_id, t.i AS pos, d.arr[t.i + 1] AS tok
      FROM d, LATERAL unnest(range(len(d.arr))) AS t(i)
    ), kept AS (
      SELECT toks.doc_id, pos, tok
      FROM toks
      WHERE NOT EXISTS (
        SELECT 1 FROM ivs
        WHERE ivs.doc_id = toks.doc_id AND toks.pos >= ivs.s AND toks.pos < ivs.e)
    ), rb AS (
      SELECT d.doc_id, d.source, len(d.arr) AS n_tokens,
             COALESCE(r.n_removed, 0) AS removed_tokens,
             COALESCE(k.txt, '') AS dedup_text
      FROM d
      LEFT JOIN (SELECT doc_id, CAST(SUM(e - s) AS BIGINT) AS n_removed
                 FROM ivs GROUP BY doc_id) r USING (doc_id)
      LEFT JOIN (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS txt
                 FROM kept GROUP BY doc_id) k USING (doc_id)
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN removed_tokens > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_touched,
           CAST(SUM(n_tokens) AS BIGINT) AS tokens_total,
           CAST(SUM(removed_tokens) AS BIGINT) AS tokens_removed,
           CAST(SUM(length(dedup_text)) AS BIGINT) AS chars_kept,
           CAST(SUM(CAST('0x' || substr(md5(dedup_text), 1, 6) AS INTEGER)) AS BIGINT)
             AS text_checksum
    FROM rb
    GROUP BY source
    ORDER BY source
    """,
)
def duplicate_span_removal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr span REMOVAL, audited per source (spandedup.span_removal
    — the deduped corpus itself, r14 verdict ask #1): docs touched, tokens
    cut, surviving chars, and an md5-bucket checksum over every rebuilt
    text — so the oracle verifies the REWRITTEN BYTES, not just counts.

    Exactness: all counters are integers; the checksum is the engine-
    portable md5 hex-prefix bucket (operators/curation.py::hash_bucket
    convention) summed as BIGINT — no floats anywhere."""
    from etl_poc_spark.operators.spandedup import span_removal

    d = load_table(spark, sf_dir, "documents")
    out = span_removal(d, "doc_id", "text", window=_W)
    j = out.join(d.select("doc_id", "source"), "doc_id")
    return (
        j.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("removed_tokens") > 0).cast("long")).alias("docs_touched"),
            F.sum("n_tokens").alias("tokens_total"),
            F.sum("removed_tokens").alias("tokens_removed"),
            F.sum(F.length("dedup_text").cast("long")).alias("chars_kept"),
            F.sum(
                F.conv(F.substring(F.md5("dedup_text"), 1, 6), 16, 10).cast("long")
            ).alias("text_checksum"),
        )
    )


@query(
    "duplicate_span_removal_keep_first_stats",
    oracle=_span_intervals_sql(keep_first=True)
    + """, rb AS (
      SELECT d.doc_id, d.source, len(d.arr) AS n_tokens,
             COALESCE(r.n_removed, 0) AS removed_tokens
      FROM d
      LEFT JOIN (SELECT doc_id, CAST(SUM(e - s) AS BIGINT) AS n_removed
                 FROM ivs GROUP BY doc_id) r USING (doc_id)
    )
    SELECT source,
           CAST(SUM(CASE WHEN removed_tokens > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_touched,
           CAST(SUM(n_tokens) AS BIGINT) AS tokens_total,
           CAST(SUM(removed_tokens) AS BIGINT) AS tokens_removed
    FROM rb
    GROUP BY source
    ORDER BY source
    """,
)
def duplicate_span_removal_keep_first_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The remove-all-BUT-ONE ExactSubstr variant (span_removal
    keep_first=True): the copy in the smallest doc id keeps every
    duplicated span, every other holder gets it cut — so tokens_removed
    here is strictly below duplicate_span_removal_stats' remove-all
    number, and the min-id-holder exemption is what the oracle verifies
    (a remove-all implementation produces visibly different counts).
    Compact per-source counters; integers end-to-end → hash-exact."""
    from etl_poc_spark.operators.spandedup import span_removal

    d = load_table(spark, sf_dir, "documents")
    out = span_removal(d, "doc_id", "text", window=_W, keep_first=True)
    j = out.join(d.select("doc_id", "source"), "doc_id")
    return (
        j.groupBy("source")
        .agg(
            F.sum((F.col("removed_tokens") > 0).cast("long")).alias("docs_touched"),
            F.sum("n_tokens").alias("tokens_total"),
            F.sum("removed_tokens").alias("tokens_removed"),
        )
    )


@query(
    "eval_contamination_stats",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, source,
             list_filter(string_split_regex(trim(lower(text)), '\\s+'), w -> w <> '') AS arr
      FROM documents
    ), w AS (
      SELECT doc_id, source,
             md5(array_to_string(arr[i+1:i+{_W}], ' ')) AS h
      FROM d, LATERAL unnest(range(len(arr) - {_W - 1})) AS t(i)
      WHERE len(arr) >= {_W}
    ), ev AS (
      SELECT DISTINCT h FROM w WHERE doc_id % 50 = 0
    ), tr AS (
      SELECT * FROM w WHERE doc_id % 50 <> 0
    ), hits AS (
      SELECT tr.doc_id, tr.source, COUNT(*) AS windows_hit
      FROM tr JOIN ev USING (h)
      GROUP BY tr.doc_id, tr.source
    ), train_docs AS (
      SELECT source, COUNT(*) AS n_train
      FROM d WHERE doc_id % 50 <> 0 GROUP BY source
    )
    SELECT t.source,
           CAST(t.n_train AS BIGINT) AS n_train,
           CAST(COALESCE(c.n_contaminated, 0) AS BIGINT) AS n_contaminated,
           CAST(COALESCE(c.windows_hit, 0) AS BIGINT) AS windows_hit
    FROM train_docs t
    LEFT JOIN (SELECT source, COUNT(*) AS n_contaminated,
                      SUM(windows_hit) AS windows_hit
               FROM hits GROUP BY source) c USING (source)
    ORDER BY t.source
    """,
)
def eval_contamination_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark DECONTAMINATION audit (r15 — the GPT-3 appendix-C /
    PaLM/Llama release step): a training document is contaminated when it
    shares any verbatim >=8-token window with the held-out eval set
    (deterministically: doc_id%50==0 docs stand in for the benchmark).
    Output per source: train-doc count, contaminated-doc count, and total
    window hits — the report a lab publishes before claiming eval numbers.

    Scale shape: the eval window-hash set is tiny relative to the corpus
    (2%% of docs) and joins the train windows on the hash — a
    broadcast-class semi pattern; only (id, 16-byte md5) rows ever
    shuffle, never text. Integers end-to-end → hash-exact."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "source",
        F.filter(
            F.split(F.trim(F.lower(F.col("text"))), "\\s+"), lambda w: w != ""
        ).alias("arr"),
    )
    wins = (
        toks.where(F.size("arr") >= _W)
        .select(
            "doc_id",
            "source",
            F.explode(
                F.expr(
                    f"transform(sequence(0, size(arr) - {_W}),"
                    f" i -> md5(concat_ws(' ', slice(arr, i + 1, {_W}))))"
                )
            ).alias("h"),
        )
    )
    ev = wins.where(F.col("doc_id") % 50 == 0).select("h").distinct()
    tr = wins.where(F.col("doc_id") % 50 != 0)
    hits = (
        tr.join(ev, "h")
        .groupBy("doc_id", "source")
        .agg(F.count(F.lit(1)).alias("windows_hit"))
    )
    per_source_hits = hits.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_contaminated"),
        F.sum("windows_hit").alias("windows_hit"),
    )
    train_docs = (
        d.where(F.col("doc_id") % 50 != 0)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_train"))
    )
    return (
        train_docs.join(per_source_hits, "source", "left")
        .select(
            "source",
            F.col("n_train").cast("long").alias("n_train"),
            F.coalesce("n_contaminated", F.lit(0))
            .cast("long")
            .alias("n_contaminated"),
            F.coalesce("windows_hit", F.lit(0)).cast("long").alias("windows_hit"),
        )
    )
