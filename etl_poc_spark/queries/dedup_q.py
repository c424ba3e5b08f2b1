"""Deduplication queries (north-star extensions, SURVEY.md §7 phase 5).

The driver corpus has no natural duplicates, so each query deterministically
constructs a duplicated corpus inside the query itself (documents UNION ALL a
perturbed subset shifted to doc_id + 100000) — both engines build the same
corpus, and the dedup operators then have real work to do whose output is
oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_poc_spark.io import load_table
from etl_poc_spark.operators.dedup import (
    exact_dedup,
    lsh_candidate_pairs,
    minhash_signatures,
    shingle_docs,
    shingle_sets,
    verify_jaccard,
)
from etl_poc_spark.operators.pins import pin
from etl_poc_spark.registry import query

# corpus with exact duplicates: every doc_id % 5 == 0 doc appears twice
DUP_CORPUS_CTE = """
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
    )
"""

# corpus with near-duplicates: doc_id % 10 == 0 docs reappear with the first
# word dropped (jaccard over 3-gram shingles ~ (n-1)/n, well above 0.8)
NEAR_DUP_CORPUS_CTE = """
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000 AS doc_id,
             array_to_string(list_slice(string_split_regex(trim(text), '\\s+'), 2,
                             len(string_split_regex(trim(text), '\\s+'))), ' ') AS text
      FROM documents
      WHERE doc_id % 10 = 0
        AND len(string_split_regex(trim(text), '\\s+')) >= 5
    )
"""


def _dup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dups = d.filter(F.col("doc_id") % 5 == 0).select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    return d.unionByName(dups)


def _near_dup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    words = F.split(F.trim(F.col("text")), r"\s+")
    perturbed = (
        d.filter((F.col("doc_id") % 10 == 0) & (F.size(F.split(F.trim(F.col("text")), r"\s+")) >= 5))
        .select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat_ws(" ", F.slice(words, 2, F.size(words) - 1)).alias("text"),
        )
    )
    return d.unionByName(perturbed)


@query(
    "exact_dedup_groups",
    oracle=DUP_CORPUS_CTE + """
    SELECT md5(text) AS text_hash, MIN(doc_id) AS min_doc_id, COUNT(*) AS n_copies
    FROM corpus
    GROUP BY md5(text)
    HAVING COUNT(*) > 1
    """,
)
def exact_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content-hash groupBy: one shuffle on the 128-bit hash
    (not the full text — at 100 TB you never shuffle document bodies)."""
    corpus = _dup_corpus(spark, sf_dir).select(F.md5(F.col("text")).alias("text_hash"), "doc_id")
    return exact_dedup(corpus, ["text_hash"], "doc_id").filter(F.col("n_copies") > 1)


@query(
    "exact_dedup_stats",
    oracle=DUP_CORPUS_CTE + """
    SELECT COUNT(*) AS total_docs,
           COUNT(DISTINCT md5(text)) AS distinct_docs,
           COUNT(*) - COUNT(DISTINCT md5(text)) AS n_duplicates
    FROM corpus
    """,
)
def exact_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup summary stats: total vs distinct content hashes."""
    corpus = _dup_corpus(spark, sf_dir)
    h = F.md5(F.col("text"))
    return corpus.agg(
        F.count(F.lit(1)).alias("total_docs"),
        F.countDistinct(h).alias("distinct_docs"),
        (F.count(F.lit(1)) - F.countDistinct(h)).alias("n_duplicates"),
    )


# the MinHash(8)+LSH(4x2)+exact-verify pipeline over a CTE named `corpus`
# — shared by minhash_lsh_pairs (byte-identical oracle to pre-r15) and the
# quality-retention composition near_dup_keep_best
MINHASH_PIPE_SQL = """
    , w AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words FROM corpus
      WHERE len(string_split_regex(trim(text), '\\s+')) >= 3
    ), sh AS (
      SELECT DISTINCT doc_id,
             words[i + 1] || ' ' || words[i + 2] || ' ' || words[i + 3] AS shingle
      FROM (SELECT doc_id, words, unnest(range(0, len(words) - 2)) AS i FROM w)
    ), mh AS (
      SELECT doc_id, seed, MIN(md5(CAST(seed AS VARCHAR) || '|' || shingle)) AS minhash
      FROM sh CROSS JOIN (SELECT unnest(range(8)) AS seed) seeds
      GROUP BY doc_id, seed
    ), banded AS (
      SELECT doc_id, CAST(seed // 2 AS INT) AS band,
             string_agg(CAST(seed AS VARCHAR) || ':' || minhash, ''
                        ORDER BY CAST(seed AS VARCHAR) || ':' || minhash) AS band_val
      FROM mh GROUP BY doc_id, CAST(seed // 2 AS INT)
    ), ok_buckets AS (
      SELECT band, band_val FROM banded GROUP BY band, band_val HAVING COUNT(*) <= 50
    ), banded_ok AS (
      SELECT banded.* FROM banded JOIN ok_buckets USING (band, band_val)
    ), pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded_ok a JOIN banded_ok b
        ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT p.id_a, p.id_b, COUNT(*) AS n_inter
      FROM pairs p
      JOIN sh a ON a.doc_id = p.id_a
      JOIN sh b ON b.doc_id = p.id_b AND b.shingle = a.shingle
      GROUP BY p.id_a, p.id_b
    )
    SELECT i.id_a, i.id_b,
           CAST(i.n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.id_a
    JOIN sizes sb ON sb.doc_id = i.id_b
    WHERE i.n_inter * 1000 >= 800 * (sa.n_sh + sb.n_sh - i.n_inter)
    """


@query(
    "minhash_lsh_pairs",
    oracle=NEAR_DUP_CORPUS_CTE + MINHASH_PIPE_SQL,
)
def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(8)+LSH(4 bands x 2 rows) near-dup pairs at jaccard >= 0.8,
    verified exactly on candidates. The bucket self-join keeps the pair
    space linear in bucket occupancy — the standard web-scale dedup shape —
    and buckets over 50 members are dropped before the self-join (mirrored
    in the oracle), so a degenerate band value cannot turn it quadratic.
    (Production hash_mode='xxhash64' variant benched separately.)"""
    corpus = _near_dup_corpus(spark, sf_dir)
    # the per-document shingle sets feed two plan branches (signatures /
    # verify); persist so the shingling runs once — at cluster scale this
    # would be a checkpointed parquet stage table
    sets = pin(shingle_sets(corpus, "doc_id", "text", shingle_words=3))
    sig = minhash_signatures(sets, "doc_id", n_hashes=8, hash_mode="md5")
    pairs = lsh_candidate_pairs(sig, "doc_id", rows_per_band=2, max_bucket_size=50)
    return verify_jaccard(sets, pairs, "doc_id", threshold=0.8)


@query(
    "ngram_jaccard_pairs",
    oracle=NEAR_DUP_CORPUS_CTE + """
    , w AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words FROM corpus
      WHERE len(string_split_regex(trim(text), '\\s+')) >= 5
    ), sh AS (
      SELECT DISTINCT doc_id,
             words[i + 1] || ' ' || words[i + 2] || ' ' || words[i + 3] || ' ' || words[i + 4] || ' ' || words[i + 5] AS shingle
      FROM (SELECT doc_id, words, unnest(range(0, len(words) - 4)) AS i FROM w)
    ), rare AS (
      SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 50
    ), sh2 AS (
      SELECT sh.* FROM sh JOIN rare USING (shingle)
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n_sh FROM sh2 GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
      FROM sh2 a JOIN sh2 b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT i.id_a, i.id_b,
           CAST(i.n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.id_a
    JOIN sizes sb ON sb.doc_id = i.id_b
    WHERE i.n_inter * 1000 >= 500 * (sa.n_sh + sb.n_sh - i.n_inter)
    """,
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs word-5-gram jaccard at >= 0.5 via an inverted shingle index
    (shingle equi-join), not an O(n^2) cross join: only docs sharing a
    shingle ever meet. 5-gram shingles keep the index selective, and
    stop-shingles appearing in more than 50 documents are dropped from the
    index (mirrored in the oracle): a boilerplate shingle shared by m docs
    would alone contribute m*(m-1)/2 joined rows, so the DF cap bounds the
    inverted-index fan-out at corpus scale. Jaccard is computed over the
    capped shingle space (sizes and intersections consistently)."""
    corpus = _near_dup_corpus(spark, sf_dir)
    sh_all = shingle_docs(corpus, "doc_id", "text", shingle_words=5)
    # r16 optimization (guide §2.4, the span_coverage shape): the DF cap is
    # one count over the shingle window partition instead of groupBy + a
    # semi-join back — the shingle explode used to execute once per join
    # side before the pin could even materialize; now it runs once.
    # keep __df on the pinned index: `sizes` must count the FULL capped
    # shingle space (the jaccard denominators), but the self-join sides
    # below additionally drop document-frequency-1 shingles — a shingle
    # held by one doc can't intersect, so `inter` is provably unchanged
    # while both join inputs shrink by the unique-shingle majority
    # (r17, guide §3.2 reduce-before-shuffle).
    sh = pin(
        sh_all.withColumn(
            "__df", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
        )
        .filter(F.col("__df") <= 50)
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    shared = sh.filter(F.col("__df") >= 2)
    a = shared.select(F.col("doc_id").alias("id_a"), "shingle")
    b = shared.select(F.col("doc_id").alias("id_b"), "shingle")
    inter = (
        a.join(b, ["shingle"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("n_a")), "id_a")
        .join(sizes.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("n_b")), "id_b")
        .withColumn("n_union", F.col("n_a") + F.col("n_b") - F.col("n_inter"))
        .filter(F.col("n_inter") * 1000 >= 500 * F.col("n_union"))
        .select("id_a", "id_b", (F.col("n_inter").cast("double") / F.col("n_union").cast("double")).alias("jaccard"))
    )


@query(
    "ngram_containment_pairs",
    oracle=NEAR_DUP_CORPUS_CTE + """
    , w AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words FROM corpus
      WHERE len(string_split_regex(trim(text), '\\s+')) >= 5
    ), sh AS (
      SELECT DISTINCT doc_id,
             words[i + 1] || ' ' || words[i + 2] || ' ' || words[i + 3] || ' ' || words[i + 4] || ' ' || words[i + 5] AS shingle
      FROM (SELECT doc_id, words, unnest(range(0, len(words) - 4)) AS i FROM w)
    ), rare AS (
      SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 50
    ), sh2 AS (
      SELECT sh.* FROM sh JOIN rare USING (shingle)
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n_sh FROM sh2 GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
      FROM sh2 a JOIN sh2 b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT i.id_a, i.id_b,
           CAST(i.n_inter AS DOUBLE) / CAST(LEAST(sa.n_sh, sb.n_sh) AS DOUBLE)
             AS containment
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.id_a
    JOIN sizes sb ON sb.doc_id = i.id_b
    WHERE i.n_inter * 10 >= 9 * LEAST(sa.n_sh, sb.n_sh)
    """,
)
def ngram_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle CONTAINMENT dedup (Broder's containment, the doc-in-doc
    signal symmetric Jaccard under-scores: a short doc fully embedded in
    a long one has Jaccard |A|/|B| but containment 1.0): pairs where
    |A∩B| / min(|A|,|B|) >= 0.9 over the same DF-capped inverted shingle
    index as ngram_jaccard_pairs — only docs sharing a rare shingle ever
    meet, never an O(n^2) cross join, and the 0.9 gate is an integer
    comparison (no float boundary). On the near-dup corpus the
    drop-first-word perturbations are exact subsets: containment pins at
    1.0 where their Jaccard is (n-5)/(n-4)."""
    corpus = _near_dup_corpus(spark, sf_dir)
    sh_all = shingle_docs(corpus, "doc_id", "text", shingle_words=5)
    # r16: same window-partition DF cap as ngram_jaccard_pairs — one
    # shingle-explode pass instead of one per semi-join side (guide §2.4).
    # same split as ngram_jaccard_pairs (r17): sizes read the full capped
    # index; the self-join sides drop DF-1 shingles (no possible pair)
    sh = pin(
        sh_all.withColumn(
            "__df", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
        )
        .filter(F.col("__df") <= 50)
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    shared = sh.filter(F.col("__df") >= 2)
    a = shared.select(F.col("doc_id").alias("id_a"), "shingle")
    b = shared.select(F.col("doc_id").alias("id_b"), "shingle")
    inter = (
        a.join(b, ["shingle"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    least = F.least(F.col("n_a"), F.col("n_b"))
    return (
        inter.join(sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("n_a")), "id_a")
        .join(sizes.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("n_b")), "id_b")
        .filter(F.col("n_inter") * 10 >= 9 * least)
        .select(
            "id_a", "id_b",
            (F.col("n_inter").cast("double") / least.cast("double")).alias("containment"),
        )
    )


from etl_poc_spark.registry import ORACLES as _ORACLES


@query(
    "near_dup_dedup_groups",
    oracle="WITH RECURSIVE pairs_q AS (" + _ORACLES["minhash_lsh_pairs"] + """
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs_q
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs_q
    ), nodes AS (
      SELECT DISTINCT src AS id FROM edges
    ), reach(id, r) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r
    ), comp AS (
      SELECT id, MIN(r) AS component FROM reach GROUP BY id
    )
    SELECT component, MIN(id) AS representative, COUNT(*) AS n_members
    FROM comp GROUP BY component
    """,
)
def near_dup_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE near-dedup pipeline: MinHash-LSH pairs -> connected
    components (iterative min-label propagation, one shuffle per pass,
    early-exit on fixed point) -> one representative per duplicate cluster
    with member counts. Pairs alone don't dedup a corpus — transitive
    closure does (A~B, B~C means A,B,C are one group even when A!~C). The
    DuckDB oracle computes the same closure with a recursive CTE, so the
    component labels are hash-verified."""
    from etl_poc_spark.operators.dedup import dedup_representatives

    pairs = minhash_lsh_pairs(spark, sf_dir).select("id_a", "id_b")
    return dedup_representatives(pairs)


_QUALITY_NEAR_DUP_CORPUS = """
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000 AS doc_id, text || ' zqx1 zqx2' AS text
      FROM documents
      WHERE doc_id % 10 = 0
        AND len(string_split_regex(trim(text), '\\s+')) >= 5
      UNION ALL
      SELECT doc_id + 200000 AS doc_id,
             array_to_string(list_slice(string_split_regex(trim(text), '\\s+'), 2,
                             len(string_split_regex(trim(text), '\\s+'))), ' ') AS text
      FROM documents
      WHERE doc_id % 20 = 0
        AND len(string_split_regex(trim(text), '\\s+')) >= 5
"""


def _quality_near_dup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus with QUALITY-GRADED near-duplicates: every doc_id%10 doc
    gains a two-words-appended copy at +100000 (MORE tokens — the best
    member, which min-id retention would wrongly drop), every doc_id%20
    doc also a first-word-dropped copy at +200000 (fewer tokens — must
    lose). Components of size 2-3 with the winner NOT at the min id."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    words = F.split(F.trim(F.col("text")), r"\s+")
    n = F.size(words)
    appended = d.filter((F.col("doc_id") % 10 == 0) & (n >= 5)).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zqx1 zqx2")).alias("text"),
    )
    dropped = d.filter((F.col("doc_id") % 20 == 0) & (n >= 5)).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat_ws(" ", F.slice(words, 2, F.size(words) - 1)).alias("text"),
    )
    return d.unionByName(appended).unionByName(dropped)


@query(
    "near_dup_keep_best",
    oracle="WITH RECURSIVE pairs_q AS MATERIALIZED (WITH corpus AS ("
    + _QUALITY_NEAR_DUP_CORPUS
    + ")"
    + MINHASH_PIPE_SQL
    + """
    ), corpus AS (""" + _QUALITY_NEAR_DUP_CORPUS + """
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs_q
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs_q
    ), nodes AS (
      SELECT DISTINCT src AS id FROM edges
    ), reach(id, r) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r
    ), comp AS (
      SELECT id, MIN(r) AS component FROM reach GROUP BY id
    ), q AS (
      SELECT doc_id,
             len(string_split_regex(trim(text), '\\s+')) AS n_tokens
      FROM corpus
    ), ranked AS (
      SELECT q.doc_id, q.n_tokens,
             row_number() OVER (PARTITION BY comp.component
                                ORDER BY q.n_tokens DESC, q.doc_id) AS rk
      FROM q JOIN comp ON comp.id = q.doc_id
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens
    FROM ranked WHERE rk > 1 ORDER BY doc_id
    """,
)
def near_dup_keep_best_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware retention over NEAR-dup clusters end-to-end
    (dedup.near_dup_keep_best, r14 verdict ask #2): MinHash-LSH pairs →
    connected components → keep the highest-n_tokens member per cluster
    (the RefinedWeb policy — longest copy wins, truncated extractions
    lose). Output: the docs the retention REMOVES (compact, and fully
    determines the kept set since the corpus is deterministic). The
    planted winner sits at +100000 (two words appended — HIGHER id,
    higher quality), so a min-id star-root retention would produce a
    visibly different removal set: the oracle verifies the quality rule,
    not just the closure."""
    from etl_poc_spark.operators.dedup import near_dup_keep_best

    corpus = _quality_near_dup_corpus(spark, sf_dir).withColumn(
        "n_tokens", F.size(F.split(F.trim(F.col("text")), r"\s+"))
    )
    sets = pin(shingle_sets(corpus, "doc_id", "text", shingle_words=3))
    sig = minhash_signatures(sets, "doc_id", n_hashes=8, hash_mode="md5")
    cand = lsh_candidate_pairs(sig, "doc_id", rows_per_band=2, max_bucket_size=50)
    pairs = verify_jaccard(sets, cand, "doc_id", threshold=0.8).select("id_a", "id_b")
    kept = near_dup_keep_best(corpus, pairs, "n_tokens", "doc_id")
    removed = corpus.join(kept.select("doc_id"), "doc_id", "left_anti")
    return removed.select(
        "doc_id", F.col("n_tokens").cast("long").alias("n_tokens")
    )


@query(
    "dup_aware_doc_weights",
    oracle="WITH RECURSIVE pairs_q AS (" + _ORACLES["minhash_lsh_pairs"] + """
    ), corpus_ids AS (
      SELECT doc_id FROM documents
      UNION ALL
      SELECT doc_id + 100000 AS doc_id FROM documents
      WHERE doc_id % 10 = 0
        AND len(string_split_regex(trim(text), '\\s+')) >= 5
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs_q
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs_q
    ), nodes AS (
      SELECT DISTINCT src AS id FROM edges
    ), reach(id, r) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r
    ), comp AS (
      SELECT id, MIN(r) AS component FROM reach GROUP BY id
    ), sizes AS (
      SELECT component, COUNT(*) AS n FROM comp GROUP BY component
    ), labeled AS (
      SELECT comp.id, sizes.n FROM comp JOIN sizes USING (component)
    )
    SELECT c.doc_id,
           CAST(COALESCE(l.n, 1) AS BIGINT) AS n_members,
           1.0 / CAST(COALESCE(l.n, 1) AS DOUBLE) AS weight
    FROM corpus_ids c LEFT JOIN labeled l ON l.id = c.doc_id
    """,
)
def dup_aware_doc_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft dedup: per-document training weight 1/n over the MinHash-LSH
    near-dup clusters' transitive closure (operators/dedup.py::
    dup_aware_weights) — a cluster's total mass equals one copy, so
    duplication bias is removed without discarding the popularity signal
    hard dedup throws away. The weight 1.0/n is one IEEE double division
    — bit-equal across engines, hash-exact against the recursive-CTE
    oracle."""
    from etl_poc_spark.operators.dedup import dup_aware_weights

    corpus = _near_dup_corpus(spark, sf_dir).select("doc_id")
    pairs = minhash_lsh_pairs(spark, sf_dir).select("id_a", "id_b")
    out = dup_aware_weights(corpus, pairs, "doc_id")
    return out.select("doc_id", F.col("n_members").cast("long").alias("n_members"), "weight")


@query(
    "winnow_fingerprint_pairs",
    oracle="""
    WITH g AS (
      SELECT doc_id, i AS pos,
             CAST('0x' || substr(md5(array_to_string(
               list_slice(words, i + 1, i + 3), ' ')), 1, 10) AS BIGINT) AS h
      FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words
            FROM documents
            WHERE len(string_split_regex(trim(text), '\\s+')) >= 3),
           LATERAL (SELECT unnest(range(0, len(words) - 2)) AS i)
      WHERE i < 1048576
    ), sel AS (
      SELECT doc_id, pos,
             COUNT(*) OVER (PARTITION BY doc_id) AS n,
             MIN(h * 1048576 + (1048575 - pos))
               OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS s
      FROM g
    ), fp AS (
      SELECT DISTINCT doc_id, s >> 20 AS fp_hash
      FROM sel WHERE pos <= n - 4
    ), rare AS (
      SELECT fp_hash FROM fp GROUP BY fp_hash HAVING COUNT(*) <= 50
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM fp a JOIN rare USING (fp_hash) JOIN fp b USING (fp_hash)
    WHERE a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING COUNT(*) >= 2
    """,
)
def winnow_fingerprint_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing overlap detection (Schleimer et al. 2003, the MOSS
    scheme) over the documents table: word-3-gram hashes, window w=4,
    rightmost-minimal selection via one integer-packed ordered-frame MIN
    (no argmin self-join), then pairs sharing ≥2 selected fingerprints
    through the DF≤50-capped inverted index. The selected density is
    ~2/(w+1) of all grams — the sparse fingerprint index that replaces
    duplicate_span_coverage's keep-every-hash table at 100 TB — while
    any shared run of ≥ w+k−1 = 6 words still guarantees a shared
    fingerprint. Integer end to end → hash-exact."""
    from etl_poc_spark.operators.dedup import winnow_shared_pairs

    d = load_table(spark, sf_dir, "documents")
    return winnow_shared_pairs(d, "doc_id", "text", k=3, w=4, min_shared=2)


@query(
    "quality_dedup_keep_best",
    oracle="""
    WITH built AS (
      SELECT doc_id, n_chars, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, n_chars + 3, upper(text) || ' !!'
      FROM documents WHERE doc_id % 5 = 0
      UNION ALL
      SELECT doc_id + 2000000, GREATEST(n_chars - 7, 0), text || ' ??'
      FROM documents WHERE doc_id % 10 = 0
    ), norm AS (
      SELECT doc_id, n_chars,
             md5(trim(regexp_replace(regexp_replace(lower(text),
                 '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g'))) AS fp
      FROM built
    ), ranked AS (
      SELECT doc_id, n_chars, fp,
             row_number() OVER (PARTITION BY fp
               ORDER BY n_chars DESC, doc_id) AS rk,
             COUNT(*) OVER (PARTITION BY fp) AS n_copies,
             SUM(doc_id) OVER (PARTITION BY fp) AS id_sum
      FROM norm
    )
    SELECT fp, doc_id AS kept_doc_id,
           CAST(n_chars AS BIGINT) AS kept_n_chars,
           CAST(n_copies AS BIGINT) AS n_copies,
           CAST(id_sum - doc_id AS BIGINT) AS dropped_id_sum
    FROM ranked WHERE rk = 1 AND n_copies > 1
    """,
)
def quality_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware duplicate retention (dedup.keep_best_per_group):
    group by the normalization-aware fingerprint, keep the HIGHEST-quality
    copy per duplicate group — quality here is n_chars (longest copy wins;
    truncated extractions lose), ties broken by min doc_id. The retention
    policy real pipelines (RefinedWeb/FineWeb-style) use instead of
    exact_dedup's arbitrary min-id survivor: near-copies differ in
    truncation and extraction quality, and the survivor choice changes
    the training corpus.

    The word-soup corpus has no natural normalized duplicates at test
    scales (normalized_exact_dedup_groups reads 0 rows at sf0.01), so the
    query plants them deterministically the way _semdedup_corpus plants
    embedding duplicates: doc_id%5 gains an uppercased-plus-punctuation
    copy at +3 chars (normalizes EQUAL, higher quality — the copy must
    win), doc_id%10 a second copy at −7 chars (must lose). Output per
    duplicate group: fingerprint, kept doc, its quality, copy count, and
    the dropped-id checksum.

    Scale shape: one row_number window partitioned by fingerprint (the
    exact-dedup shuffle class, tiny per-group frames). Hash-exact: the
    ordering (bigint DESC, bigint ASC) is a total order in both engines."""
    from etl_poc_spark.operators.dedup import keep_best_per_group

    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars", "text")
    built = (
        d.unionByName(
            d.filter(F.col("doc_id") % 5 == 0).select(
                (F.col("doc_id") + 1000000).alias("doc_id"),
                (F.col("n_chars") + 3).alias("n_chars"),
                F.concat(F.upper(F.col("text")), F.lit(" !!")).alias("text"),
            )
        )
        .unionByName(
            d.filter(F.col("doc_id") % 10 == 0).select(
                (F.col("doc_id") + 2000000).alias("doc_id"),
                F.greatest(F.col("n_chars") - 7, F.lit(0)).alias("n_chars"),
                F.concat(F.col("text"), F.lit(" ??")).alias("text"),
            )
        )
    )
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9\s]", ""),
            r"\s+",
            " ",
        )
    )
    wc = Window.partitionBy("fp")
    groups = (
        built.select("doc_id", "n_chars", F.md5(norm).alias("fp"))
        .withColumn("n_copies", F.count(F.lit(1)).over(wc))
        .withColumn("id_sum", F.sum("doc_id").over(wc))
        .filter(F.col("n_copies") > 1)
    )
    kept = keep_best_per_group(groups, "fp", "n_chars", "doc_id")
    return kept.select(
        "fp",
        F.col("doc_id").alias("kept_doc_id"),
        F.col("n_chars").cast("bigint").alias("kept_n_chars"),
        F.col("n_copies").cast("bigint").alias("n_copies"),
        (F.col("id_sum") - F.col("doc_id")).cast("bigint").alias("dropped_id_sum"),
    )


@query(
    "normalized_exact_dedup_groups",
    oracle="""
    WITH norm AS (
      SELECT doc_id,
             md5(trim(regexp_replace(regexp_replace(lower(text),
                 '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g'))) AS fp
      FROM documents
    )
    SELECT fp, MIN(doc_id) AS min_doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM norm GROUP BY fp HAVING COUNT(*) > 1
    """,
)
def normalized_exact_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-aware exact dedup (the Falcon/RefinedWeb 'exact
    dedup after normalization' pass): lowercase, strip punctuation,
    collapse whitespace, THEN fingerprint — catches trivially-reformatted
    copies plain exact dedup misses while staying one md5-groupBy (never
    shuffling document bodies). Output: duplicate groups only
    (fingerprint, surviving min doc_id, copy count). Hash-exact — the
    normalization chain is the same regex sequence in both engines."""
    d = load_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9\s]", ""),
            r"\s+",
            " ",
        )
    )
    return (
        d.select("doc_id", F.md5(norm).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("min_doc_id"),
            F.count(F.lit(1)).cast("long").alias("n_copies"),
        )
        .filter(F.col("n_copies") > 1)
    )


@query(
    "leakage_safe_folds",
    oracle="""
    WITH built AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, upper(text) || ' !!'
      FROM documents WHERE doc_id % 5 = 0
      UNION ALL
      SELECT doc_id + 2000000, text || ' ??'
      FROM documents WHERE doc_id % 10 = 0
    ), norm AS (
      SELECT doc_id,
             md5(trim(regexp_replace(regexp_replace(lower(text),
                 '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g'))) AS fp
      FROM built
    ), folded AS (
      SELECT doc_id, fp,
             CAST('0x' || substr(md5('fold' || fp), 1, 6) AS INTEGER) % 5
               AS fold
      FROM norm
    )
    SELECT fold, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_groups,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum
    FROM folded GROUP BY fold
    """,
)
def leakage_safe_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe K-fold assignment: the fold is hashed from the
    normalization-aware duplicate-group FINGERPRINT, not the doc id, so
    every copy of a duplicated document lands in the same fold — the
    eval-integrity property an id-hashed split silently violates
    (near-copies straddling train/test inflate eval scores; the pytest
    shows the id-hashed counterpart leaks on the same corpus). Same
    planted-duplicate corpus as quality_dedup_keep_best. Output per fold:
    doc count, distinct group count, doc-id checksum.

    Scale shape: the fingerprint is a narrow md5 projection; fold
    assignment is map-only on it; the stats are one map-side-combined
    groupBy(fold). No joins, no windows."""
    from etl_poc_spark.operators.curation import hash_bucket

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    built = d.unionByName(
        d.filter(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat(F.upper(F.col("text")), F.lit(" !!")).alias("text"),
        )
    ).unionByName(
        d.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 2000000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" ??")).alias("text"),
        )
    )
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9\s]", ""),
            r"\s+",
            " ",
        )
    )
    folded = built.select(
        "doc_id",
        F.md5(norm).alias("fp"),
    ).select("doc_id", "fp", hash_bucket(F.col("fp"), 5, "fold").alias("fold"))
    return folded.groupBy("fold").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("fp").cast("bigint").alias("n_groups"),
        F.sum("doc_id").cast("bigint").alias("id_sum"),
    )
