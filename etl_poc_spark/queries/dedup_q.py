"""Deduplication queries (north-star extensions, SURVEY.md §7 phase 5).

The driver corpus has no natural duplicates, so each query deterministically
constructs a duplicated corpus inside the query itself (documents UNION ALL a
perturbed subset shifted to doc_id + PLANTED_ID_OFFSET) — both engines build
the same corpus, and the dedup operators then have real work to do whose
output is oracle-checkable.

Modalities: exact content hashes, MinHash-LSH and word-n-gram overlap,
winnowing, quality-aware retention, SimHash, and embedding cosine. SimHash
here is a 16-bit signature built from md5 nibbles so the oracle can
reproduce it bit-for-bit (the production 64-bit variants use xxhash64 or
packed md5 nibbles — same plan shape). Banded on 4x4 bits so candidate
pairs come from an equi-join, then verified by exact Hamming distance —
the same sketch -> bucket-join -> verify architecture as MinHash-LSH.
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
from etl_poc_spark.operators.similarity import _pair_cosine_carried  # shared exact-cosine kernel
from etl_poc_spark.registry import ORACLES as _ORACLES
from etl_poc_spark.registry import query

# Planted copies get doc_id / vec_id / image id + PLANTED_ID_OFFSET (a
# second planted family + 2 * PLANTED_ID_OFFSET; the normalized-duplicate
# corpus uses 10x and 20x). Both engines interpolate this one constant.
# The scheme assumes every base id is below it: a table with ids >= 100000
# would collide with its own copies (ROADMAP item 3).
PLANTED_ID_OFFSET = 100000

# the text with its first word dropped (n >= 2 words)
_DROP_FIRST_WORD_SQL = """array_to_string(list_slice(string_split_regex(trim(text), '\\s+'), 2,
                             len(string_split_regex(trim(text), '\\s+'))), ' ')"""

# corpus with exact duplicates: every doc_id % 5 == 0 doc appears twice
DUP_CORPUS_CTE = f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + {PLANTED_ID_OFFSET} AS doc_id, text FROM documents WHERE doc_id % 5 = 0
    )
"""

# corpus with near-duplicates: doc_id % 10 == 0 docs reappear with the first
# word dropped (jaccard over 3-gram shingles ~ (n-1)/n, well above 0.8)
NEAR_DUP_CORPUS_CTE = f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + {PLANTED_ID_OFFSET} AS doc_id,
             {_DROP_FIRST_WORD_SQL} AS text
      FROM documents
      WHERE doc_id % 10 = 0
        AND len(string_split_regex(trim(text), '\\s+')) >= 5
    )"""

# connected components of the undirected graph `pairs_q(id_a, id_b)` as a
# recursive closure: comp(id, component) labels each node with the least
# id it reaches. Follows a CTE list that defines pairs_q.
COMPONENTS_CTE = """
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
    )"""


def _drop_first_word(words: F.Column) -> F.Column:
    return F.concat_ws(" ", F.slice(words, 2, F.size(words) - 1))


def _dup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dups = d.filter(F.col("doc_id") % 5 == 0).select((F.col("doc_id") + PLANTED_ID_OFFSET).alias("doc_id"), "text")
    return d.unionByName(dups)


def _near_dup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    words = F.split(F.trim(F.col("text")), r"\s+")
    perturbed = (
        d.filter((F.col("doc_id") % 10 == 0) & (F.size(words) >= 5))
        .select(
            (F.col("doc_id") + PLANTED_ID_OFFSET).alias("doc_id"),
            _drop_first_word(words).alias("text"),
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


# the DF-capped word-5-gram inverted index over the near-dup corpus, shared
# by ngram_jaccard_pairs and ngram_containment_pairs: per-doc capped
# shingle counts (`sizes`) and shared-shingle counts per pair (`inter`)
_NGRAM_OVERLAP_SQL = NEAR_DUP_CORPUS_CTE + """
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
    )"""


def _ngram_overlaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """_NGRAM_OVERLAP_SQL's `inter` with both sides' capped `sizes`:
    (id_b, id_a, n_inter, n_a, n_b). Stop-shingles in more than 50
    documents are dropped from the index, so a boilerplate shingle cannot
    fan out to m*(m-1)/2 joined rows."""
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
    return inter.join(
        sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("n_a")), "id_a"
    ).join(sizes.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("n_b")), "id_b")


@query(
    "ngram_jaccard_pairs",
    oracle=_NGRAM_OVERLAP_SQL
    + """
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
    return (
        _ngram_overlaps(spark, sf_dir)
        .withColumn("n_union", F.col("n_a") + F.col("n_b") - F.col("n_inter"))
        .filter(F.col("n_inter") * 1000 >= 500 * F.col("n_union"))
        .select("id_a", "id_b", (F.col("n_inter").cast("double") / F.col("n_union").cast("double")).alias("jaccard"))
    )


@query(
    "ngram_containment_pairs",
    oracle=_NGRAM_OVERLAP_SQL
    + """
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
    least = F.least(F.col("n_a"), F.col("n_b"))
    return (
        _ngram_overlaps(spark, sf_dir)
        .filter(F.col("n_inter") * 10 >= 9 * least)
        .select(
            "id_a", "id_b",
            (F.col("n_inter").cast("double") / least.cast("double")).alias("containment"),
        )
    )


@query(
    "near_dup_dedup_groups",
    oracle="WITH RECURSIVE pairs_q AS ("
    + _ORACLES["minhash_lsh_pairs"]
    + COMPONENTS_CTE
    + """
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


_QUALITY_NEAR_DUP_CORPUS = f"""
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + {PLANTED_ID_OFFSET} AS doc_id, text || ' zqx1 zqx2' AS text
      FROM documents
      WHERE doc_id % 10 = 0
        AND len(string_split_regex(trim(text), '\\s+')) >= 5
      UNION ALL
      SELECT doc_id + {2 * PLANTED_ID_OFFSET} AS doc_id,
             {_DROP_FIRST_WORD_SQL} AS text
      FROM documents
      WHERE doc_id % 20 = 0
        AND len(string_split_regex(trim(text), '\\s+')) >= 5
"""


def _quality_near_dup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus with QUALITY-GRADED near-duplicates: every doc_id%10 doc
    gains a two-words-appended copy at +PLANTED_ID_OFFSET (MORE tokens —
    the best member, which min-id retention would wrongly drop), every
    doc_id%20 doc also a first-word-dropped copy at +2 * PLANTED_ID_OFFSET
    (fewer tokens — must lose). Components of size 2-3 with the winner NOT at the min id."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    words = F.split(F.trim(F.col("text")), r"\s+")
    n = F.size(words)
    appended = d.filter((F.col("doc_id") % 10 == 0) & (n >= 5)).select(
        (F.col("doc_id") + PLANTED_ID_OFFSET).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zqx1 zqx2")).alias("text"),
    )
    dropped = d.filter((F.col("doc_id") % 20 == 0) & (n >= 5)).select(
        (F.col("doc_id") + 2 * PLANTED_ID_OFFSET).alias("doc_id"),
        _drop_first_word(words).alias("text"),
    )
    return d.unionByName(appended).unionByName(dropped)


@query(
    "near_dup_keep_best",
    oracle="WITH RECURSIVE pairs_q AS MATERIALIZED (WITH corpus AS ("
    + _QUALITY_NEAR_DUP_CORPUS
    + ")"
    + MINHASH_PIPE_SQL
    + """
    ), corpus AS ("""
    + _QUALITY_NEAR_DUP_CORPUS
    + COMPONENTS_CTE
    + """, q AS (
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
    planted winner sits at +PLANTED_ID_OFFSET (two words appended — HIGHER id,
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
    oracle="WITH RECURSIVE pairs_q AS ("
    + _ORACLES["minhash_lsh_pairs"]
    + f"""
    ), corpus_ids AS (
      SELECT doc_id FROM documents
      UNION ALL
      SELECT doc_id + {PLANTED_ID_OFFSET} AS doc_id FROM documents
      WHERE doc_id % 10 = 0
        AND len(string_split_regex(trim(text), '\\s+')) >= 5"""
    + COMPONENTS_CTE
    + """, sizes AS (
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


# the normalization-aware content fingerprint: md5 of the lowercased text
# with punctuation stripped and whitespace runs collapsed
_NORM_FP_SQL = """md5(trim(regexp_replace(regexp_replace(lower(text),
                 '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g')))"""


def _norm_fp() -> F.Column:
    return F.md5(
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9\s]", ""),
                r"\s+",
                " ",
            )
        )
    )


@query(
    "quality_dedup_keep_best",
    oracle=f"""
    WITH built AS (
      SELECT doc_id, n_chars, text FROM documents
      UNION ALL
      SELECT doc_id + {10 * PLANTED_ID_OFFSET}, n_chars + 3, upper(text) || ' !!'
      FROM documents WHERE doc_id % 5 = 0
      UNION ALL
      SELECT doc_id + {20 * PLANTED_ID_OFFSET}, GREATEST(n_chars - 7, 0), text || ' ??'
      FROM documents WHERE doc_id % 10 = 0
    ), norm AS (
      SELECT doc_id, n_chars,
             {_NORM_FP_SQL} AS fp
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
                (F.col("doc_id") + 10 * PLANTED_ID_OFFSET).alias("doc_id"),
                (F.col("n_chars") + 3).alias("n_chars"),
                F.concat(F.upper(F.col("text")), F.lit(" !!")).alias("text"),
            )
        )
        .unionByName(
            d.filter(F.col("doc_id") % 10 == 0).select(
                (F.col("doc_id") + 20 * PLANTED_ID_OFFSET).alias("doc_id"),
                F.greatest(F.col("n_chars") - 7, F.lit(0)).alias("n_chars"),
                F.concat(F.col("text"), F.lit(" ??")).alias("text"),
            )
        )
    )
    wc = Window.partitionBy("fp")
    groups = (
        built.select("doc_id", "n_chars", _norm_fp().alias("fp"))
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
    oracle=f"""
    WITH norm AS (
      SELECT doc_id,
             {_NORM_FP_SQL} AS fp
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
    return (
        d.select("doc_id", _norm_fp().alias("fp"))
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("min_doc_id"),
            F.count(F.lit(1)).cast("long").alias("n_copies"),
        )
        .filter(F.col("n_copies") > 1)
    )


@query(
    "leakage_safe_folds",
    oracle=f"""
    WITH built AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + {10 * PLANTED_ID_OFFSET}, upper(text) || ' !!'
      FROM documents WHERE doc_id % 5 = 0
      UNION ALL
      SELECT doc_id + {20 * PLANTED_ID_OFFSET}, text || ' ??'
      FROM documents WHERE doc_id % 10 = 0
    ), norm AS (
      SELECT doc_id,
             {_NORM_FP_SQL} AS fp
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
            (F.col("doc_id") + 10 * PLANTED_ID_OFFSET).alias("doc_id"),
            F.concat(F.upper(F.col("text")), F.lit(" !!")).alias("text"),
        )
    ).unionByName(
        d.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 20 * PLANTED_ID_OFFSET).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" ??")).alias("text"),
        )
    )
    folded = built.select(
        "doc_id",
        _norm_fp().alias("fp"),
    ).select("doc_id", "fp", hash_bucket(F.col("fp"), 5, "fold").alias("fold"))
    return folded.groupBy("fold").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("fp").cast("bigint").alias("n_groups"),
        F.sum("doc_id").cast("bigint").alias("id_sum"),
    )


# --- SimHash ---------------------------------------------------------------
# 16-bit signature: bit j of word w = bit (j%4) of nibble (j//4) of md5(w).
# Signature bit = majority vote over the document's tokens (+1/-1), >0 -> '1'.

def _simhash_sql(source: str) -> str:
    """w -> bits -> sig_bits -> sigs(doc_id, sig) over the table or CTE
    `source` (doc_id, text)."""
    return f"""w AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS word
      FROM {source} WHERE trim(text) <> ''
    ), bits AS (
      SELECT doc_id, word, b.j,
             CASE WHEN (CAST(strpos('0123456789abcdef', substr(md5(word), CAST(b.j // 4 AS INT) + 1, 1)) - 1 AS INT)
                        // CAST(power(2, CAST(b.j % 4 AS INT)) AS INT)) % 2 = 1
                  THEN 1 ELSE -1 END AS vote
      FROM w CROSS JOIN (SELECT unnest(range(16)) AS j) b
    ), sig_bits AS (
      SELECT doc_id, j, CASE WHEN SUM(vote) > 0 THEN '1' ELSE '0' END AS bit
      FROM bits GROUP BY doc_id, j
    ), sigs AS (
      SELECT doc_id, string_agg(bit, '' ORDER BY j) AS sig
      FROM sig_bits GROUP BY doc_id
    )"""


VOTE_EXPR = (
    "CASE WHEN (CAST(instr('0123456789abcdef', substr(md5(word), CAST(j DIV 4 AS INT) + 1, 1)) - 1 AS INT) "
    "DIV CAST(pow(2, CAST(j % 4 AS INT)) AS INT)) % 2 = 1 THEN 1 ELSE -1 END"
)

@query(
    "simhash_signatures",
    oracle="WITH "
    + _simhash_sql("documents")
    + """
    SELECT doc_id, sig FROM sigs
    """,
)
def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit md5-nibble SimHash signature per document. One explode + two
    aggregations; everything JVM-side. The md5 digest is hoisted BELOW the
    16-way bit-position explode (the Generate node is a projection-collapse
    barrier, so Catalyst cannot inline it back): one digest per word
    occurrence instead of sixteen, the per-j vote is then substr math."""
    d = load_table(spark, sf_dir, "documents").filter(F.trim(F.col("text")) != "")
    words = d.select("doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word"))
    bits = (
        words.withColumn("__md5", F.md5("word"))
        .select(
            "doc_id",
            "word",
            "__md5",
            F.explode(F.sequence(F.lit(0), F.lit(15))).alias("j"),
        )
        .withColumn("vote", F.expr(VOTE_EXPR.replace("md5(word)", "__md5")))
    )
    sig_bits = bits.groupBy("doc_id", "j").agg(
        F.when(F.sum("vote") > 0, F.lit("1")).otherwise(F.lit("0")).alias("bit")
    )
    return sig_bits.groupBy("doc_id").agg(
        F.concat_ws("", F.array_sort(F.collect_list(F.struct("j", "bit"))).getField("bit")).alias("sig")
    )


@query(
    "simhash_near_dup_pairs",
    oracle=NEAR_DUP_CORPUS_CTE
    + ", "
    + _simhash_sql("corpus")
    + """, banded AS (
      SELECT doc_id, sig, b AS band, substr(sig, b * 4 + 1, 4) AS band_val
      FROM sigs CROSS JOIN (SELECT unnest(range(4)) AS b)
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sig AS sig_a, b.sig AS sig_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
    ), ham AS (
      SELECT id_a, id_b,
             (CASE WHEN substr(sig_a,1,1) <> substr(sig_b,1,1) THEN 1 ELSE 0 END +
              CASE WHEN substr(sig_a,2,1) <> substr(sig_b,2,1) THEN 1 ELSE 0 END +
              CASE WHEN substr(sig_a,3,1) <> substr(sig_b,3,1) THEN 1 ELSE 0 END +
              CASE WHEN substr(sig_a,4,1) <> substr(sig_b,4,1) THEN 1 ELSE 0 END +
              CASE WHEN substr(sig_a,5,1) <> substr(sig_b,5,1) THEN 1 ELSE 0 END +
              CASE WHEN substr(sig_a,6,1) <> substr(sig_b,6,1) THEN 1 ELSE 0 END +
              CASE WHEN substr(sig_a,7,1) <> substr(sig_b,7,1) THEN 1 ELSE 0 END +
              CASE WHEN substr(sig_a,8,1) <> substr(sig_b,8,1) THEN 1 ELSE 0 END +
              CASE WHEN substr(sig_a,9,1) <> substr(sig_b,9,1) THEN 1 ELSE 0 END +
              CASE WHEN substr(sig_a,10,1) <> substr(sig_b,10,1) THEN 1 ELSE 0 END +
              CASE WHEN substr(sig_a,11,1) <> substr(sig_b,11,1) THEN 1 ELSE 0 END +
              CASE WHEN substr(sig_a,12,1) <> substr(sig_b,12,1) THEN 1 ELSE 0 END +
              CASE WHEN substr(sig_a,13,1) <> substr(sig_b,13,1) THEN 1 ELSE 0 END +
              CASE WHEN substr(sig_a,14,1) <> substr(sig_b,14,1) THEN 1 ELSE 0 END +
              CASE WHEN substr(sig_a,15,1) <> substr(sig_b,15,1) THEN 1 ELSE 0 END +
              CASE WHEN substr(sig_a,16,1) <> substr(sig_b,16,1) THEN 1 ELSE 0 END) AS hamming
      FROM cand
    )
    SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 1
    """,
)
def simhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs over the constructed near-dup corpus:
    sketch -> 4x4-bit band join -> exact Hamming verify (<= 1). The banded
    join bounds the pair space exactly like MinHash-LSH.

    Performance: word bit-vectors are computed once per DISTINCT word
    (vocabulary table) and broadcast-joined back to per-doc word counts, so
    the hot path multiplies small integers instead of hashing every token
    occurrence 16 times (22s -> ~3s at sf0.1; at web scale the vocabulary
    table is exactly the shared structure a simhash job should build once)."""
    corpus = _near_dup_corpus(spark, sf_dir).filter(F.trim(F.col("text")) != "")

    words = corpus.select("doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word"))
    word_counts = words.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("cnt"))
    vocab = words.select("word").distinct()
    # per-j vote exprs with the literal j substituted (same math as VOTE_EXPR)
    vote_cols = [
        F.expr(
            f"CASE WHEN (CAST(instr('0123456789abcdef', substr(md5(word), CAST({j} DIV 4 AS INT) + 1, 1)) - 1 AS INT) "
            f"DIV CAST(pow(2, CAST({j} % 4 AS INT)) AS INT)) % 2 = 1 THEN 1 ELSE -1 END"
        ).alias(f"v{j}")
        for j in range(16)
    ]
    word_bits = vocab.select("word", *vote_cols)
    joined = word_counts.join(F.broadcast(word_bits), "word")
    sig_cols = [
        F.when(F.sum(F.col("cnt") * F.col(f"v{j}")) > 0, F.lit("1")).otherwise(F.lit("0")).alias(f"b{j}")
        for j in range(16)
    ]
    # the 16-bit signature is carried as an INT internally (bit j of the
    # string = int bit 15-j): integer band extraction and bit_count(XOR)
    # hamming replace per-character substr comparisons on every candidate
    # pair — same results, far cheaper on the (large) 16-bit candidate set
    sig_int = sum(
        [F.shiftleft(F.when(F.col(f"b{j}") == "1", F.lit(1).cast("long")).otherwise(F.lit(0).cast("long")), 15 - j) for j in range(16)],
        F.lit(0).cast("long"),
    )
    sigs = pin(
        joined.groupBy("doc_id")
        .agg(*sig_cols)
        .select("doc_id", sig_int.alias("sig"))
    )

    banded = sigs.select(
        "doc_id", "sig", F.explode(F.sequence(F.lit(0), F.lit(3))).alias("band")
    ).withColumn("band_val", F.expr("shiftrightunsigned(sig, 12 - band * 4)").bitwiseAND(F.lit(15)))
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.band_val") == F.col("b.band_val")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"), F.col("a.sig").alias("sig_a"), F.col("b.sig").alias("sig_b"))
        .distinct()
    )
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return cand.withColumn("hamming", ham.cast("int")).filter(F.col("hamming") <= 1).select("id_a", "id_b", "hamming")


@query("simhash64_near_dup_pairs")
def simhash64_near_dup_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production 64-bit SimHash near-dup pairs over the same constructed
    near-dup corpus: xxhash64 word bits -> packed BIGINT signature -> 4 x
    16-bit band equi-join (65,536 values per band, so bucket occupancy is
    ~n/65536 instead of the 16-bit demo's n/16) -> bit_count Hamming verify.
    Bucket cap 200 bounds the worst-case candidate explosion from
    degenerate/boilerplate buckets. Rows-only check: xxhash64 has no DuckDB
    equivalent; the 16-bit md5 variant (simhash_near_dup_pairs) is the
    oracle-verified demo of the identical plan shape."""
    from etl_poc_spark.operators.dedup import simhash64_near_dup_pairs, simhash64_signatures

    corpus = _near_dup_corpus(spark, sf_dir)
    sigs = simhash64_signatures(corpus, "doc_id", "text")
    return simhash64_near_dup_pairs(
        sigs, "doc_id", n_bands=4, band_bits=16, max_hamming=3, max_bucket_size=200
    )


@query(
    "simhash64_md5_near_dup_pairs",
    oracle=NEAR_DUP_CORPUS_CTE
    + """, w AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS word
      FROM corpus WHERE trim(text) <> ''
    ), wc AS (
      SELECT doc_id, word, COUNT(*) AS cnt FROM w GROUP BY doc_id, word
    ), bits AS (
      -- bit j of the 64-bit md5 word hash = bit (j%4) of nibble (j//4)
      SELECT wc.doc_id, b.j,
             CASE WHEN (CAST(strpos('0123456789abcdef', substr(md5(word), CAST(b.j // 4 AS INT) + 1, 1)) - 1 AS INT)
                        // CAST(power(2, CAST(b.j % 4 AS INT)) AS INT)) % 2 = 1
                  THEN cnt ELSE -cnt END AS vote
      FROM wc CROSS JOIN (SELECT unnest(range(64)) AS j) b
    ), sig_bits AS (
      SELECT doc_id, j, CASE WHEN SUM(vote) > 0 THEN 1 ELSE 0 END AS bit
      FROM bits GROUP BY doc_id, j
    ), bands AS (
      -- production band geometry: 4 bands x 16 bits, value in [0, 65535]
      SELECT doc_id, CAST(j // 16 AS INT) AS band,
             CAST(SUM(bit * CAST(power(2, CAST(j % 16 AS INT)) AS INT)) AS INT) AS band_val
      FROM sig_bits GROUP BY doc_id, CAST(j // 16 AS INT)
    ), under_cap AS (
      SELECT band, band_val FROM bands GROUP BY band, band_val HAVING COUNT(*) <= 200
    ), capped AS (
      SELECT bands.* FROM bands JOIN under_cap USING (band, band_val)
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM capped a JOIN capped b
        ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
    ), hams AS (
      SELECT c.id_a, c.id_b,
             CAST(SUM(CASE WHEN sa.bit <> sb.bit THEN 1 ELSE 0 END) AS INT) AS hamming
      FROM cand c
      JOIN sig_bits sa ON sa.doc_id = c.id_a
      JOIN sig_bits sb ON sb.doc_id = c.id_b AND sb.j = sa.j
      GROUP BY c.id_a, c.id_b
    )
    SELECT id_a, id_b, hamming FROM hams WHERE hamming <= 3
    """,
)
def simhash64_md5_near_dup_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PORTABLE-hash twin of simhash64_near_dup_pairs: identical 64-bit
    signature pipeline and production band geometry (4 x 16-bit bands,
    65,536 values/band, bucket cap 200, bit_count Hamming verify <= 3),
    but the word hash is 16 packed md5 nibbles instead of xxhash64 — so
    DuckDB reproduces every signature bit and the whole banded self-join
    is value-hash-checked. xxhash64 stays the production default (faster,
    no string digest); this query proves the band/cap/verify geometry."""
    from etl_poc_spark.operators.dedup import simhash64_near_dup_pairs, simhash64_signatures

    corpus = _near_dup_corpus(spark, sf_dir)
    sigs = simhash64_signatures(corpus, "doc_id", "text", hash_mode="md5")
    return simhash64_near_dup_pairs(
        sigs, "doc_id", n_bands=4, band_bits=16, max_hamming=3, max_bucket_size=200
    ).withColumn("hamming", F.col("hamming").cast("int"))


# --- embedding-cosine near-dup --------------------------------------------

# the 6-bit sign-bucket coarse quantizer over the embeddings table:
# tagged(vec_id, embedding, bucket) (operators/similarity.sign_bucket_expr)
SIGN_TAGGED_CTE = """
    WITH tagged AS (
      SELECT vec_id, embedding,
             ("""+" ||\n              ".join(f"CASE WHEN embedding[{i}] >= 0 THEN '1' ELSE '0' END" for i in range(1, 7))+""") AS bucket
      FROM embeddings
    )"""


def cosine_dots_sql(source: str) -> str:
    """Exact-decimal cosine parts for every (query_id, neighbor_id) pair of
    the vector pairs (qv, bv) that `source` (a FROM clause) yields:
    expanded -> dots(query_id, neighbor_id, dot, qn2, bn2)."""
    return f"""expanded AS (
      SELECT query_id, neighbor_id, qv, bv, unnest(range(1, 65)) AS i
      {source}
    ), dots AS (
      SELECT query_id, neighbor_id,
             CAST(SUM(CAST(CAST(qv[i] AS DOUBLE) * CAST(bv[i] AS DOUBLE) AS DECIMAL(25,15))) AS DOUBLE) AS dot,
             CAST(SUM(CAST(CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE) AS DECIMAL(25,15))) AS DOUBLE) AS qn2,
             CAST(SUM(CAST(CAST(bv[i] AS DOUBLE) * CAST(bv[i] AS DOUBLE) AS DECIMAL(25,15))) AS DOUBLE) AS bn2
      FROM expanded GROUP BY query_id, neighbor_id
    )"""


@query(
    "embedding_near_dup_pairs",
    oracle=SIGN_TAGGED_CTE
    + """, pairs AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, a.embedding AS qv, b.embedding AS bv
      FROM tagged a JOIN tagged b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    ), """
    + cosine_dots_sql("FROM pairs")
    + """
    SELECT query_id AS id_a, neighbor_id AS id_b,
           round(dot / (sqrt(qn2) * sqrt(bn2)), 7) AS cos_sim
    FROM dots
    WHERE round(dot / (sqrt(qn2) * sqrt(bn2)), 7) >= 0.4
    """,
)
def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: bucketed self-join (6 sign bits -> 64
    buckets) so only same-bucket pairs are scored, then exact-decimal cosine
    >= 0.4. The all-pairs cross join never materializes — the standard
    embedding-dedup shape for billion-row corpora."""
    from etl_poc_spark.operators.similarity import sign_bucket_expr

    emb = load_table(spark, sf_dir, "embeddings")
    # r16: the bucket self-join CARRIES both whole vectors straight into
    # the scorer (guide §2.4/§8) — before, it emitted id pairs and two
    # broadcast joins re-attached the vectors (plus two bounded probe
    # jobs). Same shuffle bytes: each vector crossed an exchange exactly
    # once either way. Norms stay the single pinned per-vector pass
    # (vecs is both cosine sides).
    tagged = emb.select("vec_id", "embedding", sign_bucket_expr("embedding", 6).alias("bucket"))
    a = tagged.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("__va"), "bucket"
    )
    b = tagged.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("__vb"), "bucket"
    )
    carried = a.join(
        b, (a.bucket == b.bucket) & (F.col("query_id") < F.col("neighbor_id"))
    ).drop("bucket")
    vecs = emb.select("vec_id", "embedding")
    scored = _pair_cosine_carried(carried, vecs, vecs, "vec_id", "embedding")
    return (
        scored.filter(F.col("cos_sim") >= 0.4)
        .select(F.col("query_id").alias("id_a"), F.col("neighbor_id").alias("id_b"), "cos_sim")
    )
