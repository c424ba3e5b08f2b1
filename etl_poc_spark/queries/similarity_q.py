"""Similarity-search queries over the `embeddings` table (north-star).

Dot products accumulate in DECIMAL (exact, order-independent) so cosine
values are bit-identical between Spark and the DuckDB oracle — see
operators/similarity.py for the expression.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_poc_spark.io import load_table, table_path
from etl_poc_spark.operators.pins import memo_model, pin
from etl_poc_spark.operators.similarity import cosine_topk, ivf_cosine_topk
from etl_poc_spark.queries.dedup_q import (
    PLANTED_ID_OFFSET,
    SIGN_TAGGED_CTE,
    cosine_dots_sql,
)
from etl_poc_spark.registry import query

# Trained models (kmeans centroids, PQ codebooks) are memoized per
# embeddings-table version (pins.memo_model): training is deterministic, so
# the reuse is exact, and a long-lived process retrains if the table at the
# same path is regenerated — serving centroids trained on the old table
# would silently drift from an oracle trained on the new one.


def _embeddings_path(sf_dir: str) -> str:
    return table_path(sf_dir, "embeddings")


def _kmeans_centroids(sf_dir: str, base: DataFrame) -> list[list[float]]:
    """The 8-centroid coarse quantizer (2 Lloyd iterations) trained on the
    base split — one model shared by the kmeans-IVF and IVF-PQ queries."""
    from etl_poc_spark.operators.similarity import train_kmeans_centroids

    return memo_model(
        "kmeans",
        _embeddings_path(sf_dir),
        lambda: train_kmeans_centroids(base, n_centroids=8, n_iters=2),
    )


def _pq_codebooks(sf_dir: str, base: DataFrame) -> list[list[list[float]]]:
    """The 16 x 64 PQ codebooks (one Lloyd iteration) trained on the base
    split — shared by the PQ and IVF-PQ queries."""
    from etl_poc_spark.operators.similarity import train_pq_codebooks

    return memo_model(
        "pq",
        _embeddings_path(sf_dir),
        lambda: train_pq_codebooks(base, m=_PQ_M, k=_PQ_K, n_iters=1),
    )


# the exact-decimal cosine top-5 readout over a `dots` CTE
# (dedup_q.cosine_dots_sql)
_RANKED_TOP5_SQL = """, ranked AS (
      SELECT query_id, neighbor_id,
             round(dot / (sqrt(qn2) * sqrt(bn2)), 7) AS cos_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY round(dot / (sqrt(qn2) * sqrt(bn2)), 7) DESC, neighbor_id) AS rank
      FROM dots
    )
    SELECT query_id, neighbor_id, rank, cos_sim FROM ranked WHERE rank <= 5
    """


@query(
    "embedding_topk",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
    b AS (SELECT vec_id AS neighbor_id, embedding AS bv FROM embeddings WHERE vec_id >= 10),
    """
    + cosine_dots_sql("FROM q CROSS JOIN b")
    + _RANKED_TOP5_SQL,
)
def embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-5: 10 query vectors (vec_id < 10)
    against the rest. Query side broadcast; base side scanned once."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    b = emb.filter(F.col("vec_id") >= 10)
    return cosine_topk(q, b, k=5)


@query(
    "embedding_ivf_topk",
    oracle=SIGN_TAGGED_CTE
    + """,
    q AS (SELECT vec_id AS query_id, embedding AS qv, bucket FROM tagged WHERE vec_id < 10),
    b AS (SELECT vec_id AS neighbor_id, embedding AS bv, bucket FROM tagged WHERE vec_id >= 10),
    """
    + cosine_dots_sql("FROM q JOIN b USING (bucket)")
    + _RANKED_TOP5_SQL,
)
def embedding_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style approximate top-5: sign-bit coarse quantizer (6 bits ->
    64 buckets), queries probe only their own bucket. The cross join becomes
    an equi-join on bucket — the scale path for ANN over billions of rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    b = emb.filter(F.col("vec_id") >= 10)
    return ivf_cosine_topk(q, b, k=5, n_bits=6)


@query(
    "embedding_label_centroid_sim",
    oracle="""
    WITH expanded AS (
      SELECT label, vec_id, unnest(range(1, 65)) AS i, embedding
      FROM embeddings
    ), by_dim AS (
      SELECT label, i,
             CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(25,15))) AS DOUBLE)
               / COUNT(*) AS centroid_val
      FROM expanded GROUP BY label, i
    )
    SELECT label,
           CAST(SUM(CAST(centroid_val * centroid_val AS DECIMAL(25,15))) AS DOUBLE) AS centroid_norm2,
           COUNT(*) AS dim
    FROM by_dim GROUP BY label
    """,
)
def embedding_label_centroid_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid computation (the IVF training step): positional
    explode -> exact per-dimension mean -> centroid norm. Demonstrates
    vector aggregation without UDFs."""
    emb = load_table(spark, sf_dir, "embeddings")
    expanded = emb.select("label", "vec_id", F.posexplode(F.col("embedding")).alias("i0", "x"))
    by_dim = (
        expanded.groupBy("label", (F.col("i0") + 1).alias("i"))
        .agg(
            (F.sum(F.col("x").cast("double").cast("decimal(25,15)")).cast("double") / F.count(F.lit(1))).alias("centroid_val")
        )
    )
    return by_dim.groupBy("label").agg(
        F.sum((F.col("centroid_val") * F.col("centroid_val")).cast("decimal(25,15)")).cast("double").alias("centroid_norm2"),
        F.count(F.lit(1)).alias("dim"),
    )


def _lloyd_iter_sql(n: int, prev: str) -> str:
    """One unrolled Lloyd iteration as DuckDB CTE fragments: cosine sims
    against `prev` centroids -> stable argmax assignment -> decimal-exact
    per-dimension means -> COALESCE keeps the old centroid for an empty
    cluster (operators/similarity.py::train_kmeans_centroids parity)."""
    return f"""
    , s{n} AS (
      SELECT b.vec_id, ce.cluster,
             SUM((CAST(b.embedding[ce.i] AS DOUBLE) / bn.n) * (ce.c / cn.n)) AS sim
      FROM b, bnorm bn, {prev} ce, {prev}_norm cn
      WHERE bn.vec_id = b.vec_id AND cn.cluster = ce.cluster
      GROUP BY b.vec_id, ce.cluster
    ), a{n} AS (
      SELECT vec_id, cluster FROM (
        SELECT vec_id, cluster,
               row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cluster) AS rk
        FROM s{n}) WHERE rk = 1
    ), m{n} AS (
      SELECT a.cluster, d.i,
             CAST(SUM(CAST(CAST(b.embedding[d.i] AS DOUBLE) AS DECIMAL(25,15))) AS DOUBLE)
               / COUNT(*) AS c
      FROM a{n} a, b, dims d
      WHERE b.vec_id = a.vec_id
      GROUP BY a.cluster, d.i
    ), cf{n} AS (
      SELECT p.cluster, p.i, COALESCE(m.c, p.c) AS c
      FROM {prev} p LEFT JOIN m{n} m ON m.cluster = p.cluster AND m.i = p.i
    ), cf{n}_norm AS (
      SELECT cluster,
             CASE WHEN sqrt(SUM(c * c)) = 0 THEN 1 ELSE sqrt(SUM(c * c)) END AS n
      FROM cf{n} GROUP BY cluster
    )"""


def _kmeans_init_sql(k: int) -> str:
    """Lloyd init over the base CTE `b` (and `dims`): the vectors of the k
    smallest ids, cluster = rank order, with the centroid and base-vector
    norms the first iteration divides by."""
    return f"""ce0v AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cluster, embedding
      FROM (SELECT vec_id, embedding FROM b ORDER BY vec_id LIMIT {k})
    ), ce0 AS (
      SELECT cluster, d.i, CAST(embedding[d.i] AS DOUBLE) AS c FROM ce0v, dims d
    ), ce0_norm AS (
      SELECT cluster,
             CASE WHEN sqrt(SUM(c * c)) = 0 THEN 1 ELSE sqrt(SUM(c * c)) END AS n
      FROM ce0 GROUP BY cluster
    ), bnorm AS (
      SELECT b.vec_id,
             CASE WHEN sqrt(SUM(CAST(b.embedding[d.i] AS DOUBLE) * CAST(b.embedding[d.i] AS DOUBLE))) = 0
                  THEN 1
                  ELSE sqrt(SUM(CAST(b.embedding[d.i] AS DOUBLE) * CAST(b.embedding[d.i] AS DOUBLE))) END AS n
      FROM b, dims d GROUP BY b.vec_id
    )"""


# shared between _KMEANS_IVF_ORACLE and _IVFPQ_ORACLE: coarse-quantizer
# training (init + norms) and the trained base/query cluster assignments
_KM_HEADER = (
    """
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
    b AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 10),
    dims AS (SELECT unnest(range(1, 65)) AS i),
    -- init: the vectors of the 8 smallest base ids, cluster = rank order
    -- (rank the 8 vectors FIRST, then expand dims — ranking after the dim
    -- expansion would number all 512 (vec, dim) rows)
    """
    + _kmeans_init_sql(8)
    + """, qnorm AS (
      SELECT q.vec_id,
             CASE WHEN sqrt(SUM(CAST(q.embedding[d.i] AS DOUBLE) * CAST(q.embedding[d.i] AS DOUBLE))) = 0
                  THEN 1
                  ELSE sqrt(SUM(CAST(q.embedding[d.i] AS DOUBLE) * CAST(q.embedding[d.i] AS DOUBLE))) END AS n
      FROM q, dims d GROUP BY q.vec_id
    )"""
)

_KM_ASSIGN = """
    , ba AS (
      SELECT vec_id AS neighbor_id, cluster FROM (
        SELECT s.vec_id, s.cluster,
               row_number() OVER (PARTITION BY s.vec_id ORDER BY s.sim DESC, s.cluster) AS rk
        FROM (
          SELECT b.vec_id, ce.cluster,
                 SUM((CAST(b.embedding[ce.i] AS DOUBLE) / bn.n) * (ce.c / cn.n)) AS sim
          FROM b, bnorm bn, cf2 ce, cf2_norm cn
          WHERE bn.vec_id = b.vec_id AND cn.cluster = ce.cluster
          GROUP BY b.vec_id, ce.cluster
        ) s) WHERE rk = 1
    ), qa AS (
      SELECT vec_id AS query_id, cluster FROM (
        SELECT s.vec_id, s.cluster,
               row_number() OVER (PARTITION BY s.vec_id ORDER BY s.sim DESC, s.cluster) AS rk
        FROM (
          SELECT q.vec_id, ce.cluster,
                 SUM((CAST(q.embedding[ce.i] AS DOUBLE) / qn.n) * (ce.c / cn.n)) AS sim
          FROM q, qnorm qn, cf2 ce, cf2_norm cn
          WHERE qn.vec_id = q.vec_id AND cn.cluster = ce.cluster
          GROUP BY q.vec_id, ce.cluster
        ) s) WHERE rk <= 3
    )"""

_KMEANS_IVF_ORACLE = (
    _KM_HEADER
    + _lloyd_iter_sql(1, "ce0")
    + _lloyd_iter_sql(2, "cf1")
    + _KM_ASSIGN
    + """
    , cand AS (
      SELECT qa.query_id, ba.neighbor_id, q.embedding AS qv, b.embedding AS bv
      FROM qa JOIN ba USING (cluster)
      JOIN q ON q.vec_id = qa.query_id
      JOIN b ON b.vec_id = ba.neighbor_id
    ), """
    + cosine_dots_sql("FROM cand")
    + _RANKED_TOP5_SQL
)


@query("embedding_kmeans_ivf_topk", oracle=_KMEANS_IVF_ORACLE)
def embedding_kmeans_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 with a TRAINED coarse quantizer: 8 KMeans
    centroids (2 deterministic Lloyd iterations — decimal-accumulated
    means, id-ordered init), queries probe their 3 nearest clusters.
    Candidate space shrinks ~2.7x versus brute force. The synthetic
    embeddings are near-uniform (little cluster structure), which bounds
    IVF recall here (~0.6 measured); on real corpus embeddings, which
    cluster heavily, the same shape holds recall far higher.

    Hash-checked oracle: the 2 Lloyd iterations unroll into chained DuckDB
    CTEs (init = 8 smallest base ids; assignment = stable cosine argmax
    over 8 centroids; means decimal-accumulated exactly as the operator).
    Assignment parity note: cosine VALUES differ from numpy's matmul in
    the last float bits (different summation order), but only the argmax
    ORDER matters, and inter-centroid gaps dwarf summation noise; the
    decimal means and the final ranked cosines are bit-exact."""
    from etl_poc_spark.operators.similarity import kmeans_ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    b = emb.filter(F.col("vec_id") >= 10)
    # the coarse quantizer is a build-once model artifact: training is
    # deterministic (id-ordered init, decimal-exact means), so repeated
    # calls over the same table reuse the centroids instead of re-running
    # two Lloyd collects per query — exactly how a production IVF serves
    # (train offline once, probe many times)
    centroids = _kmeans_centroids(sf_dir, b)
    return kmeans_ivf_topk(q, b, k=5, nprobe=3, centroids=centroids)


# --- Product Quantization: compressed-codes ANN (ADC) ----------------------

# 16 subspaces x 64 codewords: 16 codes of 6 bits = 12 B payload per vector
# (~21x smaller than the 64 floats). Near-uniform synthetic vectors are the
# WORST case for quantization (zero structure to exploit); this config holds
# recall ~0.58 there, the honest floor — clustered real embeddings recover
# far more. Fewer/larger subspaces measured much worse on this data
# (m=4,k=16 -> 0.06; m=16,k=16 -> 0.40).
_PQ_M = 16  # subspaces
_PQ_SUB = 4  # dims per subspace (64 / 16)
_PQ_K = 64  # codewords per subspace

def _pq_sub_sql(s: int) -> str:
    """Unrolled per-subspace PQ training + encode as DuckDB CTEs: slice ->
    id-ordered init -> ONE Lloyd iteration (cosine argmax assign,
    decimal-exact means, empty clusters keep the init codeword) -> encode
    every base vector against the trained codebook. Mirrors
    operators/similarity.py::train_pq_codebooks / pq_encode bit-for-bit on
    the decimal means (assignment parity per the kmeans-IVF note)."""
    lo, hi = s * _PQ_SUB + 1, (s + 1) * _PQ_SUB
    p = f"s{s}"
    return f"""
    , b_{p} AS (
      SELECT vec_id, list_transform(embedding[{lo}:{hi}], x -> CAST(x AS DOUBLE)) AS sub
      FROM b
    ), dims_{p} AS (SELECT unnest(range(1, {_PQ_SUB + 1})) AS i)
    , init_{p} AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cluster, sub
      FROM (SELECT vec_id, sub FROM b_{p} ORDER BY vec_id LIMIT {_PQ_K})
    ), ce0_{p} AS (
      SELECT cluster, d.i, CAST(sub[d.i] AS DOUBLE) AS c FROM init_{p}, dims_{p} d
    ), ce0_{p}_norm AS (
      SELECT cluster,
             CASE WHEN sqrt(SUM(c * c)) = 0 THEN 1 ELSE sqrt(SUM(c * c)) END AS n
      FROM ce0_{p} GROUP BY cluster
    ), bn_{p} AS (
      SELECT b.vec_id,
             CASE WHEN sqrt(SUM(b.sub[d.i] * b.sub[d.i])) = 0 THEN 1
                  ELSE sqrt(SUM(b.sub[d.i] * b.sub[d.i])) END AS n
      FROM b_{p} b, dims_{p} d GROUP BY b.vec_id
    ), a1_{p} AS (
      SELECT vec_id, cluster FROM (
        SELECT s.vec_id, s.cluster,
               row_number() OVER (PARTITION BY s.vec_id ORDER BY s.sim DESC, s.cluster) AS rk
        FROM (
          SELECT b.vec_id, ce.cluster,
                 SUM((b.sub[ce.i] / bn.n) * (ce.c / cn.n)) AS sim
          FROM b_{p} b, bn_{p} bn, ce0_{p} ce, ce0_{p}_norm cn
          WHERE bn.vec_id = b.vec_id AND cn.cluster = ce.cluster
          GROUP BY b.vec_id, ce.cluster
        ) s) WHERE rk = 1
    ), m1_{p} AS (
      SELECT a.cluster, d.i,
             CAST(SUM(CAST(CAST(b.sub[d.i] AS DOUBLE) AS DECIMAL(25,15))) AS DOUBLE)
               / COUNT(*) AS c
      FROM a1_{p} a, b_{p} b, dims_{p} d
      WHERE b.vec_id = a.vec_id
      GROUP BY a.cluster, d.i
    ), cb_{p} AS (
      SELECT p0.cluster, p0.i, COALESCE(m.c, p0.c) AS c
      FROM ce0_{p} p0 LEFT JOIN m1_{p} m ON m.cluster = p0.cluster AND m.i = p0.i
    ), cb_{p}_norm AS (
      SELECT cluster,
             CASE WHEN sqrt(SUM(c * c)) = 0 THEN 1 ELSE sqrt(SUM(c * c)) END AS n
      FROM cb_{p} GROUP BY cluster
    ), enc_{p} AS (
      SELECT vec_id, cluster AS code FROM (
        SELECT s.vec_id, s.cluster,
               row_number() OVER (PARTITION BY s.vec_id ORDER BY s.sim DESC, s.cluster) AS rk
        FROM (
          SELECT b.vec_id, ce.cluster,
                 SUM((b.sub[ce.i] / bn.n) * (ce.c / cn.n)) AS sim
          FROM b_{p} b, bn_{p} bn, cb_{p} ce, cb_{p}_norm cn
          WHERE bn.vec_id = b.vec_id AND cn.cluster = ce.cluster
          GROUP BY b.vec_id, ce.cluster
        ) s) WHERE rk = 1
    ), dec_{p} AS (
      SELECT e.vec_id, {lo - 1} + c.i AS i, c.c
      FROM enc_{p} e JOIN cb_{p} c ON c.cluster = e.code
    )"""


_PQ_ORACLE = (
    """
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
    b AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 10),
    qdims AS (SELECT unnest(range(1, 65)) AS i)"""
    + "".join(_pq_sub_sql(s) for s in range(_PQ_M))
    + """
    , dec AS ("""
    + " UNION ALL ".join(f"SELECT * FROM dec_s{s}" for s in range(_PQ_M))
    + """
    ), qnorm AS (
      SELECT q.vec_id,
             sqrt(CAST(SUM(CAST(CAST(q.embedding[d.i] AS DOUBLE) * CAST(q.embedding[d.i] AS DOUBLE)
                               AS DECIMAL(25,15))) AS DOUBLE)) AS n
      FROM q, qdims d GROUP BY q.vec_id
    ), dnorm AS (
      SELECT vec_id,
             sqrt(CAST(SUM(CAST(c * c AS DECIMAL(25,15))) AS DOUBLE)) AS n
      FROM dec GROUP BY vec_id
    ), dots AS (
      SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
             CAST(SUM(CAST(CAST(q.embedding[d.i] AS DOUBLE) * d.c AS DECIMAL(25,15))) AS DOUBLE) AS dot
      FROM q, dec d GROUP BY q.vec_id, d.vec_id
    ), ranked AS (
      SELECT dots.query_id, dots.neighbor_id,
             round(dots.dot / (qn.n * dn.n), 7) AS cos_sim,
             row_number() OVER (PARTITION BY dots.query_id
                                ORDER BY round(dots.dot / (qn.n * dn.n), 7) DESC, dots.neighbor_id) AS rank
      FROM dots JOIN qnorm qn ON qn.vec_id = dots.query_id
                JOIN dnorm dn ON dn.vec_id = dots.neighbor_id
    )
    SELECT query_id, neighbor_id, rank, cos_sim FROM ranked WHERE rank <= 5
    """
)


@query("embedding_pq_topk", oracle=_PQ_ORACLE)
def embedding_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-Quantization ANN (Jegou et al. 2011), the compressed-index
    scale path: the base split encodes to 16 codes of 6 bits each (16
    trained 64-codeword codebooks over 4-dim subspaces, ~21x smaller than
    the float vectors), and queries score by asymmetric distance — true
    query vector against the candidate's RECONSTRUCTED vector, decoded
    inside codegen from a literal codebook (no UDF, no join on the decode
    path; at production codebook sizes ship the table via broadcast +
    Arrow decode instead of a plan literal).

    Hash-checked oracle: per-subspace unrolled Lloyd (id-ordered init,
    one iteration, decimal-exact means) + encode + reconstruction + the
    standard decimal dot/norm/rank machinery, so codes, reconstructed
    values, cosines, and ranks all match bit-for-bit. Compose with the
    trained coarse quantizer (embedding_kmeans_ivf_topk) for candidate
    pruning to get the full FAISS-style IVF-PQ at cluster scale."""
    from etl_poc_spark.operators.similarity import pq_adc_topk, pq_encode

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    b = emb.filter(F.col("vec_id") >= 10)
    books = _pq_codebooks(sf_dir, b)
    codes = pq_encode(b, books)
    return pq_adc_topk(q, codes, books, k=5)


# --- IVF-PQ: coarse-quantizer candidate gating + ADC scoring ----------------

_IVFPQ_ORACLE = (
    _KM_HEADER
    + _lloyd_iter_sql(1, "ce0")
    + _lloyd_iter_sql(2, "cf1")
    + _KM_ASSIGN
    + "".join(_pq_sub_sql(s) for s in range(_PQ_M))
    + """
    , dec AS ("""
    + " UNION ALL ".join(f"SELECT * FROM dec_s{s}" for s in range(_PQ_M))
    + """
    ), adc_qnorm AS (
      SELECT q.vec_id,
             sqrt(CAST(SUM(CAST(CAST(q.embedding[d.i] AS DOUBLE) * CAST(q.embedding[d.i] AS DOUBLE)
                               AS DECIMAL(25,15))) AS DOUBLE)) AS n
      FROM q, dims d GROUP BY q.vec_id
    ), adc_dnorm AS (
      SELECT vec_id,
             sqrt(CAST(SUM(CAST(c * c AS DECIMAL(25,15))) AS DOUBLE)) AS n
      FROM dec GROUP BY vec_id
    ), cand AS (
      SELECT qa.query_id, ba.neighbor_id FROM qa JOIN ba USING (cluster)
    ), dots AS (
      SELECT c.query_id, c.neighbor_id,
             CAST(SUM(CAST(CAST(q.embedding[d.i] AS DOUBLE) * d.c AS DECIMAL(25,15))) AS DOUBLE) AS dot
      FROM cand c
      JOIN q ON q.vec_id = c.query_id
      JOIN dec d ON d.vec_id = c.neighbor_id
      GROUP BY c.query_id, c.neighbor_id
    ), ranked AS (
      SELECT dots.query_id, dots.neighbor_id,
             round(dots.dot / (qn.n * dn.n), 7) AS cos_sim,
             row_number() OVER (PARTITION BY dots.query_id
                                ORDER BY round(dots.dot / (qn.n * dn.n), 7) DESC, dots.neighbor_id) AS rank
      FROM dots JOIN adc_qnorm qn ON qn.vec_id = dots.query_id
                JOIN adc_dnorm dn ON dn.vec_id = dots.neighbor_id
    )
    SELECT query_id, neighbor_id, rank, cos_sim FROM ranked WHERE rank <= 5
    """
)


@query("embedding_ivfpq_topk", oracle=_IVFPQ_ORACLE)
def embedding_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full FAISS-style IVF-PQ (operators/similarity.py::ivfpq_topk):
    the trained 8-centroid coarse quantizer gates candidates first
    (queries probe their 3 nearest clusters — the cluster equi-join the
    embedding_pq_topk docstring promised to compose), then only the gated
    candidates ADC-score against their PQ reconstructions (16x64
    codebooks, codes decoded in-plan). Both models serve from the same
    fingerprint-keyed caches as their standalone queries, so registering
    this query adds no extra training jobs to a warm session.

    Hash-checked oracle: the kmeans-IVF assignment CTEs chained with the
    per-subspace PQ train/encode/decode CTEs — candidate set, codes,
    reconstructions, cosines, and ranks all match bit-for-bit."""
    from etl_poc_spark.operators.similarity import ivfpq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    b = emb.filter(F.col("vec_id") >= 10)
    return ivfpq_topk(
        q,
        b,
        k=5,
        nprobe=3,
        centroids=_kmeans_centroids(sf_dir, b),
        codebooks=_pq_codebooks(sf_dir, b),
    )


# --- SemDeDup: semantic dedup via cluster-bounded pairwise cosine ----------

_SEMDEDUP_K = 64  # coarse clusters: pair work is sum(c^2)/2 per cluster
_SEMDEDUP_CLUSTER_CAP = 2000  # degenerate-cluster guard (inert at test SFs)

# The oracle-DEMO corpus is bounded to this many base vectors (inert at
# sf<=0.1, which has <=2000; binds only at sf1+): the demo's fixed k=64
# quantizer means per-cluster occupancy — and so pair work — grows with
# corpus size in BOTH engines (the one standing sf1 gate exclusion in
# r12/r13). The demo row's job is bit-exact cross-engine KERNEL
# verification (cluster ids, cosines, drop flags), which a bounded corpus
# serves at every scale; the SCALE posture belongs to the three production
# configs (adaptive k, minibatch training, float verify), which run the
# full corpus and are digest-pinned at sf1 (r13 verdict ask #2).
_SEMDEDUP_DEMO_CAP = 2000

_SEMDEDUP_ORACLE = (
    f"""
    WITH emb_d AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
      FROM embeddings WHERE vec_id < {_SEMDEDUP_DEMO_CAP}
    ), b AS (
      SELECT vec_id, embedding FROM emb_d
      UNION ALL
      SELECT vec_id + {PLANTED_ID_OFFSET} AS vec_id, list_transform(embedding, x -> x * 1.5) AS embedding
      FROM emb_d WHERE vec_id % 10 = 0
    ),
    dims AS (SELECT unnest(range(1, 65)) AS i),
    """
    + _kmeans_init_sql(64)
    + _lloyd_iter_sql(1, "ce0")
    + """
    , ba AS (
      SELECT vec_id, cluster FROM (
        SELECT s.vec_id, s.cluster,
               row_number() OVER (PARTITION BY s.vec_id ORDER BY s.sim DESC, s.cluster) AS rk
        FROM (
          SELECT b.vec_id, ce.cluster,
                 SUM((CAST(b.embedding[ce.i] AS DOUBLE) / bn.n) * (ce.c / cn.n)) AS sim
          FROM b, bnorm bn, cf1 ce, cf1_norm cn
          WHERE bn.vec_id = b.vec_id AND cn.cluster = ce.cluster
          GROUP BY b.vec_id, ce.cluster
        ) s) WHERE rk = 1
    ), vnorm AS (
      -- pair-cosine norms mirror operators/similarity.py::_norms exactly:
      -- decimal-accumulated sum of squares, cast double, THEN sqrt (no
      -- zero-guard — _pair_cosine has none)
      SELECT b.vec_id,
             sqrt(CAST(SUM(CAST(b.embedding[d.i] * b.embedding[d.i] AS DECIMAL(25,15))) AS DOUBLE)) AS n
      FROM b, dims d GROUP BY b.vec_id
    ), csize AS (
      SELECT cluster FROM ba GROUP BY cluster HAVING COUNT(*) <= 2000
    ), bok AS (
      SELECT ba.* FROM ba JOIN csize USING (cluster)
    ), pr AS (
      SELECT a1.vec_id AS id_a, a2.vec_id AS id_b
      FROM bok a1 JOIN bok a2 ON a1.cluster = a2.cluster AND a1.vec_id < a2.vec_id
    ), pexp AS (
      SELECT pr.id_a, pr.id_b, va.embedding AS qv, vb.embedding AS bv, d.i
      FROM pr JOIN b va ON va.vec_id = pr.id_a
              JOIN b vb ON vb.vec_id = pr.id_b, dims d
    ), pdots AS (
      SELECT id_a, id_b,
             CAST(SUM(CAST(qv[i] * bv[i] AS DECIMAL(25,15))) AS DOUBLE) AS dot
      FROM pexp GROUP BY id_a, id_b
    ), cos AS (
      SELECT p.id_a, p.id_b, round(p.dot / (na.n * nb.n), 7) AS cos_sim
      FROM pdots p JOIN vnorm na ON na.vec_id = p.id_a
                   JOIN vnorm nb ON nb.vec_id = p.id_b
    ), dropped AS (
      SELECT DISTINCT id_b AS vec_id FROM cos WHERE cos_sim >= 0.99
    )
    SELECT ba.vec_id, ba.cluster, (d.vec_id IS NOT NULL) AS is_dropped
    FROM ba LEFT JOIN dropped d ON d.vec_id = ba.vec_id
    """
)


def _semdedup_corpus(
    spark: SparkSession, sf_dir: str, cap: int | None = None
) -> DataFrame:
    """Embeddings plus exact-direction duplicates: every vec_id % 10 == 0
    vector reappears at vec_id + PLANTED_ID_OFFSET scaled by 1.5 — scaling preserves
    direction, so each copy has cosine 1.0 with its original (well above
    the 0.99 threshold) while the near-uniform synthetic vectors keep all
    OTHER pairs far below it.

    `cap` bounds the BASE corpus to vec_id < cap — used only by the
    oracle-demo row (semdedup_flags), whose fixed k=64 quantizer makes
    within-cluster pair work quadratic in corpus size in BOTH engines;
    the production configs (adaptive k = n/200) take the full corpus."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding")
    )
    if cap is not None:
        emb = emb.filter(F.col("vec_id") < int(cap))
    dups = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + PLANTED_ID_OFFSET).alias("vec_id"),
        F.expr("transform(embedding, x -> x * CAST(1.5 AS DOUBLE))").alias("embedding"),
    )
    return emb.unionByName(dups)


@query("semdedup_flags", oracle=_SEMDEDUP_ORACLE)
def semdedup_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) over the duplicated embedding corpus:
    cluster with the trained coarse quantizer (64 centroids, one
    deterministic Lloyd iteration — a coarse partition is all SemDeDup
    needs), compute exact cosine only WITHIN clusters, and drop the
    larger id of every pair with cosine >= 0.99. Output, one row per
    vector: (vec_id, cluster, is_dropped).

    Scale shape: the pairwise stage is bounded by cluster occupancy —
    sum(c_k^2)/2 candidate pairs instead of n^2/2 (the SemDeDup insight:
    semantic duplicates land in the same coarse cluster, so cross-cluster
    pairs never materialize). Clusters above the occupancy cap are
    excluded from the pairwise stage (degenerate-cluster guard, mirrored
    in the oracle — same role as the LSH bucket caps). Training reuses
    the cached deterministic quantizer; assignment is one Arrow-batched
    pass; the cosine kernel is the decimal-exact _pair_cosine used by
    every ANN query.

    Hash-checked oracle: unrolled-Lloyd CTEs (the embedding_kmeans_ivf_topk
    machinery, 64 centroids) + per-cluster self-join + the same decimal
    dot/norm arithmetic, so cluster ids, cosines, and drop flags all
    match bit-for-bit."""
    from etl_poc_spark.operators.similarity import semdedup, train_kmeans_centroids

    # the corpus feeds MANY driver actions (training collects, broadcast
    # probes, both pair sides, both norm frames) — pin it so the cast+union
    # runs once; at cluster scale this is the materialized corpus table.
    # DEMO-BOUNDED corpus (see _SEMDEDUP_DEMO_CAP): this row verifies the
    # kernel bit-for-bit against DuckDB at every scale; the production
    # configs below carry the scale posture on the full corpus.
    corpus = pin(_semdedup_corpus(spark, sf_dir, cap=_SEMDEDUP_DEMO_CAP))
    # trained on the duplicated corpus, not the base split: its own model
    centroids = memo_model(
        "semdedup",
        _embeddings_path(sf_dir),
        lambda: train_kmeans_centroids(corpus, n_centroids=_SEMDEDUP_K, n_iters=1),
    )
    return semdedup(
        corpus, centroids, threshold=0.99, max_cluster_size=_SEMDEDUP_CLUSTER_CAP
    )


def _semdedup_production(spark: SparkSession, sf_dir: str, **kwargs) -> DataFrame:
    """SemDeDup in its production configuration over the full duplicated
    corpus: adaptive k (n/200) trained by the minibatch trainer — a
    different model from the oracle-demo 64-centroid quantizer, shared by
    the three production queries — and the float pair verify. `kwargs`
    pick the assignment path (`semdedup`'s `assign`,
    `probe_superclusters`)."""
    from etl_poc_spark.operators.similarity import (
        auto_centroids,
        semdedup,
        train_kmeans_centroids_minibatch,
    )

    corpus = pin(_semdedup_corpus(spark, sf_dir))

    def train() -> list[list[float]]:
        k = auto_centroids(corpus.count(), target_cluster_size=200)
        return train_kmeans_centroids_minibatch(corpus, n_centroids=k, n_iters=4)

    centroids = memo_model("semdedup_prod", _embeddings_path(sf_dir), train)
    return semdedup(
        corpus,
        centroids,
        threshold=0.99,
        max_cluster_size=_SEMDEDUP_CLUSTER_CAP,
        verify="float",
        **kwargs,
    )


@query("semdedup_flags_adaptive_float")
def semdedup_flags_adaptive_float(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup in its PRODUCTION configuration — the path a 100-TB run
    would actually use, distinct from `semdedup_flags` (the oracle demo
    pinned at k=64 + decimal-exact verify for DuckDB bit-stability):

    - `auto_centroids` (k = n/200): constant expected cluster occupancy,
      so within-cluster pair work grows LINEARLY with the corpus — the
      fixed-k superlinearity the 10x smoke measured (SCALING.md);
    - `train_kmeans_centroids_minibatch`: bounded deterministic
      hash-sampled minibatches, constant per-iteration cost — the full
      Lloyd pass per iteration was the next dominant phase after the
      pair-stage fix;
    - `verify="float"`: the Arrow-batched numpy pair scorer (~10-40x
      less work per pair than the decimal explode), thresholding the
      unrounded cosine.

    No SQL oracle — DuckDB can't replay the float kernels bit-for-bit —
    but every stage is deterministic (hash-defined sample/batches,
    decimal-exact batch sums folded in fixed order, stable argmax, fixed
    per-row float dot), so the output is pinned-exact: gen_pins.py
    verifies bit-stability under the adversarial session and the gate
    value-checks it. Flag parity with the exact path is pytest-pinned."""
    return _semdedup_production(spark, sf_dir)


@query("semdedup_flags_adaptive_two_level")
def semdedup_flags_adaptive_two_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production semdedup with the r11 TWO-LEVEL assignment —
    the configuration a 100-TB run would use once auto_centroids makes
    the flat O(n·k) assignment matmul the dominant phase (measured:
    SCALING.md r11, 10x faster at 100x). Same trained minibatch
    quantizer as `semdedup_flags_adaptive_float` (shared model memo);
    only the assignment path differs: vectors probe ~sqrt(k)
    super-centroids and argmax over their members. Deterministic
    end-to-end (stable super-quantization of the KB-sized model,
    first-max tie-breaks at both levels, grouped float verify), so the
    output is pinned-exact like its flat sibling; flag parity with flat
    is pytest-pinned on the planted-duplicate corpus."""
    return _semdedup_production(spark, sf_dir, assign="two_level")


@query("semdedup_flags_two_level_p2")
def semdedup_flags_two_level_p2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two-level assignment at probe width 2 (probe_superclusters=2
    instead of the default 4) — the narrow-probe point of the r12
    probe-width sweep (SCALING.md: decision-delta vs flat as a function
    of w; cost ~(√k + w·√k) dots/vector, so w=2 is ~3√k). Pinned-exact
    like its siblings: every stage is deterministic, only the probe
    fan-out differs."""
    return _semdedup_production(
        spark, sf_dir, assign="two_level", probe_superclusters=2
    )


# SQ8 quantizer: per-dim min/max of the base side `b`, and the uint8 code
# of `t.v` against the bounds `s` of its dim
_SQ8_STATS_SQL = """stats AS (
      SELECT i, MIN(CAST(v AS DOUBLE)) AS mn, MAX(CAST(v AS DOUBLE)) AS mx
      FROM (SELECT unnest(embedding) AS v, unnest(range(1, 65)) AS i FROM b)
      GROUP BY i
    )"""
_SQ8_CODE_SQL = """CASE WHEN s.mx > s.mn THEN LEAST(255, GREATEST(0,
               CAST(FLOOR((CAST(t.v AS DOUBLE) - s.mn) * CAST(255 AS DOUBLE)
                          / (s.mx - s.mn)) AS INTEGER)))
             ELSE 0 END AS c"""


@query(
    "embedding_sq8_topk",
    oracle=f"""
    WITH b AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 4),
    q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 4),
    {_SQ8_STATS_SQL}, bz AS (
      SELECT t.vec_id, t.i,
             {_SQ8_CODE_SQL}
      FROM (SELECT vec_id, unnest(embedding) AS v, unnest(range(1, 65)) AS i
            FROM b) t
      JOIN stats s USING (i)
    ), qz AS (
      SELECT t.vec_id, t.i,
             {_SQ8_CODE_SQL}
      FROM (SELECT vec_id, unnest(embedding) AS v, unnest(range(1, 65)) AS i
            FROM q) t
      JOIN stats s USING (i)
    ), scores AS (
      SELECT qz.vec_id AS query_id, bz.vec_id AS neighbor_id,
             CAST(SUM(qz.c * bz.c) AS BIGINT) AS score
      FROM qz JOIN bz USING (i)
      GROUP BY 1, 2
    ), ranked AS (
      SELECT query_id, neighbor_id, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, neighbor_id) AS rank
      FROM scores
    )
    SELECT query_id, neighbor_id, rank, score FROM ranked WHERE rank <= 10
    """,
)
def embedding_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 scalar-quantized top-10 (the remaining member of the FAISS
    quantization family next to embedding_ivf/pq/ivfpq_topk): per-dim
    min/max bounds trained on the base side as one 1-row aggregation,
    uint8 codes via map-only literal arithmetic (4× memory vs float32),
    symmetric INTEGER dot-product scoring — exact BIGINT, so the whole
    query is hash-exact against the DuckDB re-derivation, quantizer
    included. 4 query vectors against the rest."""
    from etl_poc_spark.operators.similarity import sq8_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 4)
    b = emb.filter(F.col("vec_id") >= 4)
    return sq8_topk(q, b, k=10)


@query(
    "embedding_ivf_sq8_topk",
    oracle=SIGN_TAGGED_CTE
    + f""",
    b AS (SELECT vec_id, embedding, bucket FROM tagged WHERE vec_id >= 10),
    q AS (SELECT vec_id, embedding, bucket FROM tagged WHERE vec_id < 10),
    {_SQ8_STATS_SQL}, bz AS (
      SELECT t.vec_id, t.bucket, t.i,
             {_SQ8_CODE_SQL}
      FROM (SELECT vec_id, bucket, unnest(embedding) AS v,
                   unnest(range(1, 65)) AS i FROM b) t
      JOIN stats s USING (i)
    ), qz AS (
      SELECT t.vec_id, t.bucket, t.i,
             {_SQ8_CODE_SQL}
      FROM (SELECT vec_id, bucket, unnest(embedding) AS v,
                   unnest(range(1, 65)) AS i FROM q) t
      JOIN stats s USING (i)
    ), scores AS (
      SELECT qz.vec_id AS query_id, bz.vec_id AS neighbor_id,
             CAST(SUM(qz.c * bz.c) AS BIGINT) AS score
      FROM qz JOIN bz ON qz.bucket = bz.bucket AND qz.i = bz.i
      GROUP BY 1, 2
    ), ranked AS (
      SELECT query_id, neighbor_id, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, neighbor_id) AS rank
      FROM scores
    )
    SELECT query_id, neighbor_id, rank, score FROM ranked WHERE rank <= 5
    """,
)
def embedding_ivf_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF bucketing + SQ8 integer scoring composed (the billion-row ANN
    shape: equi-join candidate generation, 4×-compressed candidate scan):
    10 query vectors probe their own sign-bit bucket; candidates score by
    the quantized integer dot. Hash-exact — coarse quantizer, bounds,
    codes, and ranking all re-derived by the oracle."""
    from etl_poc_spark.operators.similarity import ivf_sq8_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    b = emb.filter(F.col("vec_id") >= 10)
    return ivf_sq8_topk(q, b, k=5)


@query(
    "bitext_margin_pairs",
    oracle="""
    WITH s AS (SELECT vec_id, embedding FROM embeddings
               WHERE label % 2 = 0 AND vec_id < 40),
    t AS (SELECT vec_id, embedding FROM embeddings WHERE label % 2 = 1),
    expanded AS (
      SELECT s.vec_id AS query_id, t.vec_id AS neighbor_id,
             s.embedding AS qv, t.embedding AS bv,
             unnest(range(1, 65)) AS i
      FROM s CROSS JOIN t
    ), dots AS (
      SELECT query_id, neighbor_id,
             CAST(SUM(CAST(CAST(qv[i] AS DOUBLE) * CAST(bv[i] AS DOUBLE) AS DECIMAL(25,15))) AS DOUBLE) AS dot,
             CAST(SUM(CAST(CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE) AS DECIMAL(25,15))) AS DOUBLE) AS qn2,
             CAST(SUM(CAST(CAST(bv[i] AS DOUBLE) * CAST(bv[i] AS DOUBLE) AS DECIMAL(25,15))) AS DOUBLE) AS bn2
      FROM expanded GROUP BY 1, 2
    ), scored AS (
      SELECT query_id, neighbor_id,
             round(dot / (sqrt(qn2) * sqrt(bn2)), 7) AS cos_sim
      FROM dots
    ), ranked AS (
      SELECT *,
        row_number() OVER (PARTITION BY query_id
                           ORDER BY cos_sim DESC, neighbor_id) AS rq,
        row_number() OVER (PARTITION BY neighbor_id
                           ORDER BY cos_sim DESC, query_id) AS rn
      FROM scored
    ), stats AS (
      SELECT *,
        SUM(CASE WHEN rq <= 4 THEN CAST(cos_sim AS DECIMAL(18,7)) END)
          OVER (PARTITION BY query_id) AS sq,
        SUM(CASE WHEN rq <= 4 THEN 1 END) OVER (PARTITION BY query_id) AS cq,
        SUM(CASE WHEN rn <= 4 THEN CAST(cos_sim AS DECIMAL(18,7)) END)
          OVER (PARTITION BY neighbor_id) AS sn,
        SUM(CASE WHEN rn <= 4 THEN 1 END) OVER (PARTITION BY neighbor_id) AS cn
      FROM ranked
    ), margins AS (
      SELECT query_id, neighbor_id, cos_sim,
             round(cos_sim / ((CAST(sq AS DOUBLE) / CAST(cq AS DOUBLE)
                               + CAST(sn AS DOUBLE) / CAST(cn AS DOUBLE))
                              / CAST(2 AS DOUBLE)), 7) AS margin
      FROM stats
    ), best AS (
      SELECT *,
        row_number() OVER (PARTITION BY query_id
                           ORDER BY margin DESC, neighbor_id) AS bf,
        row_number() OVER (PARTITION BY neighbor_id
                           ORDER BY margin DESC, query_id) AS bb
      FROM margins
    )
    SELECT query_id AS src_id, neighbor_id AS tgt_id, cos_sim, margin,
           (bb = 1) AS mutual_best
    FROM best WHERE bf = 1 AND margin >= CAST(1 AS DOUBLE)
    """,
)
def bitext_margin_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk 2019 / CCMatrix)
    over the embeddings table with the label parity as the two
    'languages': 40 bounded src vectors mine their best-ratio-margin tgt
    (k=4 neighborhood averages, mutual-best flagged). Decimal-accumulated
    cosines and top-k sums keep every fold order-independent — the whole
    mining pipeline incl. margins is hash-exact vs the DuckDB
    re-derivation."""
    from etl_poc_spark.operators.similarity import bitext_margin_mine

    emb = load_table(spark, sf_dir, "embeddings")
    src = emb.filter((F.col("label") % 2 == 0) & (F.col("vec_id") < 40))
    tgt = emb.filter(F.col("label") % 2 == 1)
    return bitext_margin_mine(src, tgt, k=4, threshold=1.0)
