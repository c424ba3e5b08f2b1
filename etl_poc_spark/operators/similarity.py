"""Similarity search over embedding columns (array<float>).

- cosine_topk: brute-force exact top-k. Vectors are positionally exploded
  and the dot products run through codegen'd broadcast-join + hash
  aggregation — measured ~10x faster than the interpreted `aggregate(
  zip_with(...))` higher-order-function formulation, and the same plan
  shape scales out (the base side streams; only the tiny query side and
  the candidate-pair list broadcast).
- ivf_cosine_topk: the scale path — a coarse sign-bit quantizer assigns
  every vector to a bucket; queries probe only their own bucket, shrinking
  the candidate-pair space by ~2^n_bits.

Numeric determinism: each elementwise product is rounded once to
DECIMAL(25,15) and summed exactly (order-independent), converted to double
once, so cosine values are bit-identical across engines/partitionings. The
final cosine is rounded to 7 decimals and ranked on the rounded value with
an id tiebreak — fully deterministic top-k, required by the DuckDB
value-hash oracle and good hygiene for reproducible pipelines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

_DEC_PROD = "CAST(CAST({x} AS DOUBLE) * CAST({y} AS DOUBLE) AS DECIMAL(25,15))"


def _explode_vec(df: DataFrame, id_col: str, vec_col: str, out_id: str) -> DataFrame:
    return df.select(
        F.col(id_col).alias(out_id), F.posexplode(F.col(vec_col)).alias("i", "__x")
    )


def _norms(exploded: DataFrame, out_id: str, out_col: str) -> DataFrame:
    n2 = F.sum(F.expr(_DEC_PROD.format(x="__x", y="__x"))).cast("double")
    return exploded.groupBy(out_id).agg(F.sqrt(n2).alias(out_col))


# Broadcast hints below are applied only when the hinted side is PROVABLY
# small (a bounded row-count probe) — an unconditional hint would broadcast
# a frame proportional to |queries| x |base| once the query workload grows,
# an executor/driver OOM hazard at scale. Over the cap, no hint is emitted
# and AQE picks the join strategy from runtime stats.
_BROADCAST_ROW_CAP = 8192
# (id, vector) frames only: ~300 B/row at dim 64, so 65k rows ≈ 20 MB —
# well under the session broadcast threshold while generic frames stay at
# the conservative cap above
_BROADCAST_VEC_ROW_CAP = 65536


def _provably_small(df: DataFrame, cap: int = _BROADCAST_ROW_CAP) -> bool:
    """True iff df has at most `cap` rows, established by reading at most
    cap + 1 rows (never a full count of an unbounded side)."""
    return len(df.select(F.lit(1).alias("__one")).limit(cap + 1).take(cap + 1)) <= cap


def _pair_cosine_carried(
    carried: DataFrame,
    queries: DataFrame,
    base: DataFrame,
    id_col: str,
    vec_col: str,
    small_q: bool | None = None,
    small_b: bool | None = None,
) -> DataFrame:
    """Exact decimal cosine for candidate pairs that ALREADY carry both
    whole vectors as `__va`/`__vb` (query_id, neighbor_id, __va, __vb) —
    the r16 shape: when the pair-forming join (cross join, sign-bucket
    join, LSH bucket join) can keep the vectors on the row, the scorer
    needs NO vector re-attach joins (guide §8's rule — don't let the
    attach join sneak a second payload shuffle back in). The dot is one
    arrays_zip explode + hash aggregation with map-side combine; decimal
    addition is exact and commutative, so it is bit-identical to any
    other summation order (oracle-stable). Norms stay one cheap
    per-VECTOR aggregation per side (computing them inside the pair
    aggregation was measured 2.7x slower — the double→DECIMAL conversion
    dominates, and that shape pays it 3x per pair element), joined back
    broadcast when the side is provably small, else left to AQE."""
    prod = F.expr(_DEC_PROD.format(x="__z.__va", y="__z.__vb"))
    dots = (
        carried.select(
            "query_id",
            "neighbor_id",
            F.explode(F.arrays_zip("__va", "__vb")).alias("__z"),
        )
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum(prod).cast("double").alias("dot"))
    )
    hint_q = F.broadcast if small_q else (lambda df: df)
    hint_b = F.broadcast if small_b else (lambda df: df)
    q_ex = _explode_vec(queries, id_col, vec_col, "query_id")
    qn = _norms(q_ex, "query_id", "qn")
    if base is queries:
        # Self-join callers (semdedup, self-similarity): ONE norm
        # aggregation reused under both aliases — the second explode +
        # groupBy pass over the corpus would be a full extra wide shuffle.
        # Pinned because exchange reuse does not fire across the two join
        # references (verified on the executed plan); the pinned frame is
        # tiny (one (id, norm) row per vector) and released with the
        # query's other stage pins.
        from etl_poc_spark.operators.pins import pin

        qn = pin(qn)
        bn = qn.select(
            F.col("query_id").alias("neighbor_id"), F.col("qn").alias("bn")
        )
    else:
        b_ex = _explode_vec(base, id_col, vec_col, "neighbor_id")
        bn = _norms(b_ex, "neighbor_id", "bn")
    return (
        dots.join(hint_q(qn), "query_id")
        .join(hint_b(bn), "neighbor_id")
        .withColumn("cos_sim", F.round(F.col("dot") / (F.col("qn") * F.col("bn")), 7))
    )


def _pair_cosine(
    queries: DataFrame,
    base: DataFrame,
    pairs: DataFrame,
    id_col: str,
    vec_col: str,
    small_q: bool | None = None,
    small_b: bool | None = None,
) -> DataFrame:
    """Exact decimal cosine for the given (query_id, neighbor_id) candidate
    pairs. Small sides (typically the query side) are broadcast; anything
    not provably under the row cap is left unhinted for AQE. Callers that
    already probed a side pass small_q/small_b to avoid re-running the
    probe job (each probe re-executes that frame's upstream plan).
    Callers whose pair-forming join can carry the vectors should call
    _pair_cosine_carried directly and skip the attach joins below."""
    # ONE probe per distinct unprobed side, at the larger vec cap: the same
    # bounded read answers both thresholds. Caller-passed flags are trusted
    # as-is (no surprise probe jobs re-running their upstream plans); the
    # whole-vector (id, vec) frames are compact (~300 B/row at dim 64), so
    # they broadcast safely at the higher cap.
    def tiers(side, passed):
        if passed is not None:
            return passed, passed
        n = len(side.select(F.lit(1).alias("__one")).limit(_BROADCAST_VEC_ROW_CAP + 1).take(_BROADCAST_VEC_ROW_CAP + 1))
        return n <= _BROADCAST_ROW_CAP, n <= _BROADCAST_VEC_ROW_CAP

    small_q, vec_q = tiers(queries, small_q)
    small_b, vec_b = (small_q, vec_q) if base is queries and small_b is None else tiers(base, small_b)
    hint_vq = F.broadcast if vec_q else (lambda df: df)
    hint_vb = F.broadcast if vec_b else (lambda df: df)
    va = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__va"))
    vb = base.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__vb"))
    # attach both WHOLE vectors to each candidate pair (broadcast joins
    # when the vector tables fit); the carried scorer then does one
    # explode + hash aggregation. This streams |pairs| rows through the
    # joins instead of equi-joining dim-exploded frames on (id, i) — the
    # explode happens after the join, inside codegen, with map-side
    # partial aggregation.
    carried = pairs.join(hint_vq(va), "query_id").join(hint_vb(vb), "neighbor_id")
    return _pair_cosine_carried(
        carried, queries, base, id_col, vec_col, small_q=small_q, small_b=small_b
    )


def cosine_for_pairs(
    vectors: DataFrame,
    pairs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mode: str = "exact",
) -> DataFrame:
    """Cosine for an EXPLICIT (query_id, neighbor_id) candidate-pair
    frame over one vector table — the composition seam for callers that
    already bounded their pairs (near-dup verdicts, LSH buckets): cost is
    O(|pairs|), never all-pairs. mode='exact' (default) is the decimal
    bit-stable scorer returning (query_id, neighbor_id, dot, qn, bn,
    cos_sim); mode='float' is the Arrow-batched numpy production scorer
    returning (query_id, neighbor_id, cos_sim) only — ~10-40x less work
    per pair (see semdedup verify and SCALING.md's measured smoke)."""
    if mode == "exact":
        return _pair_cosine(vectors, vectors, pairs, id_col, vec_col)
    if mode == "float":
        return _pair_cosine_float(vectors, vectors, pairs, id_col, vec_col)
    raise ValueError(f"mode must be 'exact' or 'float', got {mode!r}")


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def cosine_topk(
    queries: DataFrame,
    base: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors in `base` for every row of `queries`.

    Output: (query_id, neighbor_id, rank, cos_sim); ties broken by
    neighbor_id so the ranking is total and deterministic."""
    # r16: the cross join CARRIES both whole vectors, so the scorer needs
    # no re-attach joins (guide §2.4/§8); one probe decides the broadcast
    # hint for the (typically tiny) query side, the base side streams.
    small_q = _provably_small(queries)
    hint_q = F.broadcast if small_q else (lambda df: df)
    va = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__va"))
    vb = base.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__vb"))
    carried = hint_q(va).crossJoin(vb)
    return _rank_topk(
        _pair_cosine_carried(carried, queries, base, id_col, vec_col, small_q=small_q),
        k,
    )


def sign_bucket_expr(vec_col: str, n_bits: int = 6) -> F.Column:
    """Coarse quantizer: concatenated sign bits of the first `n_bits` dims."""
    parts = [
        F.when(F.element_at(F.col(vec_col), i + 1) >= 0, F.lit("1")).otherwise(F.lit("0"))
        for i in range(n_bits)
    ]
    return F.concat(*parts)


def ivf_cosine_topk(
    queries: DataFrame,
    base: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 6,
) -> DataFrame:
    """Approximate top-k: probe only the query's own sign-bit bucket.

    The candidate-pair space shrinks ~2^n_bits; recall is approximate
    (vectors straddling a hyperplane may be missed) — the standard IVF
    trade."""
    # r16: the bucket equi-join CARRIES both whole vectors (same shuffle
    # bytes — before, the vectors crossed in the two attach joins instead),
    # so the scorer is join-free after the bucket gate (guide §2.4/§8).
    q_tag = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__va"),
        sign_bucket_expr(vec_col, n_bits).alias("bucket"),
    )
    b_tag = base.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__vb"),
        sign_bucket_expr(vec_col, n_bits).alias("bucket"),
    )
    small_q = _provably_small(queries)
    hint_q = F.broadcast if small_q else (lambda df: df)
    carried = hint_q(q_tag).join(b_tag, "bucket").drop("bucket")
    return _rank_topk(
        _pair_cosine_carried(carried, queries, base, id_col, vec_col, small_q=small_q),
        k,
    )


# --- KMeans-trained IVF ------------------------------------------------------


def _pair_cosine_float(
    queries: DataFrame,
    base: DataFrame,
    pairs: DataFrame,
    id_col: str,
    vec_col: str,
    round_digits: int | None = 7,
) -> DataFrame:
    """Arrow-batched FLOAT cosine for candidate pairs — the production
    fast path beside `_pair_cosine`'s decimal-exact scorer. Same joins
    attach both whole vectors to each pair; the per-pair dot/norm then
    runs as one numpy kernel per batch instead of a 64-dim explode
    through decimal aggregation (~10-40x less work per pair). Results
    match the exact scorer to float64 rounding — use for dedup/ANN
    screening at scale; keep the decimal scorer where bit-stable,
    oracle-checkable cosines are required."""
    import numpy as np
    import pandas as pd

    va = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__va"))
    vb = base.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__vb"))
    j = pairs.join(va, "query_id").join(vb, "neighbor_id")
    qt = dict(pairs.dtypes)["query_id"]
    nt = dict(pairs.dtypes)["neighbor_id"]
    out_schema = f"query_id {qt}, neighbor_id {nt}, cos_sim double"

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            q = np.stack(pdf["__va"].apply(lambda a: np.asarray(a, dtype=np.float64)))
            n = np.stack(pdf["__vb"].apply(lambda a: np.asarray(a, dtype=np.float64)))
            qn = np.linalg.norm(q, axis=1)
            nn = np.linalg.norm(n, axis=1)
            dot = np.einsum("ij,ij->i", q, n)
            # zero-norm guard: a zero vector has no direction — define its
            # cosine as 0.0 rather than NaN/inf from a 0/0 division
            denom = qn * nn
            cos = np.where(denom == 0, 0.0, dot / np.where(denom == 0, 1.0, denom))
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"],
                    "neighbor_id": pdf["neighbor_id"],
                    "cos_sim": np.round(cos, round_digits)
                    if round_digits is not None
                    else cos,
                }
            )

    return j.mapInPandas(fn, out_schema)


def _cluster_dup_pairs_float(
    members: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Within-cluster duplicate pairs by float cosine, computed GROUP-
    LOCALLY: `members` is (cluster, id, vec); each cluster's pairwise
    cosine matrix is one numpy matmul inside applyInPandas, and only
    pairs at cosine >= `threshold` are emitted (query_id < neighbor_id).

    This is the scale-correct shape for semdedup's verify stage: the
    shuffle moves each VECTOR once (O(n x dim)) instead of attaching
    both vectors to every candidate pair (O(pairs x dim) — the 100x
    smoke measured that join spilling and going ~4x superlinear, 24 GB
    of pair payload for 200k vectors). Per-group memory is m^2 doubles —
    bounded by the occupancy cap (2000 -> 32 MB); always cap clusters
    before calling. Determinism: rows sort by id inside the kernel and
    each cosine is a pure function of the pair's two vectors (fixed-K
    dot products are order-independent in BLAS), so the emitted set and
    values are partition-independent. Zero-norm vectors score 0.0
    (same guard as _pair_cosine_float)."""
    import numpy as np
    import pandas as pd

    idt = dict(members.dtypes)[id_col]
    out_schema = f"query_id {idt}, neighbor_id {idt}, cos_sim double"
    empty = pd.DataFrame({"query_id": [], "neighbor_id": [], "cos_sim": []})

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return empty
        pdf = pdf.sort_values(id_col, kind="stable")
        v = np.stack(pdf[vec_col].apply(lambda a: np.asarray(a, dtype=np.float64)))
        ids = pdf[id_col].to_numpy()
        norms = np.linalg.norm(v, axis=1)
        g = v @ v.T
        denom = np.outer(norms, norms)
        cos = np.where(denom == 0, 0.0, g / np.where(denom == 0, 1.0, denom))
        iu, ju = np.triu_indices(len(ids), k=1)
        hit = cos[iu, ju] >= threshold
        if not hit.any():
            return empty
        return pd.DataFrame(
            {
                "query_id": ids[iu[hit]],  # ids sorted asc -> i<j is id<id
                "neighbor_id": ids[ju[hit]],
                "cos_sim": cos[iu[hit], ju[hit]],
            }
        )

    return members.groupBy("cluster").applyInPandas(fn, out_schema)


def _assign_centroid(
    df: DataFrame,
    centroids,
    id_col: str,
    vec_col: str,
    nprobe: int = 1,
    with_sim: bool = False,
) -> DataFrame:
    """(id, cluster[, cent_sim]) for the nprobe nearest centroids by cosine —
    Arrow-batched numpy matmul per batch (vectors x the small centroid
    matrix); the centroid model ships to executors as a closure, the vectors
    never leave their partitions. `with_sim` adds the cosine to each
    assigned centroid (rounded to 7 decimals — used as an ORDERING key by
    the SemDeDup keep-closest-to-centroid policy, never compared across
    engines unrounded)."""
    import numpy as np
    import pandas as pd

    cmat = np.asarray(centroids, dtype=np.float64)
    cnorm = np.linalg.norm(cmat, axis=1)
    cnorm[cnorm == 0] = 1.0
    cunit = cmat / cnorm[:, None]
    fields = [df.schema[id_col], T.StructField("cluster", T.IntegerType())]
    if with_sim:
        fields.append(T.StructField("cent_sim", T.DoubleType()))
    out_schema = T.StructType(fields)

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.stack(pdf[vec_col].apply(lambda a: np.asarray(a, dtype=np.float64)))
            vn = np.linalg.norm(v, axis=1)
            vn[vn == 0] = 1.0
            sims = (v / vn[:, None]) @ cunit.T
            # top-nprobe clusters per vector, deterministic tie-break by
            # index. nprobe=1 (every base-side assignment) takes argmax —
            # first-max tie-break, identical to the stable argsort's head
            # but O(k) per row instead of a full O(k log k) row sort,
            # which matters once auto_centroids scales k with n (the
            # 100x smoke measured the row sort dominating assignment)
            if nprobe == 1:
                order = np.argmax(sims, axis=1).reshape(-1, 1)
            else:
                order = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]
            out = {
                id_col: pdf[id_col].to_numpy().repeat(nprobe),
                "cluster": order.reshape(-1).astype("int32"),
            }
            if with_sim:
                picked = np.take_along_axis(sims, order, axis=1)
                out["cent_sim"] = np.round(picked.reshape(-1), 7)
            yield pd.DataFrame(out)

    return df.select(id_col, vec_col).mapInPandas(fn, schema=out_schema)


def auto_centroids(n_rows: int, target_cluster_size: int = 200, floor: int = 16) -> int:
    """Centroid count that keeps expected cluster occupancy constant as
    the corpus grows: k = n / target_cluster_size (min `floor`).

    A FIXED k is a scale trap the 10x smoke measured directly
    (tools/scale_smoke.py, SCALING.md): within-cluster candidate pairs
    grow as sum(c_k^2)/2, so 10x rows with constant k means ~10x cluster
    occupancy and ~100x pairwise work — 4.0s -> 71.8s for semdedup at
    sf0.1 -> ~sf1. Scaling k with n holds occupancy (and the per-cluster
    quadratic term) constant, so total pair work grows linearly. FAISS
    guidance for IVF is the same rule (k ~ sqrt(n) to n/256 depending on
    probe budget); SemDeDup's coarse quantizer only needs occupancy
    control, so the linear rule is the right one here."""
    return max(floor, n_rows // max(1, target_cluster_size))


def _super_quantize(centroids, n_super: int, n_iters: int = 5):
    """Driver-side k-means over the CENTROIDS themselves (cosine metric,
    unit-sphere Lloyd): returns (super_unit_matrix k1 x dim, members)
    where members[s] is the ASC-sorted array of centroid indices assigned
    to super-centroid s. The input is the KB-sized model artifact, so
    this is microseconds of numpy — deterministic: init takes every
    (k // k1)-th centroid, assignment breaks ties toward the lower index,
    empty supers keep their previous direction."""
    import numpy as np

    cmat = np.asarray(centroids, dtype=np.float64)
    k = len(cmat)
    norms = np.linalg.norm(cmat, axis=1)
    norms[norms == 0] = 1.0
    cunit = cmat / norms[:, None]
    step = max(1, k // n_super)
    sup = cunit[::step][:n_super].copy()
    for _ in range(n_iters):
        sims = cunit @ sup.T
        a = np.argmax(sims, axis=1)  # first-max: lower super index wins ties
        for s in range(len(sup)):
            m = cunit[a == s]
            if len(m):
                v = m.mean(axis=0)
                n = np.linalg.norm(v)
                if n > 0:
                    sup[s] = v / n
    sims = cunit @ sup.T
    a = np.argmax(sims, axis=1)
    members = [np.flatnonzero(a == s) for s in range(len(sup))]
    return sup, members


def _assign_centroid_two_level(
    df: DataFrame,
    centroids,
    id_col: str,
    vec_col: str,
    probe_superclusters: int = 4,
    n_super: int | None = None,
    with_sim: bool = False,
) -> DataFrame:
    """IMI-style two-level nearest-centroid assignment — the flat
    argmax's O(n x k) matmul is the one semdedup phase that stays
    superlinear once auto_centroids scales k with n (measured: 100x
    smoke, SCALING.md r11). Here the centroids are grouped into
    k1 ~ sqrt(k) super-centroids (driver-side numpy over the KB-sized
    model); each vector probes its `probe_superclusters` nearest supers
    and argmaxes only over THEIR member centroids:
    O(n x (k1 + w·k/k1)) ~ O(n·sqrt(k)) for small w.

    Approximate in the same sense the coarse quantizer itself is — a
    vector whose true nearest centroid lives outside the probed supers
    gets its best within-probe centroid. For dedup semantics this is
    benign: near-duplicate vectors follow the SAME deterministic probe
    path, so pairs stay co-clustered (pytest pins flag-equality with
    flat assignment on the oracle corpus). Deterministic: ties break
    toward the lower global centroid index at both levels."""
    import numpy as np
    import pandas as pd

    cmat = np.asarray(centroids, dtype=np.float64)
    k = len(cmat)
    norms = np.linalg.norm(cmat, axis=1)
    norms[norms == 0] = 1.0
    cunit = cmat / norms[:, None]
    k1 = n_super or max(1, int(round(k ** 0.5)))
    sup, members = _super_quantize(centroids, k1)
    k1 = len(sup)  # _super_quantize caps at k supers when n_super > k
    w = min(probe_superclusters, k1)

    fields = [df.schema[id_col], T.StructField("cluster", T.IntegerType())]
    if with_sim:
        fields.append(T.StructField("cent_sim", T.DoubleType()))
    out_schema = T.StructType(fields)

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.stack(pdf[vec_col].apply(lambda a: np.asarray(a, dtype=np.float64)))
            vn = np.linalg.norm(v, axis=1)
            vn[vn == 0] = 1.0
            vu = v / vn[:, None]
            n = len(vu)
            probes = np.argsort(-(vu @ sup.T), axis=1, kind="stable")[:, :w]
            best = np.full(n, -np.inf)
            besti = np.full(n, -1, dtype=np.int64)
            for s in range(k1):
                mem = members[s]
                if not len(mem):
                    continue
                rows = np.flatnonzero((probes == s).any(axis=1))
                if not len(rows):
                    continue
                sub = vu[rows] @ cunit[mem].T
                li = np.argmax(sub, axis=1)  # first-max: lower index in mem
                gi = mem[li]
                val = sub[np.arange(len(rows)), li]
                cur_b, cur_i = best[rows], besti[rows]
                upd = (val > cur_b) | ((val == cur_b) & (gi < cur_i))
                best[rows] = np.where(upd, val, cur_b)
                besti[rows] = np.where(upd, gi, cur_i)
            # A vector whose probed supers are ALL empty (empty supers
            # keep a stale direction and can still attract probes) would
            # otherwise be silently assigned cluster -1 with -inf sim;
            # fall back to the flat global argmax for exactly those rows.
            miss = np.flatnonzero(besti < 0)
            if len(miss):
                sub = vu[miss] @ cunit.T
                li = np.argmax(sub, axis=1)  # first-max: lower index wins
                besti[miss] = li
                best[miss] = sub[np.arange(len(miss)), li]
            out = {
                id_col: pdf[id_col].to_numpy(),
                "cluster": besti.astype("int32"),
            }
            if with_sim:
                out["cent_sim"] = np.round(best, 7)
            yield pd.DataFrame(out)

    return df.select(id_col, vec_col).mapInPandas(fn, schema=out_schema)


def _assign_explode_vec(
    df: DataFrame, centroids, id_col: str, vec_col: str
) -> DataFrame:
    """(cluster, i, __x) rows for the Lloyd UPDATE: the _assign_centroid
    nprobe=1 kernel (identical numpy ops — normalize, matmul against the
    unit centroid matrix, first-max argmax) with the whole vector CARRIED
    on the output row, positionally exploded in the JVM. r17 (guide
    §2.4): the update previously re-joined the assignment back to the
    corpus by id — a second full scan plus an id-keyed shuffle per
    iteration — when the vector was already in the assigner's hands.
    float32→float64 widening is exact and _DEC_PROD casts to double
    before the decimal rounding either way, so the per-(cluster, dim)
    decimal sums are bit-identical to the joined shape."""
    import numpy as np
    import pandas as pd

    cmat = np.asarray(centroids, dtype=np.float64)
    cnorm = np.linalg.norm(cmat, axis=1)
    cnorm[cnorm == 0] = 1.0
    cunit = cmat / cnorm[:, None]
    out_schema = T.StructType(
        [
            T.StructField("cluster", T.IntegerType()),
            T.StructField("__v", T.ArrayType(T.DoubleType())),
        ]
    )

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.stack(pdf[vec_col].apply(lambda a: np.asarray(a, dtype=np.float64)))
            vn = np.linalg.norm(v, axis=1)
            vn[vn == 0] = 1.0
            sims = (v / vn[:, None]) @ cunit.T
            besti = np.argmax(sims, axis=1)  # first-max, as _assign_centroid
            yield pd.DataFrame({"cluster": besti.astype("int32"), "__v": list(v)})

    return (
        df.select(id_col, vec_col)
        .mapInPandas(fn, schema=out_schema)
        .select("cluster", F.posexplode("__v").alias("i", "__x"))
    )


def train_kmeans_centroids(
    base: DataFrame,
    n_centroids: int = 16,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_train_rows: int | None = None,
) -> list[list[float]]:
    """Lloyd iterations, Spark-first and deterministic:

    - init: the vectors of the n_centroids smallest ids (reproducible)
    - assign: Arrow-batched numpy cosine argmax (narrow)
    - update: posexplode + groupBy(cluster, dim) with DECIMAL-accumulated
      means, so centroids are bit-identical across partitionings

    The centroid matrix (n_centroids x dim) is the only thing that touches
    the driver — it is the model artifact, a few KB.

    `max_train_rows` bounds the training set to a DETERMINISTIC md5-hash
    sample of the corpus (seed-free, partitioning-independent) — a coarse
    quantizer only needs a representative sample, and at 100 TB training
    on the full corpus would dominate the whole dedup run. Assignment of
    the full corpus is unaffected (it happens in semdedup, not here)."""
    if max_train_rows is not None:
        # smallest md5(id) prefix = a uniform deterministic sample; the
        # sort is over the hash STRING on the id-grained frame, bounded
        # by the take
        base = (
            base.withColumn("__h", F.md5(F.col(id_col).cast("string")))
            .orderBy("__h")
            .limit(int(max_train_rows))
            .drop("__h")
        )
    init_rows = base.orderBy(id_col).limit(n_centroids).select(vec_col).collect()
    centroids = [list(map(float, r[0])) for r in init_rows]
    dim = len(centroids[0])
    for _ in range(n_iters):
        # r17 (guide §2.4): assignment CARRIES the vector, so the update
        # is one scan + one aggregation per iteration — the previous
        # `base.join(assigned, id)` shape paid a second corpus scan and an
        # id-keyed join shuffle per iteration for values the assigner
        # already held. Decimal sums over identical groups of identical
        # doubles → bit-identical centroids (oracle replays unchanged).
        sums = (
            _assign_explode_vec(base, centroids, id_col, vec_col)
            .groupBy("cluster", "i")
            .agg(
                (
                    F.sum(F.expr(_DEC_PROD.format(x="__x", y="1.0"))).cast("double")
                    / F.count(F.lit(1))
                ).alias("c")
            )
            .collect()
        )
        new = [list(c) for c in centroids]  # empty clusters keep old centroid
        by_cluster: dict[int, list[float]] = {}
        for r in sums:
            by_cluster.setdefault(r["cluster"], [0.0] * dim)[r["i"]] = r["c"]
        for cid, vec in by_cluster.items():
            new[cid] = vec
        centroids = new
    return centroids


def train_kmeans_centroids_minibatch(
    base: DataFrame,
    n_centroids: int = 16,
    n_iters: int = 4,
    sample_rows: int = 32768,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Minibatch k-means (Sculley 2010, cumulative-mean update) — the
    scale form of train_kmeans_centroids. The full trainer's cost is one
    corpus-wide assign + a corpus*dim decimal explode PER ITERATION;
    SCALING.md's 10x smoke measured that training as the dominant
    semdedup phase, and at 100x a full Lloyd pass per iteration dominates
    everything downstream. This trainer bounds per-iteration work to a
    constant:

    - ONE narrow pass over the corpus: a deterministic hash-threshold
      filter (`pmod(xxhash64(id), ceil(n / sample_rows)) == 0`) keeps a
      ~sample_rows row training sample with no sort, no shuffle, and no
      partitioning sensitivity — then the sample is materialized
      (localCheckpoint) so iterations never rescan the corpus;
    - the sample splits into `n_iters` fixed minibatches by a second id
      hash; iteration i assigns ONLY batch i's rows and folds their
      per-cluster decimal sums into running (count, sum) accumulators —
      centroid = cumulative mean, the count-based learning-rate form of
      Sculley's update;
    - per-iteration cost is O(sample_rows / n_iters * dim), independent
      of corpus size; driver traffic is k*dim floats per iteration.

    Deterministic end to end: the sample and batches are pure id-hash
    functions, per-(cluster, dim) batch sums are decimal-exact
    (order-independent), and the driver folds them in fixed iteration
    order — bit-identical centroids under any partitioning (pinned by
    the adversarial-session parity test). Empty clusters keep their
    previous centroid, as in the full trainer.

    A coarse quantizer only needs a representative sample — SemDeDup /
    IVF recall is insensitive to training exactness (recall pytest), so
    at 100 TB this is the right trade: the one narrow filter scan is the
    only corpus-sized cost, and it prunes to the id+vector columns."""
    n = base.count()
    if n == 0:
        raise ValueError("cannot train on an empty corpus")
    div = max(1, n // max(n_centroids * 4, sample_rows))
    hid = F.xxhash64(F.col(id_col).cast("string"))
    sample = (
        base.select(id_col, vec_col)
        .where(F.pmod(hid, F.lit(div)) == 0)
        .withColumn("__mb", F.pmod(F.xxhash64(F.col(id_col).cast("string"), F.lit(1)), F.lit(n_iters)))
        .localCheckpoint(eager=True)
    )
    init_rows = (
        sample.orderBy(id_col).limit(n_centroids).select(vec_col).collect()
    )
    if len(init_rows) < n_centroids:
        # tiny corpus: the sample IS the corpus; fall back to every row
        init_rows = base.orderBy(id_col).limit(n_centroids).select(vec_col).collect()
    centroids = [list(map(float, r[0])) for r in init_rows]
    k = len(centroids)
    dim = len(centroids[0])
    run_count = [0] * k
    run_sum = [[0.0] * dim for _ in range(k)]
    for it in range(n_iters):
        batch = sample.where(F.col("__mb") == it)
        # r17: carried-vector assignment — no re-attach join per minibatch
        # (see _assign_explode_vec; decimal sums bit-identical)
        rows = (
            _assign_explode_vec(batch, centroids, id_col, vec_col)
            .groupBy("cluster", "i")
            .agg(
                F.sum(F.expr(_DEC_PROD.format(x="__x", y="1.0"))).cast("double").alias("s"),
                F.count(F.lit(1)).alias("c"),
            )
            .collect()
        )
        touched: set[int] = set()
        for r in rows:
            cid = r["cluster"]
            run_sum[cid][r["i"]] += r["s"]
            if cid not in touched:
                run_count[cid] += int(r["c"])
                touched.add(cid)
        for cid in touched:
            centroids[cid] = [s / run_count[cid] for s in run_sum[cid]]
    return centroids


def kmeans_ivf_topk(
    queries: DataFrame,
    base: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_iters: int = 2,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Approximate top-k with TRAINED coarse centroids (real IVF): queries
    probe their `nprobe` nearest clusters, so the candidate space shrinks
    ~n_centroids/nprobe versus brute force while recall stays high where
    sign-bit buckets would split dense regions arbitrarily.

    Pass `centroids` to serve from a pre-trained quantizer (the production
    shape: train offline once, probe many times); omitted, the model is
    trained inline from `base`."""
    if centroids is None:
        centroids = train_kmeans_centroids(base, n_centroids, n_iters, id_col, vec_col)
    b_tag = _assign_centroid(base, centroids, id_col, vec_col, nprobe=1) \
        .withColumnRenamed(id_col, "neighbor_id")
    q_tag = _assign_centroid(queries, centroids, id_col, vec_col, nprobe=nprobe) \
        .withColumnRenamed(id_col, "query_id")
    small_q = _provably_small(queries)
    hint_q = F.broadcast if small_q else (lambda df: df)
    pairs = hint_q(q_tag).join(b_tag, "cluster").select("query_id", "neighbor_id")
    return _rank_topk(_pair_cosine(queries, base, pairs, id_col, vec_col, small_q=small_q), k)


# --- Product Quantization (PQ) ----------------------------------------------


def train_pq_codebooks(
    base: DataFrame,
    m: int = 4,
    k: int = 16,
    n_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Train PQ codebooks (Jegou et al. 2011): split the vector into `m`
    contiguous subspaces and run the deterministic KMeans trainer on each
    (id-ordered init, decimal-exact means) with `k` codewords. Returns
    m codebooks of k centroids each — the whole model is m*k*(dim/m)
    floats, a few KB, the only thing that ever reaches the driver.

    r17 (guide §2.4 / §1.2): the m subspace trainings are INDEPENDENT, so
    they fold into ONE distributed job per Lloyd iteration — a single
    Arrow-batched pass assigns every subvector in all m codebooks at once
    (same normalize/matmul/first-max kernel per subspace as the sliced
    `_assign_centroid` path, identical floats), carries the vector, and
    one (s, cluster, dim) decimal aggregation updates every codebook.
    Init is ONE TakeOrdered collect of the k id-smallest vectors, sliced
    driver-side (float32→Python-float conversion is the same whether the
    slice happens in a Column or on the collected list). The previous
    shape paid m separate trainings: m init jobs + m per-iteration
    assign+join+aggregate jobs (2m+1 corpus-facing jobs at m=16 vs 2
    now), each with its own scan. Codebooks are bit-identical — the
    per-subspace groups, assignment argmaxes, and decimal means are the
    same numbers under either grouping (the unrolled DuckDB oracle
    replays unchanged)."""
    import numpy as np
    import pandas as pd

    init_rows = base.orderBy(id_col).limit(k).select(vec_col).collect()
    if not init_rows:
        raise ValueError("cannot train PQ codebooks on an empty corpus")
    full = [list(map(float, r[0])) for r in init_rows]
    dim = len(full[0])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    books = [[vec[s * sub : (s + 1) * sub] for vec in full] for s in range(m)]
    out_schema = T.StructType(
        [
            T.StructField("__cl", T.ArrayType(T.IntegerType())),
            T.StructField("__v", T.ArrayType(T.DoubleType())),
        ]
    )
    for _ in range(n_iters):
        units = []
        for book in books:
            cmat = np.asarray(book, dtype=np.float64)
            cn = np.linalg.norm(cmat, axis=1)
            cn[cn == 0] = 1.0
            units.append(cmat / cn[:, None])

        def fn(batches, units=units):
            for pdf in batches:
                if not len(pdf):
                    continue
                v = np.stack(
                    pdf[vec_col].apply(lambda a: np.asarray(a, dtype=np.float64))
                )
                cl = np.empty((len(v), m), dtype=np.int32)
                for s in range(m):
                    sv = v[:, s * sub : (s + 1) * sub]
                    svn = np.linalg.norm(sv, axis=1)
                    svn[svn == 0] = 1.0
                    sims = (sv / svn[:, None]) @ units[s].T
                    cl[:, s] = np.argmax(sims, axis=1)  # first-max tie-break
                yield pd.DataFrame({"__cl": list(cl), "__v": list(v)})

        # i/sub is exact in double for these tiny nonneg ints, so the
        # cast-to-int truncation IS integer division
        s_col = (F.col("i") / F.lit(sub)).cast("int")
        rows = (
            base.select(id_col, vec_col)
            .mapInPandas(fn, schema=out_schema)
            .select("__cl", F.posexplode("__v").alias("i", "__x"))
            .select(
                s_col.alias("s"),
                F.element_at("__cl", s_col + 1).alias("cluster"),
                (F.col("i") % sub).alias("si"),
                "__x",
            )
            .groupBy("s", "cluster", "si")
            .agg(
                (
                    F.sum(F.expr(_DEC_PROD.format(x="__x", y="1.0"))).cast("double")
                    / F.count(F.lit(1))
                ).alias("c")
            )
            .collect()
        )
        new_books = [[list(cw) for cw in book] for book in books]
        by: dict = {}
        for r in rows:
            by.setdefault((r["s"], r["cluster"]), [0.0] * sub)[r["si"]] = r["c"]
        # new_books starts as a copy of books: a cluster with no members
        # this iteration keeps the previous iteration's centroid
        for (s, cid), vec in by.items():
            new_books[s][cid] = vec
        books = new_books
    return books


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode vectors to PQ codes: (id, codes array<int>) — one Arrow-
    batched pass assigns every subvector to its nearest codeword by cosine
    (normalized matmul, stable argmax — the same parity contract as
    _assign_centroid). At dim 64 / m=4 the code row is ~4 bytes of payload
    per vector versus 256 bytes of floats: the 64x compression that lets a
    100-TB corpus's ANN index live in cluster memory."""
    import numpy as np
    import pandas as pd

    m = len(codebooks)
    units = []
    for book in codebooks:
        cmat = np.asarray(book, dtype=np.float64)
        cn = np.linalg.norm(cmat, axis=1)
        cn[cn == 0] = 1.0
        units.append(cmat / cn[:, None])
    sub = units[0].shape[1]
    out_schema = T.StructType(
        [df.schema[id_col], T.StructField("codes", T.ArrayType(T.IntegerType()))]
    )

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.stack(pdf[vec_col].apply(lambda a: np.asarray(a, dtype=np.float64)))
            codes = np.empty((len(v), m), dtype=np.int32)
            for s in range(m):
                sv = v[:, s * sub : (s + 1) * sub]
                svn = np.linalg.norm(sv, axis=1)
                svn[svn == 0] = 1.0
                sims = (sv / svn[:, None]) @ units[s].T
                order = np.argsort(-sims, axis=1, kind="stable")
                codes[:, s] = order[:, 0]
            yield pd.DataFrame({id_col: pdf[id_col], "codes": list(codes)})

    return df.select(id_col, vec_col).mapInPandas(fn, schema=out_schema)


def pq_decode_expr(codebooks: list[list[list[float]]], codes_col: str = "codes") -> F.Column:
    """Reconstructed vector as a pure Column expression: the codebooks
    embed as a nested array literal (a few KB inside the plan) and
    flatten(transform(codes, ...)) concatenates the selected codewords —
    decode-on-the-fly inside codegen, no UDF, no join."""
    rows = ", ".join(
        "array(" + ", ".join(
            "array(" + ", ".join(f"CAST({x!r} AS DOUBLE)" for x in cw) + ")"
            for cw in book
        ) + ")"
        for book in codebooks
    )
    return F.expr(
        f"flatten(transform({codes_col}, (c, s) -> element_at(element_at(array({rows}), s + 1), c + 1)))"
    )


def pq_adc_topk(
    queries: DataFrame,
    base_codes: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k by asymmetric distance computation: the TRUE query
    vector scores against each candidate's RECONSTRUCTED vector (decoded
    from its PQ codes in-plan), which for cosine is exactly ADC. Exact
    decimal arithmetic end to end, so results are oracle-checkable.

    Scale shape: base-side payload is the code row, decode happens in
    codegen per candidate, and the scoring reuses the broadcast-gated
    _pair_cosine kernel. Compose with the IVF coarse quantizer
    (kmeans_ivf_topk's assignment) to bound candidates first — this
    operator is the PQ half of a FAISS-style IVF-PQ."""
    decoded = base_codes.select(
        F.col(id_col), pq_decode_expr(codebooks).alias(vec_col)
    )
    # r16: the cross join CARRIES the true query vector and the in-plan
    # decoded candidate vector — no re-attach joins (guide §2.4/§8); the
    # decode expression still evaluates once per streamed base row.
    small_q = _provably_small(queries)
    hint_q = F.broadcast if small_q else (lambda df: df)
    va = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__va"))
    vb = decoded.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__vb"))
    carried = hint_q(va).crossJoin(vb)
    return _rank_topk(
        _pair_cosine_carried(
            carried, queries, decoded, id_col, vec_col, small_q=small_q
        ),
        k,
    )


def ivfpq_topk(
    queries: DataFrame,
    base: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    n_centroids: int = 16,
    n_iters: int = 2,
    m: int = 4,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """FAISS-style IVF-PQ: the trained coarse quantizer gates candidates
    FIRST (queries probe their `nprobe` nearest of `n_centroids` clusters,
    base vectors live in exactly one), then only the gated candidates
    ADC-score — true query vector against the candidate's PQ-reconstructed
    vector, decoded in-plan from the literal codebooks. This composes
    kmeans_ivf_topk's pruning with pq_adc_topk's compressed scoring; codes
    encode the RAW vector (no residual — the by_residual=false IVF-PQ
    variant), so the codebooks are shared across clusters and the decode
    expression stays cluster-independent.

    Scale shape: candidate space shrinks ~n_centroids/nprobe via the
    cluster equi-join (never all-pairs), base-side payload per candidate
    is the code row (m small ints, ~21x under the float vector at the
    registered 16x64 config), and both models are KB-sized driver
    artifacts (train offline once, probe many times — pass `centroids` /
    `codebooks` to serve from a pre-trained index)."""
    if centroids is None:
        centroids = train_kmeans_centroids(base, n_centroids, n_iters, id_col, vec_col)
    if codebooks is None:
        codebooks = train_pq_codebooks(base, m, n_codes, 1, id_col, vec_col)
    b_tag = _assign_centroid(base, centroids, id_col, vec_col, nprobe=1) \
        .withColumnRenamed(id_col, "neighbor_id")
    q_tag = _assign_centroid(queries, centroids, id_col, vec_col, nprobe=nprobe) \
        .withColumnRenamed(id_col, "query_id")
    small_q = _provably_small(queries)
    hint_q = F.broadcast if small_q else (lambda df: df)
    # the IVF gate: candidates exist only where query probe and base
    # assignment share a cluster — an equi-join, evaluated BEFORE any
    # decode or scoring work
    pairs = hint_q(q_tag).join(b_tag, "cluster").select("query_id", "neighbor_id")
    decoded = pq_encode(base, codebooks).select(
        F.col(id_col), pq_decode_expr(codebooks).alias(vec_col)
    )
    return _rank_topk(
        _pair_cosine(queries, decoded, pairs, id_col, vec_col, small_q=small_q), k
    )


def semdedup(
    corpus: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.99,
    max_cluster_size: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep: str = "min_id",
    verify: str = "exact",
    assign: str = "flat",
    probe_superclusters: int = 4,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): assign each vector to its nearest
    trained centroid, compute exact cosine ONLY within clusters, and for
    every pair at cosine >= `threshold` drop one member. Output, one row
    per vector: (id, cluster, is_dropped).

    `keep` selects which member of a duplicate pair survives:
      - "min_id" (default, the paper's rule): drop the larger id — fully
        deterministic from ids alone, oracle-checkable in pure SQL.
      - "centroid" (the common production variant): drop the member
        FARTHER from its cluster centroid, keeping the most prototypical
        copy (ties broken toward the smaller id). Uses the assignment
        pass's cosine-to-centroid, so it costs nothing extra.

    Pair volume is sum(c_k^2)/2 instead of n^2/2 — semantic duplicates
    share a coarse cluster, so cross-cluster pairs never materialize.
    `max_cluster_size` is the degenerate-cluster guard (same role as the
    LSH bucket caps): clusters above the cap are EXCLUDED from the
    pairwise stage — one collapsed cluster of m vectors would alone
    contribute m(m-1)/2 pairs. Their members are flagged kept; an
    oversized cluster means the quantizer needs more centroids, not that
    its members are duplicates of each other."""
    from etl_poc_spark.operators.dedup import cap_buckets

    if keep not in ("min_id", "centroid"):
        raise ValueError(f"keep must be 'min_id' or 'centroid', got {keep!r}")
    if verify not in ("exact", "float"):
        raise ValueError(f"verify must be 'exact' or 'float', got {verify!r}")
    if assign not in ("flat", "two_level"):
        raise ValueError(f"assign must be 'flat' or 'two_level', got {assign!r}")
    with_sim = keep == "centroid"
    if assign == "two_level":
        # O(n·sqrt(k)) approximate assignment — the scale path once
        # auto_centroids makes the flat O(n·k) matmul the dominant
        # phase (SCALING.md r11); near-dup pairs follow the same probe
        # path so flags stay pair-consistent (pytest-pinned vs flat)
        assigned = _assign_centroid_two_level(
            corpus, centroids, id_col, vec_col,
            probe_superclusters=probe_superclusters, with_sim=with_sim,
        )
    else:
        assigned = _assign_centroid(
            corpus, centroids, id_col, vec_col, nprobe=1, with_sim=with_sim
        )
    # min_bucket_size=2 (r17): `pairable` exists only to FORM PAIRS (both
    # verify modes); a 1-member cluster contributes none, so dropping
    # singletons shrinks the pair-stage input with an identical pair set —
    # the kept/dropped flags come from `assigned`, which stays uncapped.
    pairable = (
        cap_buckets(assigned, ["cluster"], max_cluster_size, min_bucket_size=2)
        if max_cluster_size is not None
        else assigned
    )
    # verify="float": the production path scores within-cluster pairs
    # GROUP-LOCALLY (_cluster_dup_pairs_float) — each vector ships once
    # into its cluster group instead of being attached to every candidate
    # pair. The explicit pair join below exists only for the decimal-
    # exact path, whose oracle needs a materialized pair list; at the
    # 100x smoke the pair-attach join was the verify stage's scale
    # killer (O(pairs x dim) shuffle, ~4x superlinear), while the
    # grouped kernel reads ~linear (SCALING.md). Both paths threshold
    # the UNROUNDED cosine: round-to-7-then-compare could flip a
    # borderline pair the opposite way from the exact scorer.
    if verify == "exact":
        a = pairable.select(F.col(id_col).alias("query_id"), "cluster")
        b = pairable.select(F.col(id_col).alias("neighbor_id"), "cluster")
        pairs = (
            a.join(b, "cluster")
            .filter(F.col("query_id") < F.col("neighbor_id"))
            .select("query_id", "neighbor_id")
        )
        scored = _pair_cosine(corpus, corpus, pairs, id_col, vec_col)
        dup = scored.filter(F.col("cos_sim") >= threshold)
    else:
        members = pairable.select(id_col, "cluster").join(
            corpus.select(id_col, vec_col), id_col
        )
        dup = _cluster_dup_pairs_float(members, threshold, id_col, vec_col)
    if with_sim:
        # attach each member's cosine-to-centroid onto the (small,
        # post-threshold) duplicate-pair frame, then drop the member
        # FARTHER from its centroid; on an exact tie keep the smaller id
        # (the default rule) so the choice stays total
        sims = assigned.select(id_col, "cent_sim")
        dup = dup.join(
            sims.select(F.col(id_col).alias("query_id"), F.col("cent_sim").alias("__qs")),
            "query_id",
        ).join(
            sims.select(F.col(id_col).alias("neighbor_id"), F.col("cent_sim").alias("__ns")),
            "neighbor_id",
        )
        drop_id = F.when(F.col("__qs") < F.col("__ns"), F.col("query_id")).otherwise(
            F.col("neighbor_id")
        )
    else:
        drop_id = F.col("neighbor_id")
    dropped = (
        dup.select(drop_id.alias(id_col))
        .distinct()
        .withColumn("__d", F.lit(True))
    )
    return (
        assigned.select(id_col, "cluster").join(dropped, id_col, "left")
        .select(
            id_col,
            "cluster",
            F.coalesce(F.col("__d"), F.lit(False)).alias("is_dropped"),
        )
    )


def sq8_train_bounds(
    base: DataFrame, vec_col: str = "embedding", dim: int = 64
) -> tuple[list[float], list[float]]:
    """Per-dimension (min, max) bounds for SQ8 scalar quantization,
    computed as ONE map-side-combined aggregation of 2·dim expressions —
    a single 1-row reduce, no explode, no shuffle of the vectors
    (the bounded-by-construction collect class: exactly one row).

    min/max over floats are exact (no rounding), so the bounds are
    deterministic in any fold order."""
    aggs = []
    for i in range(dim):
        e = F.element_at(F.col(vec_col), i + 1).cast("double")
        aggs.append(F.min(e).alias(f"mn{i}"))
        aggs.append(F.max(e).alias(f"mx{i}"))
    row = base.agg(*aggs).collect()[0]
    for i in range(dim):
        if row[f"mn{i}"] is None or row[f"mx{i}"] is None:
            raise ValueError(
                f"sq8_train_bounds: empty base frame or all-null dimension "
                f"{i} — MIN/MAX aggregated to NULL; train bounds on a "
                f"non-empty base with populated vectors"
            )
    mn = [float(row[f"mn{i}"]) for i in range(dim)]
    mx = [float(row[f"mx{i}"]) for i in range(dim)]
    return mn, mx


def sq8_quantize_expr(
    vec_col: str, mn: list[float], mx: list[float]
) -> F.Column:
    """8-bit scalar-quantization codes for a vector column against the
    trained per-dimension bounds: c_i = clamp(floor((v_i − mn_i)·255 /
    (mx_i − mn_i)), 0, 255); degenerate dimensions (mx == mn) code to 0.

    The bounds ride as ARRAY LITERALS — the quantization is pure map-side
    whole-stage-codegen arithmetic, no join, no UDF. Every float op is a
    fixed-order IEEE sequence, so the codes are engine-portable
    (hash-exact DuckDB oracle: gate query `embedding_sq8_topk`)."""
    mn_lit = F.array(*[F.lit(v) for v in mn])
    rng_lit = F.array(*[F.lit(b - a) for a, b in zip(mn, mx)])
    return F.transform(
        F.col(vec_col),
        lambda x, i: F.when(
            F.get(rng_lit, i) > 0.0,
            # clamp in LONG first, THEN narrow: floor() yields LONG, and a
            # far-out-of-range query vector would wrap in a non-ANSI
            # long->int cast before a post-cast clamp could saturate it
            # (ADVICE r13) — clamping the LONG guarantees saturation at
            # 0/255 for any finite input
            F.least(
                F.lit(255).cast("bigint"),
                F.greatest(
                    F.lit(0).cast("bigint"),
                    F.floor(
                        (x.cast("double") - F.get(mn_lit, i))
                        * F.lit(255.0)
                        / F.get(rng_lit, i)
                    ),
                ),
            ).cast("int"),
        ).otherwise(F.lit(0)),
    )


def sq8_topk(
    queries: DataFrame,
    base: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    bounds: tuple[list[float], list[float]] | None = None,
) -> DataFrame:
    """SQ8 approximate top-k by symmetric quantized dot product — the
    scalar-quantization tier of the FAISS family (IVF / PQ / IVF-PQ are
    `ivf_cosine_topk` / `pq_adc_topk` / `ivfpq_topk`): vectors compress
    4× vs float32 (8× vs double) into uint8 codes; similarity is the
    EXACT INTEGER dot product of the codes (≤ 255²·dim, overflow-free in
    BIGINT), so scoring is deterministic to the bit — the asymmetric
    float-ADC variant trades that determinism for a little recall.

    Output: (query_id, neighbor_id, rank, score) — ties broken by
    neighbor_id, ranking total and deterministic.

    Scale shape: bounds are ONE 1-row aggregation; quantization is
    map-only literal arithmetic; the candidate space here is brute-force
    (queries broadcast over the base scan — right for ≤ thousands of
    queries); at billions of base rows compose with the IVF bucket join
    (quantize within `ivf_cosine_topk`'s bucketed candidates) — the
    memory win is what makes the in-partition scan feasible there."""
    if bounds is None:
        bounds = sq8_train_bounds(base, vec_col, dim)
    mn, mx = bounds
    q = queries.select(
        F.col(id_col).alias("query_id"),
        sq8_quantize_expr(vec_col, mn, mx).alias("__qc"),
    )
    b = base.select(
        F.col(id_col).alias("neighbor_id"),
        sq8_quantize_expr(vec_col, mn, mx).alias("__bc"),
    )
    hint_q = F.broadcast if _provably_small(queries) else (lambda df: df)
    scored = hint_q(q).crossJoin(b).select(
        "query_id",
        "neighbor_id",
        F.aggregate(
            F.zip_with(F.col("__qc"), F.col("__bc"), lambda a, c: (a * c).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "score")
    )


def ivf_sq8_topk(
    queries: DataFrame,
    base: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 6,
    dim: int = 64,
    bounds: tuple[list[float], list[float]] | None = None,
) -> DataFrame:
    """IVF + SQ8: the composed scale path the SQ8 docstring promises —
    the sign-bit coarse quantizer shrinks the candidate space ~2^n_bits
    (an equi-join on bucket, never a cross join), and candidates are
    scored by the symmetric INTEGER dot of their uint8 codes (4× less
    memory scanned per candidate than float32). Both halves are
    deterministic, so the whole query is hash-exact cross-engine.

    Output: (query_id, neighbor_id, rank, score), ties by neighbor_id."""
    if bounds is None:
        bounds = sq8_train_bounds(base, vec_col, dim)
    mn, mx = bounds
    q = queries.select(
        F.col(id_col).alias("query_id"),
        sign_bucket_expr(vec_col, n_bits).alias("bucket"),
        sq8_quantize_expr(vec_col, mn, mx).alias("__qc"),
    )
    b = base.select(
        F.col(id_col).alias("neighbor_id"),
        sign_bucket_expr(vec_col, n_bits).alias("bucket"),
        sq8_quantize_expr(vec_col, mn, mx).alias("__bc"),
    )
    hint_q = F.broadcast if _provably_small(queries) else (lambda df: df)
    scored = hint_q(q).join(b, "bucket").select(
        "query_id",
        "neighbor_id",
        F.aggregate(
            F.zip_with(F.col("__qc"), F.col("__bc"), lambda a, c: (a * c).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "score")
    )


def bitext_margin_mine(
    src: DataFrame,
    tgt: DataFrame,
    k: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 1.0,
    pairs: DataFrame | None = None,
    mode: str = "exact",
) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk 2019, the LASER/
    CCMatrix primitive): score every (src, tgt) candidate by the RATIO
    margin — cos(x,y) divided by the mean of the two sides' average
    top-k similarities — which cancels the hubness that makes raw cosine
    unreliable for cross-lingual retrieval, then keep each src row's
    best-margin tgt above `threshold`, flagging mutual best pairs
    (forward-backward consistency).

    Determinism discipline: cosines come from the exact decimal scorer
    (`_pair_cosine`, round-7); the top-k sums are DECIMAL(18,7)
    accumulations (order-independent), each average is one decimal→double
    cast + one division, and the margin is a fixed-order IEEE sequence
    rounded to 7 — hash-exact cross-engine (gate query
    `bitext_margin_pairs`). Ties break by id, so the mined set is total.

    Scale shape: pass `pairs` to bound candidates (e.g. the IVF sign-
    bucket join or an SQ8 prefilter) — the default all-pairs grid is for
    a bounded src side (broadcast) only; the margin statistics are then
    computed WITHIN the candidate set, as in blocked CCMatrix mining.
    mode='float' swaps in the Arrow-batched numpy scorer
    (`_pair_cosine_float`, ~10-40× less work per pair — the semdedup
    verify discipline) for production mining; 'exact' keeps the decimal
    bit-stable scorer the oracle gate checks.

    Output: (src_id, tgt_id, cos_sim, margin, mutual_best)."""
    if mode not in ("exact", "float"):
        raise ValueError(f"mode must be 'exact' or 'float', got {mode!r}")
    if pairs is None and mode == "exact":
        # r16: the default all-pairs grid CARRIES both whole vectors, so
        # the exact scorer needs no re-attach joins (guide §2.4/§8); one
        # probe decides the src-side broadcast hint.
        small_q = _provably_small(src)
        hint_q = F.broadcast if small_q else (lambda df: df)
        va = src.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__va"))
        vb = tgt.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__vb")
        )
        scored = _pair_cosine_carried(
            hint_q(va).crossJoin(vb), src, tgt, id_col, vec_col, small_q=small_q
        )
    else:
        if pairs is None:
            pairs = (
                src.select(F.col(id_col).alias("query_id"))
                .crossJoin(tgt.select(F.col(id_col).alias("neighbor_id")))
            )
        if mode == "exact":
            scored = _pair_cosine(src, tgt, pairs, id_col, vec_col)
        else:
            scored = _pair_cosine_float(src, tgt, pairs, id_col, vec_col)
    scored = scored.select("query_id", "neighbor_id", "cos_sim")
    d187 = "decimal(18,7)"
    w_q = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    w_n = Window.partitionBy("neighbor_id").orderBy(
        F.desc("cos_sim"), F.asc("query_id")
    )
    ranked = scored.select(
        "*",
        F.row_number().over(w_q).alias("__rq"),
        F.row_number().over(w_n).alias("__rn"),
    )
    wq_all = Window.partitionBy("query_id")
    wn_all = Window.partitionBy("neighbor_id")
    topk_q = F.when(F.col("__rq") <= k, F.col("cos_sim").cast(d187))
    topk_n = F.when(F.col("__rn") <= k, F.col("cos_sim").cast(d187))
    stats = ranked.select(
        "*",
        F.sum(topk_q).over(wq_all).alias("__sq"),
        F.sum(F.when(F.col("__rq") <= k, 1)).over(wq_all).alias("__cq"),
        F.sum(topk_n).over(wn_all).alias("__sn"),
        F.sum(F.when(F.col("__rn") <= k, 1)).over(wn_all).alias("__cn"),
    )
    a_q = F.col("__sq").cast("double") / F.col("__cq").cast("double")
    a_n = F.col("__sn").cast("double") / F.col("__cn").cast("double")
    margins = stats.select(
        "query_id",
        "neighbor_id",
        "cos_sim",
        F.round(F.col("cos_sim") / ((a_q + a_n) / F.lit(2.0)), 7).alias("margin"),
    )
    w_best_f = Window.partitionBy("query_id").orderBy(
        F.desc("margin"), F.asc("neighbor_id")
    )
    w_best_b = Window.partitionBy("neighbor_id").orderBy(
        F.desc("margin"), F.asc("query_id")
    )
    best = margins.select(
        "*",
        F.row_number().over(w_best_f).alias("__bf"),
        F.row_number().over(w_best_b).alias("__bb"),
    )
    return (
        best.filter((F.col("__bf") == 1) & (F.col("margin") >= F.lit(threshold)))
        .select(
            F.col("query_id").alias("src_id"),
            F.col("neighbor_id").alias("tgt_id"),
            "cos_sim",
            "margin",
            (F.col("__bb") == 1).alias("mutual_best"),
        )
    )
