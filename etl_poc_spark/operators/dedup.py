"""Deduplication operators for large-scale training-data pipelines.

Three tiers, all DataFrame-native:

- exact_dedup: hash-groupBy on a content fingerprint. One shuffle on the
  fingerprint; map-side partial aggregation makes it cheap even at 100 TB.
- MinHash + LSH near-dedup on one row per document holding its distinct
  shingle array (`shingle_sets`): minhashes and bands are row-local, so
  the first shuffle is the bucket self-join, an equi-join on (band,
  band_value) — never the O(n^2) pair space. Skewed buckets (degenerate
  band values) are handled by AQE skew-join splitting.
- verify_jaccard: exact set-jaccard on candidate pairs only.

Hash choice: the default `hash_mode="md5"` produces signatures as hex
strings whose MIN is engine-portable (the DuckDB oracle reproduces them
exactly). `hash_mode="xxhash64"` is the production/scale path — 64-bit JVM
hashing, no string churn — identical plan shape, not oracle-hashable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_poc_spark.operators.pins import pin


def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Representative-per-duplicate-group: groups rows by `key_cols` and keeps
    the minimum `id_col` plus the group size. Equivalent to
    `dropDuplicates(key_cols)` but with a deterministic surviving row and an
    n_copies count (dropDuplicates keeps an arbitrary row — not
    oracle-checkable)."""
    return df.groupBy(*key_cols).agg(
        F.min(id_col).alias(f"min_{id_col}"),
        F.count(F.lit(1)).alias("n_copies"),
    )


def keep_best_per_group(
    df: DataFrame, group_col: str, quality_col: str, id_col: str
) -> DataFrame:
    """Quality-aware duplicate retention: keep the HIGHEST-`quality_col`
    row per duplicate group (ties broken by minimum `id_col` — a total
    order, so the survivor is deterministic and oracle-checkable).
    exact_dedup's min-id survivor and SlimPajama's 1/n down-weighting
    (dup_aware_weights) treat copies as interchangeable; real pipelines
    (RefinedWeb/FineWeb-style retention) keep the best copy — the longest,
    highest-scoring, or least-boilerplate one — because near-copies
    routinely differ in truncation and extraction quality.

    Scale shape: one row_number window partitioned by the group
    fingerprint — a single shuffle on the group key with tiny per-group
    frames (duplicate-cluster sizes), the same cost class as the
    exact-dedup groupBy. No collect, no join back."""
    w = Window.partitionBy(group_col).orderBy(
        F.col(quality_col).desc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .drop("__rk")
    )


def shingle_sets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_words: int = 3,
) -> DataFrame:
    """(id, shingles): one row per document (`id_col` is a key) holding its
    distinct word-`shingle_words`-gram array; no shuffle. Documents with
    fewer than `shingle_words` tokens produce no row (too short to
    near-dedup on)."""
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    shingles = F.expr(
        f"array_distinct(transform(sequence(0, size(__words) - {shingle_words}), "
        f"i -> concat_ws(' ', slice(__words, i + 1, {shingle_words}))))"
    )
    return (
        df.select(F.col(id_col), words.alias("__words"))
        .filter(F.size("__words") >= shingle_words)
        .select(F.col(id_col), shingles.alias("shingles"))
    )


def shingle_docs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_words: int = 3,
) -> DataFrame:
    """(id, shingle) rows, distinct: the inverted-index shape. `id_col`
    must be a key, as for shingle_sets: each document's shingle array is
    already distinct, so the explode emits no duplicate pair and needs no
    shuffle to dedupe."""
    return shingle_sets(df, id_col, text_col, shingle_words).select(
        F.col(id_col), F.explode("shingles").alias("shingle")
    )


def minhash_signatures(
    sets: DataFrame,
    id_col: str = "doc_id",
    n_hashes: int = 8,
    hash_mode: str = "md5",
) -> DataFrame:
    """(id, shingles) -> (id, minhashes): element `seed` is the MIN over the
    document's shingles of hash(seed || '|' || shingle); no shuffle."""
    if hash_mode == "md5":
        h = F.md5
    elif hash_mode == "xxhash64":
        h = F.xxhash64
    else:
        raise ValueError(f"unknown hash_mode {hash_mode!r}")
    minhashes = F.transform(
        F.sequence(F.lit(0), F.lit(n_hashes - 1)),
        lambda seed: F.array_min(
            F.transform("shingles", lambda sh: h(F.concat(seed.cast("string"), F.lit("|"), sh)))
        ),
    )
    return sets.select(F.col(id_col), minhashes.alias("minhashes"))


def cap_buckets(
    banded: DataFrame,
    bucket_cols: list[str],
    max_bucket_size: int,
    min_bucket_size: int = 1,
) -> DataFrame:
    """Drop every row belonging to a bucket with more than `max_bucket_size`
    members (left-semi join against the under-cap bucket list).

    A degenerate bucket value (empty docs, a boilerplate band, a hot LSH
    band_val) turns the bucket self-join quadratic: one bucket of m rows
    yields m*(m-1)/2 candidate pairs. Capping bounds the worst case at
    n_buckets * cap^2 / 2 regardless of corpus skew — the standard web-scale
    LSH guard (oversized buckets are near-certainly boilerplate, not real
    near-duplicates worth pairing).

    `min_bucket_size=2` (r17, guide §3.2 "reduce the big side before
    shuffling it"): PAIR-FORMING callers also drop singleton buckets —
    a bucket with one member can never produce a pair, and at realistic
    band widths (65k values per simhash band, full minhash band_vals)
    the overwhelming majority of buckets are singletons, so the
    self-join's shuffle shrinks by roughly the non-duplicate fraction of
    the corpus with a provably identical pair set. The size aggregate
    was already being computed for the cap; the extra predicate is free.
    Leave the default 1 for callers that consume capped rows as
    members/sets rather than joining them pairwise."""
    sizes = banded.groupBy(*bucket_cols).agg(F.count(F.lit(1)).alias("__bsz"))
    ok = sizes.filter(
        (F.col("__bsz") <= max_bucket_size) & (F.col("__bsz") >= min_bucket_size)
    ).drop("__bsz")
    return banded.join(ok, bucket_cols, "left_semi")


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    rows_per_band: int = 2,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Band the (id, minhashes) signatures (one posexplode per document) and
    self-join on equal band values -> distinct candidate pairs (id_a < id_b). Band b
    holds seeds b*rows_per_band .. (b+1)*rows_per_band - 1 (the last may be
    partial); its band_val concatenates the sorted "seed:minhash" strings.

    `max_bucket_size` (recommended at scale) drops oversized (band, band_val)
    buckets before the self-join — see cap_buckets."""
    r = rows_per_band
    band_vals = F.expr(
        f"transform(sequence(0, (size(minhashes) - 1) div {r}), b -> "
        f"concat_ws('', array_sort(transform("
        f"sequence(b * {r}, least(b * {r} + {r}, size(minhashes)) - 1), "
        f"s -> concat_ws(':', cast(s AS STRING), cast(minhashes[s] AS STRING))))))"
    )
    banded = signatures.select(
        F.col(id_col), F.posexplode(band_vals).alias("band", "band_val")
    )
    # tracked pin: feeds the bucket-size probe and both self-join sides;
    # callers drop it with operators.pins.release_pins() after their action
    banded = pin(banded)
    if max_bucket_size is not None:
        # min_bucket_size=2 (r17): singleton buckets can't form a pair —
        # dropping them shrinks both self-join sides for free (the size
        # aggregate already runs for the cap); pair set provably identical
        banded = cap_buckets(
            banded, ["band", "band_val"], max_bucket_size, min_bucket_size=2
        )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


# 64-bit word hash from md5: nibble i (hex char i+1) of the digest occupies
# bits 4i..4i+3, so bit j of the hash is bit (j%4) of nibble (j//4) — the
# same engine-portable nibble expression as the 16-bit demo, extended to 16
# nibbles. DuckDB reproduces it exactly (strpos/substr/md5), which is what
# makes the md5 mode hash-checkable.
_MD5_WORD_HASH_SQL = " | ".join(
    f"shiftleft(CAST(instr('0123456789abcdef', substr(md5(word), {i + 1}, 1)) - 1 AS BIGINT), {4 * i})"
    for i in range(16)
)


def simhash64_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash per document, packed into one BIGINT column `sig`.

    This is the production/scale variant of the 16-bit md5 demo
    (queries/dedup2_q.py): bit j of word w is bit j of hash64(w), and
    signature bit j is the sign of the count-weighted vote over the
    document's words. Everything is JVM-side integer math:

    - word occurrences are counted by GROUPING ON THE HASH, not the word:
      the hash is a pure function of the word, so hash-equal words
      contribute identically to every vote and merging them is exact.
      This computes the (md5-parse or xxhash64) digest once per
      occurrence inside the first aggregate's grouping key, materializes
      it as a real int64 column (the 64 vote expressions then do pure
      integer bit math — Catalyst cannot inline the digest into them),
      and narrows the count shuffle to (id, int64, cnt) — no word
      strings cross the wire. An earlier vocabulary-distinct+broadcast
      variant spent more time probing and joining the vocab than the
      whole signature pass; hashing per row is shuffle-free and cheaper
      at any corpus size;
    - the 64 votes are one groupBy with 64 integer SUM aggregates
      (map-side partial agg), then packed with shiftleft/OR-sum.

    hash_mode="xxhash64" (default) is the production path — fastest JVM
    hashing, not oracle-checkable (xxhash64 is Spark-specific).
    hash_mode="md5" is the PORTABLE mode: the word hash is the first 16
    md5 nibbles packed little-nibble-first into a long, reproducible in
    DuckDB — identical signature/band/verify geometry, hash-checked by
    the simhash64_md5_near_dup_pairs oracle.
    """
    words = df.select(
        F.col(id_col), F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("word")
    ).filter(F.col("word") != "")
    if hash_mode == "xxhash64":
        word_hash = F.xxhash64("word")
    elif hash_mode == "md5":
        word_hash = F.expr(_MD5_WORD_HASH_SQL)
    else:
        raise ValueError(f"unknown hash_mode {hash_mode!r}")
    # group on the HASH (exact: hash-equal words vote identically) — the
    # digest evaluates once per occurrence in the grouping key, `__h`
    # reaches the vote aggregate as a materialized int64, and the shuffle
    # carries (id, int64, cnt) instead of word strings
    hc = (
        words.select(F.col(id_col), word_hash.alias("__h"))
        .groupBy(id_col, "__h")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # vote_j = sum(cnt * (+1 if bit j of hash else -1))
    vote_aggs = [
        F.sum(
            F.col("cnt")
            * (F.shiftright(F.col("__h"), j).bitwiseAND(F.lit(1)) * 2 - 1)
        ).alias(f"v{j}")
        for j in range(64)
    ]
    votes = hc.groupBy(id_col).agg(*vote_aggs)
    packed = None
    for j in range(64):
        bit = F.when(F.col(f"v{j}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, j)
        packed = term if packed is None else packed.bitwiseOR(term)
    return votes.select(F.col(id_col), packed.alias("sig"))


def simhash64_near_dup_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "sig",
    n_bands: int = 4,
    band_bits: int = 16,
    max_hamming: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs from 64-bit SimHash signatures: band the signature
    into `n_bands` x `band_bits`-bit buckets, equi-join on (band, band_val),
    verify with exact Hamming distance bit_count(sig_a XOR sig_b).

    With band_bits=16 there are 65,536 possible values per band, so bucket
    occupancy stays ~n/65536 — versus 16 values for the 16-bit demo, whose
    buckets grow ~n/16 and whose self-join is effectively quadratic at
    scale. Any two signatures with Hamming distance <= n_bands - 1 share at
    least one exact band (pigeonhole), so recall is exact for
    max_hamming < n_bands."""
    mask = (1 << band_bits) - 1
    banded = sigs.select(
        F.col(id_col), F.col(sig_col).alias("sig"),
        F.explode(F.sequence(F.lit(0), F.lit(n_bands - 1))).alias("band"),
    ).withColumn(
        "band_val",
        F.expr(f"shiftrightunsigned(sig, band * {band_bits})").bitwiseAND(F.lit(mask)),
    )
    # banded feeds up to four plan branches (bucket sizes, the semi-join
    # probe, and both sides of the self-join) — persist so the signature
    # pipeline runs once (cluster-scale jobs would checkpoint it to parquet);
    # tracked so callers can release_pins() after their action
    banded = pin(banded)
    if max_bucket_size is not None:
        # min_bucket_size=2 (r17): see lsh_candidate_pairs — singleton
        # buckets (the vast majority at 65k values/band) can't form pairs
        banded = cap_buckets(
            banded, ["band", "band_val"], max_bucket_size, min_bucket_size=2
        )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def verify_jaccard(
    sets: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.8,
) -> DataFrame:
    """Exact jaccard of each candidate pair's two shingle sets; keeps pairs
    sharing a shingle with 1000*intersection >= round(1000*threshold)*union
    (integer comparison — no float boundary ambiguity) and emits the exact
    jaccard as a double."""
    a = sets.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"))
    b = sets.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"))
    n_inter = F.size(F.array_intersect("sh_a", "sh_b"))
    n_union = F.size("sh_a") + F.size("sh_b") - F.col("n_inter")
    thr_num = int(round(threshold * 1000))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("n_inter", n_inter)
        .withColumn("n_union", n_union)
        .filter(
            (F.col("n_inter") > 0)
            & (F.col("n_inter") * 1000 >= F.lit(thr_num) * F.col("n_union"))
        )
        .select(
            "id_a",
            "id_b",
            (F.col("n_inter").cast("double") / F.col("n_union").cast("double")).alias("jaccard"),
        )
    )


# Below this many edges the whole dedup graph fits trivially on the driver
# and exact union-find beats paying per-iteration job overhead. The graph
# here is only the near-dup MEMBERS (post-LSH), not the corpus — usually a
# tiny fraction — but at full scale it can still be huge, hence the gate.
_DRIVER_UNION_FIND_EDGE_CAP = 100_000


def _driver_union_find(edge_rows, spark, id_field) -> DataFrame:
    """Exact union-find over a small collected edge list; returns the same
    (id, component=min reachable id) frame as the distributed path, typed
    like the input id column."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    for src, dst in edge_rows:
        ra, rb = find(src), find(dst)
        if ra != rb:
            # union by min so the root IS the minimum id
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    nodes = {v for e in edge_rows for v in e}
    id_type = id_field.dataType
    schema = T.StructType(
        [T.StructField("id", id_type), T.StructField("component", id_type)]
    )
    return spark.createDataFrame([(n, find(n)) for n in sorted(nodes)], schema)


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 20,
    driver_edge_cap: int | None = None,
) -> DataFrame:
    """Connected components over near-dup pairs -> (id, component) with
    component = min id reachable. This is what turns PAIR output into dedup
    GROUPS (keep one representative per component).

    Two paths behind one contract, chosen by edge count:

    - edge list under _DRIVER_UNION_FIND_EDGE_CAP -> exact driver-side
      union-find. The post-LSH graph holds only near-dup members, so this
      is the common case, and it avoids paying several Spark jobs of
      fixed overhead for a few thousand edges.
    - over the cap: iterative min-label propagation: each node adopts the
      smallest label among itself and its neighbors until a fixed point.
      Convergence needs at most the graph DIAMETER iterations; near-dup
      graphs are overwhelmingly tiny cliques/chains, so a handful of
      passes suffice, and `max_iters` bounds the pathological chain (a
      non-converged run raises rather than ship split components). Each
      pass is one shuffle (groupBy node); frames are localCheckpoint()ed
      per iteration so the lineage stays constant-size (on a cluster
      these would be parquet stage tables), and the loop early-exits when
      no label changes.

    `driver_edge_cap` overrides the cap (0 forces the distributed path)."""
    cap = _DRIVER_UNION_FIND_EDGE_CAP if driver_edge_cap is None else driver_edge_cap
    # persist FIRST, then probe with count(): a bare limit(cap+1).collect()
    # on an uncached frame runs Spark's incremental take — several scale-up
    # jobs, each re-executing the (expensive) pair-producing pipeline from
    # scratch. count() is one full pass that also populates the cache, so
    # the small-graph collect and the distributed union both read cached
    # blocks instead of recomputing the LSH pipeline.
    pairs_p = pairs.select(F.col(id_a), F.col(id_b)).persist()
    try:
        n_edges = pairs_p.count()
        if 0 < cap and n_edges <= cap:
            # union-find needs neither symmetrization nor distinct — the
            # common (small-graph) case reads the cached pairs and runs on
            # the driver, skipping several Spark jobs of fixed overhead
            probe = pairs_p.collect()
            return _driver_union_find(
                [(r[id_a], r[id_b]) for r in probe], pairs.sparkSession, pairs.schema[id_a]
            )
        # distributed path: the union references the pairs subplan twice —
        # both sides read the cache; drop the pin as soon as the symmetric
        # edge list is materialized
        edges = (
            pairs_p.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
            .union(pairs_p.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
            .distinct()
            .localCheckpoint(eager=True)
        )
    finally:
        pairs_p.unpersist()
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iters):
        neighbor_min = (
            edges.join(labels.withColumnRenamed("id", "dst"), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.min("component").alias("nbr_min"))
        )
        updated = (
            labels.join(neighbor_min, "id", "left")
            .select(
                "id",
                F.least(F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component"))).alias("component"),
                (F.col("nbr_min") < F.col("component")).alias("__changed"),
            )
        ).localCheckpoint(eager=True)
        n_changed = updated.filter(F.col("__changed")).limit(1).count()
        labels = updated.drop("__changed")
        if n_changed == 0:
            break
    else:
        # min-label propagation advances ~1 hop per pass: a graph with
        # diameter > max_iters would exit here with SPLIT components —
        # returning them silently would ship wrong dedup groups
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} iterations; "
            "raise max_iters (graph diameter exceeds it)"
        )
    return labels


def dup_aware_weights(
    corpus: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Duplicate-aware DOWN-WEIGHTING (soft dedup, the SlimPajama/
    FineWeb-adjacent alternative to dropping): every document in an
    n-member near-duplicate cluster carries training weight 1/n, so a
    cluster's total mass equals one copy — duplication bias is removed
    while content coverage is preserved (hard dedup discards the
    evidence that duplicated content is popular). Docs outside any
    cluster keep weight 1. Appends (n_members, weight).

    Scale shape: components over the PAIR graph only (near-dup members,
    a tiny fraction of the corpus), one size aggregation, one broadcast-
    friendly left join back to the corpus — the corpus itself never
    enters the transitive closure."""
    comps = connected_components(pairs)
    sizes = comps.groupBy("component").agg(F.count(F.lit(1)).alias("n_members"))
    labeled = comps.join(sizes, "component").withColumnRenamed("id", id_col)
    return (
        corpus.join(labeled.select(id_col, "n_members"), id_col, "left")
        .withColumn("n_members", F.coalesce("n_members", F.lit(1)))
        .withColumn("weight", F.lit(1.0) / F.col("n_members").cast("double"))
    )


def near_dup_keep_best(
    corpus: DataFrame,
    pairs: DataFrame,
    quality_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-aware retention over NEAR-duplicate clusters (r14 verdict
    ask #2): connected components over the pair graph, then keep the
    HIGHEST-`quality_col` member per component (ties → min id) — the
    RefinedWeb/FineWeb retention policy end-to-end. `dedup_representatives`
    keeps the min-id star root, which treats a truncated extraction and
    its full-length near-copy as interchangeable; this keeps the best one.
    Documents outside every cluster pass through untouched. Output: the
    retained corpus, same schema as the input.

    Scale shape: the transitive closure runs over the PAIR graph only
    (near-dup members, a tiny fraction of the corpus). The component
    labels join the corpus twice — an inner join selecting cluster
    members and a left_anti passing everyone else — both broadcast-class
    (labels are small; AQE picks the strategy), so the best-per-group
    window shuffles only cluster members, never the whole corpus."""
    comps = connected_components(pairs).withColumnRenamed("id", id_col)
    members = corpus.join(comps, id_col)
    best = keep_best_per_group(members, "component", quality_col, id_col).drop(
        "component"
    )
    rest = corpus.join(comps.select(id_col), id_col, "left_anti")
    return rest.unionByName(best)


def dedup_representatives(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """(component, representative, n_members) per near-dup cluster: the
    representative is the minimum id (== the component label), everything
    else in the component is droppable."""
    comps = connected_components(pairs, id_a, id_b)
    return comps.groupBy("component").agg(
        F.min("id").alias("representative"),
        F.count(F.lit(1)).alias("n_members"),
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
    2003 — the MOSS scheme): hash every word k-gram, slide a window of w
    consecutive hashes, and select each window's RIGHTMOST MINIMAL hash.
    The guarantee: any shared run of ≥ w+k−1 words between two documents
    shares at least one selected fingerprint, while only ~2/(w+1) of all
    k-gram hashes are kept — a density-bounded substitute for comparing
    every gram (`duplicate_span_coverage` keeps every hash; winnowing is
    the sparse index you'd actually ship at 100 TB).

    Single window pass per document: the rightmost-min is the plain MIN
    of the integer packing hash·2^20 + (2^20−1−pos) — min hash first,
    then MAX position on hash ties — so both engines compute it with one
    ordered-frame MIN (no argmin self-join). Hashes are the first 10 hex
    digits of md5 (40 bits, exact in BIGINT after packing); positions cap
    at 2^20 grams/doc (enforced).

    Output: distinct (id_col, fp_hash, fp_pos) selected fingerprints."""
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    grams = F.expr(
        f"transform(sequence(0, size(__words) - {k}), "
        f"i -> concat_ws(' ', slice(__words, i + 1, {k})))"
    )
    g = (
        df.select(F.col(id_col), words.alias("__words"))
        .filter(F.size("__words") >= k)
        .select(F.col(id_col), F.posexplode(grams).alias("pos", "gram"))
        .filter(F.col("pos") < (1 << 20))
        .select(
            id_col,
            "pos",
            F.conv(F.substring(F.md5("gram"), 1, 10), 16, 10)
            .cast("long")
            .alias("h"),
        )
    )
    packed = (F.col("h") * F.lit(1 << 20)) + (
        F.lit((1 << 20) - 1) - F.col("pos")
    )
    win = Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, w - 1)
    sel = (
        g.select(
            id_col,
            "pos",
            F.count(F.lit(1)).over(Window.partitionBy(id_col)).alias("__n"),
            F.min(packed).over(win).alias("__sel"),
        )
        .filter(F.col("pos") <= F.col("__n") - w)  # full windows only
        .select(
            id_col,
            # integer decode of the 60-bit packing: >> and & keep the
            # arithmetic exact (a float division would round 60-bit values)
            F.shiftright(F.col("__sel"), 20).alias("fp_hash"),
            (
                F.lit((1 << 20) - 1)
                - F.col("__sel").bitwiseAND(F.lit((1 << 20) - 1))
            ).alias("fp_pos"),
        )
        .distinct()
    )
    return sel


def winnow_shared_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
    max_df: int = 50,
) -> DataFrame:
    """Document pairs sharing ≥ min_shared winnowing fingerprints — the
    MOSS-style overlap detector over the SPARSE fingerprint index (the
    inverted-index equi-join shape of the other dedup queries; the
    max_df stop-fingerprint cap bounds fan-out exactly as in
    ngram_jaccard/containment). Output: (id_a, id_b, n_shared)."""
    fps = winnow_fingerprints(df, id_col, text_col, k, w).select(
        F.col(id_col), "fp_hash"
    ).distinct()
    # r16 optimization (guide §2.4, the span_coverage shape): the DF cap
    # is one count over the fp_hash window partition instead of a
    # groupBy + join back — the winnowing pipeline above used to execute
    # once per join side (the exchanges differ, so Spark cannot reuse
    # them); now it runs once and shuffles once, on fp_hash. The pin keeps
    # the capped index from re-running for the self-join's two sides.
    # r17: also drop document-frequency-1 fingerprints — the index here
    # feeds ONLY the pair self-join (n_shared counts intersections), and a
    # fingerprint held by a single doc can never be shared, so the join
    # inputs shrink by the unique-fingerprint majority with an identical
    # pair set (guide §3.2).
    idx = pin(
        fps.withColumn(
            "__df", F.count(F.lit(1)).over(Window.partitionBy("fp_hash"))
        )
        .filter((F.col("__df") <= max_df) & (F.col("__df") >= 2))
        .drop("__df")
    )
    a = idx.select(F.col("fp_hash"), F.col(id_col).alias("id_a"))
    b = idx.select(F.col("fp_hash"), F.col(id_col).alias("id_b"))
    return (
        a.join(b, "fp_hash")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
