"""Behavioral unit tests for engine operators on tiny in-memory data."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from etl_poc_spark.functions.text import slugify, word_count
from etl_poc_spark.operators.chunker import chunk_by_tokens
from etl_poc_spark.operators.dedup import lsh_candidate_pairs, minhash_signatures, shingle_sets, verify_jaccard
from etl_poc_spark.operators.pins import _PINNED, release_pins
from etl_poc_spark.operators.similarity import cosine_topk


def test_chunker_fanout_and_overlap(spark):
    words = " ".join(f"w{i}" for i in range(100))
    df = spark.createDataFrame([(1, words), (2, "only three words"), (3, "")], "doc_id int, text string")
    out = chunk_by_tokens(df, chunk_size=40, chunk_overlap=10).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: starts 0,30,60,90 -> 4 chunks; last has 10 tokens
    assert len(by_doc[1]) == 4
    c = sorted(by_doc[1], key=lambda r: r["chunk_id"])
    assert c[0]["chunk_text"].split()[:2] == ["w0", "w1"]
    assert c[1]["chunk_text"].split()[0] == "w30"  # overlap of 10
    assert c[-1]["chunk_n_tokens"] == 10
    # doc 2: single chunk of 3 tokens; doc 3 (empty): no chunks
    assert len(by_doc[2]) == 1 and by_doc[2][0]["chunk_n_tokens"] == 3
    assert 3 not in by_doc


def test_minhash_finds_near_dup_and_skips_distinct(spark):
    base = " ".join(f"tok{i}" for i in range(50))
    near = " ".join(f"tok{i}" for i in range(1, 50))  # first token dropped
    other = " ".join(f"zzz{i}" for i in range(50))
    df = spark.createDataFrame([(1, base), (2, near), (3, other)], "doc_id int, text string")
    sets = shingle_sets(df)
    sig = minhash_signatures(sets)
    pairs = lsh_candidate_pairs(sig)
    verified = verify_jaccard(sets, pairs, threshold=0.8).collect()
    assert [(r["id_a"], r["id_b"]) for r in verified] == [(1, 2)]
    assert verified[0]["jaccard"] > 0.9


def test_cosine_topk_exact_neighbor(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (10, [0.9, 0.1, 0.0]),   # closest to query 0
        (11, [0.0, 1.0, 0.0]),
        (12, [-1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    out = cosine_topk(df.filter("vec_id = 0"), df.filter("vec_id >= 10"), k=3).collect()
    ranked = sorted(out, key=lambda r: r["rank"])
    assert [r["neighbor_id"] for r in ranked] == [10, 11, 12]
    assert ranked[0]["cos_sim"] > 0.99


def test_word_count_empty_and_spaces(spark):
    df = spark.createDataFrame([("",), ("   ",), ("a  b c ",)], "s string")
    got = [r[0] for r in df.select(word_count(F.col("s"))).collect()]
    assert got == [0, 0, 3]


def test_slugify_reference_cases(spark):
    df = spark.createDataFrame(
        [("Hello, World!",), ("--a--b--",), ("!!!",), ("Mixed CASE 42",)], "s string"
    )
    got = [r[0] for r in df.select(slugify(F.col("s"))).collect()]
    assert got == ["hello-world", "a-b", "untitled", "mixed-case-42"]


def test_simhash64_finds_near_dup_and_skips_distinct(spark):
    from etl_poc_spark.operators.dedup import simhash64_near_dup_pairs, simhash64_signatures

    base = " ".join(f"tok{i}" for i in range(400))
    near = " ".join(f"tok{i}" for i in range(1, 400))  # first token dropped
    other = " ".join(f"zzz{i}" for i in range(400))
    df = spark.createDataFrame([(1, base), (2, near), (3, other)], "doc_id int, text string")
    sigs = simhash64_signatures(df)
    rows = {r["doc_id"]: r["sig"] for r in sigs.collect()}
    assert set(rows) == {1, 2, 3}
    # signatures are full-range 64-bit longs, not a 16-value domain
    assert any(v < 0 or v > 2**32 for v in rows.values())
    pairs = simhash64_near_dup_pairs(sigs, max_hamming=3).collect()
    assert [(r["id_a"], r["id_b"]) for r in pairs] == [(1, 2)]
    assert pairs[0]["hamming"] <= 3


def test_simhash64_band_domain_is_16_bit(spark):
    from etl_poc_spark.operators.dedup import simhash64_signatures

    texts = [(i, " ".join(f"w{i}_{j}" for j in range(30))) for i in range(200)]
    df = spark.createDataFrame(texts, "doc_id int, text string")
    sigs = simhash64_signatures(df)
    banded = sigs.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("band"),
        F.col("sig"),
    ).select(
        "band", F.expr("shiftrightunsigned(sig, band * 16)").bitwiseAND(F.lit(65535)).alias("band_val")
    )
    stats = banded.agg(
        F.min("band_val").alias("lo"),
        F.max("band_val").alias("hi"),
        F.countDistinct("band", "band_val").alias("n_buckets"),
    ).collect()[0]
    assert 0 <= stats["lo"] and stats["hi"] <= 65535
    # 200 random docs x 4 bands: with a 2^16 domain per band, collisions are
    # rare — far more distinct buckets than the 16-bit demo's 4x16=64 ceiling
    assert stats["n_buckets"] > 700


def test_bucket_cap_stops_degenerate_quadratic_blowup(spark):
    from etl_poc_spark.operators.dedup import simhash64_near_dup_pairs, simhash64_signatures

    # 300 identical documents: every signature equal, one bucket per band
    df = spark.createDataFrame(
        [(i, "the same boilerplate text repeated everywhere") for i in range(300)],
        "doc_id int, text string",
    )
    sigs = simhash64_signatures(df)
    uncapped = simhash64_near_dup_pairs(sigs, max_hamming=3)
    assert uncapped.count() == 300 * 299 // 2  # quadratic without a cap
    capped = simhash64_near_dup_pairs(sigs, max_hamming=3, max_bucket_size=100)
    assert capped.count() == 0  # oversized buckets dropped before the join


def test_lsh_bucket_cap_drops_oversized_buckets(spark):
    df = spark.createDataFrame(
        [(i, " ".join(f"tok{j}" for j in range(20))) for i in range(60)],
        "doc_id int, text string",
    )
    sig = minhash_signatures(shingle_sets(df))
    uncapped = lsh_candidate_pairs(sig)
    assert uncapped.count() == 60 * 59 // 2
    capped = lsh_candidate_pairs(sig, max_bucket_size=10)
    assert capped.count() == 0


def test_asof_join_backward_inclusive(spark):
    from etl_poc_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, 10, 100), (1, 20, 101), (1, 5, 102), (2, 50, 103)],
        "k int, ts int, lid int",
    )
    right = spark.createDataFrame(
        [(1, 10, "a"), (1, 15, "b"), (2, 60, "c")], "k int, ts int, tag string"
    )
    out = {r["lid"]: r["asof_tag"] for r in asof_join(left, right, by=["k"], right_cols=["tag"]).collect()}
    assert out[100] == "a"   # equal ts matches (inclusive)
    assert out[101] == "b"   # latest at-or-before 20 is ts=15
    assert out[102] is None  # nothing at or before ts=5
    assert out[103] is None  # right row for k=2 is in the future


def test_kmeans_ivf_recall_vs_exact(spark, sf_dir):
    from etl_poc_spark.io import load_table
    from etl_poc_spark.operators.similarity import (
        cosine_topk,
        kmeans_ivf_topk,
        train_kmeans_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    b = emb.filter(F.col("vec_id") >= 10)
    exact = {(r["query_id"], r["neighbor_id"]) for r in cosine_topk(q, b, k=5).collect()}
    approx = {(r["query_id"], r["neighbor_id"])
              for r in kmeans_ivf_topk(q, b, k=5, nprobe=3,
                                       centroids=train_kmeans_centroids(b, 8, 2)).collect()}
    recall = len(exact & approx) / len(exact)
    # the synthetic embeddings are near-uniform (no real cluster structure),
    # which bounds coarse-quantizer recall; 0.5 is the honest floor here
    assert recall >= 0.5
    # deterministic end to end: same input -> same result set
    again = {(r["query_id"], r["neighbor_id"])
             for r in kmeans_ivf_topk(q, b, k=5, nprobe=3,
                                      centroids=train_kmeans_centroids(b, 8, 2)).collect()}
    assert approx == again


def test_pq_encode_decode_roundtrip(spark):
    """PQ contract: codebooks shape (m, k, dim/m); codes are m ints in
    [0, k); the in-plan decode expression reconstructs EXACTLY the trained
    codeword floats (literal round-trip, no precision loss)."""
    from etl_poc_spark.io import load_table
    from etl_poc_spark.operators.similarity import (
        pq_decode_expr,
        pq_encode,
        train_pq_codebooks,
    )

    b = load_table(spark, "/root/testdata/sf0.001", "embeddings").filter(
        F.col("vec_id") >= 10
    )
    m, k = 4, 8
    books = train_pq_codebooks(b, m=m, k=k, n_iters=1)
    assert len(books) == m and all(len(bk) == k for bk in books)
    assert all(len(cw) == 64 // m for bk in books for cw in bk)

    codes = pq_encode(b, books)
    rows = codes.collect()
    assert all(len(r.codes) == m and all(0 <= c < k for c in r.codes) for r in rows)

    decoded = codes.select("vec_id", pq_decode_expr(books).alias("rec")).collect()
    by_id = {r.vec_id: r for r in decoded}
    code_by_id = {r.vec_id: r.codes for r in rows}
    some = sorted(by_id)[:5]
    sub = 64 // m
    for vid in some:
        rec = by_id[vid].rec
        assert len(rec) == 64
        for s in range(m):
            expect = books[s][code_by_id[vid][s]]
            assert list(rec[s * sub : (s + 1) * sub]) == [float(x) for x in expect]


def test_pq_adc_recall_vs_exact(spark, sf_dir):
    """ADC over reconstructed vectors recovers a usable fraction of the
    exact top-5 even on near-uniform vectors (quantization's worst case),
    and is deterministic end to end."""
    from etl_poc_spark.io import load_table
    from etl_poc_spark.operators.similarity import (
        cosine_topk,
        pq_adc_topk,
        pq_encode,
        train_pq_codebooks,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    b = emb.filter(F.col("vec_id") >= 10)
    exact = {(r["query_id"], r["neighbor_id"]) for r in cosine_topk(q, b, k=5).collect()}
    books = train_pq_codebooks(b, m=16, k=64, n_iters=1)
    codes = pq_encode(b, books)
    approx = {(r["query_id"], r["neighbor_id"]) for r in pq_adc_topk(q, codes, books, k=5).collect()}
    assert len(exact & approx) / len(exact) >= 0.4
    again = {(r["query_id"], r["neighbor_id"]) for r in pq_adc_topk(q, codes, books, k=5).collect()}
    assert approx == again


def test_ivfpq_recall_vs_exact_and_gating(spark, sf_dir):
    """Composed IVF-PQ: recall against exact brute force holds a usable
    floor on near-uniform vectors (both stages' worst case — the IVF gate
    can only drop candidates PQ would have scored), results are
    deterministic, and the candidate set is a subset of what the IVF
    stage alone admits (the gate really gates)."""
    from etl_poc_spark.io import load_table
    from etl_poc_spark.operators.similarity import (
        cosine_topk,
        ivfpq_topk,
        kmeans_ivf_topk,
        train_kmeans_centroids,
        train_pq_codebooks,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    b = emb.filter(F.col("vec_id") >= 10)
    exact = {(r["query_id"], r["neighbor_id"]) for r in cosine_topk(q, b, k=5).collect()}
    cents = train_kmeans_centroids(b, n_centroids=8, n_iters=2)
    books = train_pq_codebooks(b, m=16, k=64, n_iters=1)
    got = ivfpq_topk(q, b, k=5, nprobe=3, centroids=cents, codebooks=books).collect()
    approx = {(r["query_id"], r["neighbor_id"]) for r in got}
    assert len(exact & approx) / len(exact) >= 0.3
    again = {
        (r["query_id"], r["neighbor_id"])
        for r in ivfpq_topk(q, b, k=5, nprobe=3, centroids=cents, codebooks=books).collect()
    }
    assert approx == again
    # gating: every IVF-PQ neighbor was admitted by the coarse quantizer
    # (compare against the IVF stage with a full-rank k so nothing is cut
    # by ranking, only by the cluster gate)
    ivf_admitted = {
        (r["query_id"], r["neighbor_id"])
        for r in kmeans_ivf_topk(q, b, k=10**6, nprobe=3, centroids=cents).collect()
    }
    assert approx <= ivf_admitted


def test_connected_components_and_representatives(spark):
    from etl_poc_spark.operators.dedup import connected_components, dedup_representatives

    # components: {1,2,3,4} (chain), {10,11} (pair), {20,21,22} (triangle)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "id_a int, id_b int",
    )
    for cap in (0, None):  # distributed path and driver union-find path agree
        comps = {r["id"]: r["component"]
                 for r in connected_components(pairs, driver_edge_cap=cap).collect()}
        assert comps == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}
    reps = {r["component"]: (r["representative"], r["n_members"])
            for r in dedup_representatives(pairs).collect()}
    assert reps == {1: (1, 4), 10: (10, 2), 20: (20, 3)}


def test_connected_components_long_chain_converges(spark):
    from etl_poc_spark.operators.dedup import connected_components

    # a 30-node chain needs multiple propagation rounds (diameter 29, but
    # min-label spreads both ways, halving each pass)
    pairs = spark.createDataFrame([(i, i + 1) for i in range(30)], "id_a int, id_b int")
    # driver_edge_cap=0 forces the DISTRIBUTED label-propagation path
    comps = {r["id"]: r["component"]
             for r in connected_components(pairs, max_iters=40, driver_edge_cap=0).collect()}
    assert set(comps.values()) == {0} and len(comps) == 31


def test_count_min_never_underestimates(spark):
    from etl_poc_spark.operators.sketches import count_min_build, count_min_estimate

    rows = [(f"k{i % 37}",) for i in range(2000)] + [("hot",)] * 500
    df = spark.createDataFrame(rows, "k string")
    sketch = count_min_build(df, "k", d=4, w=32)
    assert sketch.count() <= 4 * 32
    est = {r["k"]: r["cm_estimate"] for r in count_min_estimate(sketch, df, "k", d=4, w=32).collect()}
    true = {r["k"]: r["n"] for r in df.groupBy("k").agg(F.count(F.lit(1)).alias("n")).collect()}
    for k, t in true.items():
        assert est[k] >= t  # the one-sided count-min guarantee
    # the heavy hitter is estimated tightly (w=32 buckets, N=2500)
    assert est["hot"] < true["hot"] + 2500 * 4 / 32


def test_cms_inner_product_disjoint_sketches_estimate_zero(spark):
    from etl_poc_spark.operators.sketches import cms_inner_product

    # Hand-built sketch tables (j, bucket, cnt): stored rows are the NON-EMPTY
    # buckets only, so a hash row with zero overlap between the operands must
    # contribute inner product 0 — the MIN has to run over all d rows, not
    # just the ones the bucket join happens to produce.
    a = spark.createDataFrame([(0, 1, 5), (1, 3, 2)], "j int, bucket int, cnt long")
    b = spark.createDataFrame([(0, 2, 7), (1, 4, 9)], "j int, bucket int, cnt long")
    [(est,)] = cms_inner_product(a, b, d=4).collect()
    assert est == 0  # fully disjoint: 0, not NULL

    # Partial overlap: hash row 0 shares bucket 1 (5*7=35) but rows 1..3 are
    # empty-intersection -> densified min is still 0.
    c = spark.createDataFrame([(0, 1, 7), (1, 9, 4)], "j int, bucket int, cnt long")
    [(est2,)] = cms_inner_product(a, c, d=4).collect()
    assert est2 == 0

    # Overlap in EVERY hash row -> min of the per-row products.
    d_ = spark.createDataFrame([(0, 1, 7), (1, 3, 10)], "j int, bucket int, cnt long")
    [(est3,)] = cms_inner_product(a, d_, d=2).collect()
    assert est3 == min(5 * 7, 2 * 10)


def test_count_min_unknown_key_estimates_zero(spark):
    from etl_poc_spark.operators.sketches import count_min_build, count_min_estimate

    build = spark.createDataFrame([("a",)] * 10 + [("b",)] * 3, "k string")
    sketch = count_min_build(build, "k", d=4, w=32)
    probe = spark.createDataFrame([("a",), ("never-seen-key-xyz",)], "k string")
    est = {r["k"]: r["cm_estimate"] for r in count_min_estimate(sketch, probe, "k", d=4, w=32).collect()}
    assert est["a"] >= 10
    # a key absent from the corpus must answer 0 (empty cell = zero counter),
    # not disappear or report another key's counts via a partial min
    assert est["never-seen-key-xyz"] == 0


def test_connected_components_string_ids_and_nonconvergence(spark):
    import pytest as _pytest

    from etl_poc_spark.operators.dedup import connected_components

    # string ids work on the driver path (schema follows the input type)
    pairs = spark.createDataFrame([("a", "b"), ("b", "c")], "id_a string, id_b string")
    comps = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    assert comps == {"a": "a", "b": "a", "c": "a"}
    # the distributed path refuses to return split components silently
    chain = spark.createDataFrame([(i, i + 1) for i in range(12)], "id_a int, id_b int")
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iters=2, driver_edge_cap=0)


def test_asof_join_forward_inclusive(spark):
    from etl_poc_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, 10, 100), (1, 20, 101), (1, 30, 102), (2, 5, 103)],
        "k int, ts int, lid int",
    )
    right = spark.createDataFrame(
        [(1, 10, "a"), (1, 25, "b"), (2, 1, "c")], "k int, ts int, tag string"
    )
    out = {r["lid"]: r["asof_tag"]
           for r in asof_join(left, right, by=["k"], right_cols=["tag"], direction="forward").collect()}
    assert out[100] == "a"   # equal ts matches (inclusive)
    assert out[101] == "b"   # earliest at-or-after 20 is ts=25
    assert out[102] is None  # nothing at or after ts=30
    assert out[103] is None  # right row for k=2 is in the past


def test_pin_tracking_releases_persisted_frames(spark):
    """Operators register intra-query persists with pins.pin(); after the
    caller's action, release_pins() must drop every pinned block so a
    long-lived session doesn't accumulate stage caches."""
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon {i}") for i in range(10)],
        "doc_id int, text string",
    )
    release_pins()  # clean slate
    sets = shingle_sets(docs, "doc_id", "text", shingle_words=3)
    sig = minhash_signatures(sets, "doc_id", n_hashes=4)
    pairs = lsh_candidate_pairs(sig, "doc_id", rows_per_band=2)
    pairs.count()  # the action that populates the pinned banded frame
    assert len(_PINNED) >= 1
    pinned = list(_PINNED)
    assert any(df.storageLevel.useMemory or df.storageLevel.useDisk for df in pinned)
    released = release_pins()
    assert released == len(pinned) and not _PINNED
    assert all(
        not (df.storageLevel.useMemory or df.storageLevel.useDisk) for df in pinned
    )


def test_hll_sketch_union_error_bound(spark, sf_dir):
    """The merged per-day sketches estimate total distinct users within 5%
    of exact — the mergeability contract that makes sketch stores safe."""
    from etl_poc_spark.registry import QUERIES, load_all

    load_all()
    r = QUERIES["hll_sketch_union_users"](spark, sf_dir).collect()[0]
    assert r["n_days"] > 0
    assert r["sum_daily_exact"] >= r["exact_total_users"]  # day-sum overcounts repeats
    rel_err = abs(r["approx_total_users"] - r["exact_total_users"]) / max(r["exact_total_users"], 1)
    assert rel_err < 0.05


def test_kmv_error_bound_and_merge(spark):
    from etl_poc_spark.operators.sketches import kmv_bottom_k, kmv_hash

    n = 5000
    df = spark.range(n).select(F.col("id").alias("k"))
    row = kmv_bottom_k(df, "k", k=64).collect()[0]
    assert row["n_in_sketch"] == 64
    # KMV relative standard error ~ 1/sqrt(k-2); allow 4 sigma
    assert abs(row["est_distinct"] - n) / n < 4 / (62**0.5)

    # exact path: fewer distinct values than k -> estimate IS the count
    small = spark.range(10).select(F.col("id").alias("k"))
    srow = kmv_bottom_k(small, "k", k=64).collect()[0]
    assert srow["n_in_sketch"] == 10 and srow["est_distinct"] == 10.0

    # mergeability: bottom-k of a union == bottom-k over the union of the
    # two sketches' hash sets (the streaming/partitioned merge rule)
    a = spark.range(0, 3000).select(F.col("id").alias("k"))
    b = spark.range(2000, 5000).select(F.col("id").alias("k"))
    direct = kmv_bottom_k(a.union(b), "k", k=64).collect()[0]
    ha = a.select(kmv_hash(F.col("k")).alias("h")).distinct().orderBy("h").limit(64)
    hb = b.select(kmv_hash(F.col("k")).alias("h")).distinct().orderBy("h").limit(64)
    merged_kth = (
        ha.union(hb).distinct().orderBy("h").limit(64)
        .agg(F.max("h").alias("kth")).collect()[0]["kth"]
    )
    assert direct["kth_min_hash"] == merged_kth


def test_pagerank_closed_forms_and_mass(spark):
    from etl_poc_spark.operators.pagerank import pagerank
    from etl_poc_spark.operators.pins import release_pins

    # symmetric 2-cycle: ranks identical at 0.5
    e = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    r = {x["vertex"]: x["rank"] for x in pagerank(e, n_iter=5).collect()}
    release_pins()
    assert abs(r[1] - 0.5) < 1e-9 and abs(r[2] - 0.5) < 1e-9

    # star: hub 0 <- leaves 1..4; leaves dangle, hub collects
    e = spark.createDataFrame([(i, 0) for i in range(1, 5)], "src long, dst long")
    r = {x["vertex"]: x["rank"] for x in pagerank(e, n_iter=20).collect()}
    release_pins()
    assert abs(sum(r.values()) - 1.0) < 1e-6  # dangling mass conserved
    assert r[0] > r[1] and len({round(r[i], 12) for i in range(1, 5)}) == 1

    # manual power iteration on a 3-vertex chain with cycle: 1->2->3->1
    e = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], "src long, dst long")
    r = {x["vertex"]: x["rank"] for x in pagerank(e, n_iter=5).collect()}
    release_pins()
    # a rotation-symmetric cycle converges to uniform
    for v in (1, 2, 3):
        assert abs(r[v] - 1 / 3) < 1e-9


def test_pagerank_reliable_checkpoint_mode(spark, tmp_path):
    """The cluster-durable mode (checkpoint_dir -> df.checkpoint) computes
    the same ranks as the default localCheckpoint mode."""
    from etl_poc_spark.operators.pagerank import pagerank
    from etl_poc_spark.operators.pins import release_pins

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (4, 1)], "src long, dst long"
    )
    local = {x["vertex"]: x["rank"] for x in pagerank(e, n_iter=6).collect()}
    release_pins()
    reliable = {
        x["vertex"]: x["rank"]
        for x in pagerank(
            e, n_iter=6, checkpoint_dir=str(tmp_path / "ckpt")
        ).collect()
    }
    release_pins()
    assert set(local) == set(reliable)
    for v in local:
        assert abs(local[v] - reliable[v]) < 1e-12
    # reliable mode actually wrote checkpoint data
    assert any((tmp_path / "ckpt").rglob("*"))


def test_funnel_strict_ordering(spark):
    """Constructed sequences pin the funnel semantics: a click BEFORE the
    first view doesn't count; equal timestamps don't advance (strictly
    after); entities stall from the first missed step onward."""
    from datetime import datetime

    from pyspark.sql import functions as F

    from etl_poc_spark.operators.funnel import funnel_rollup, funnel_times

    t = lambda m: datetime(2024, 1, 1, 0, m)  # noqa: E731
    rows = [
        # u1 converts in order
        (1, "view", t(0)), (1, "click", t(1)), (1, "purchase", t(2)),
        # u2: click BEFORE any view -> click must not count; later click does
        (2, "click", t(0)), (2, "view", t(1)), (2, "click", t(2)),
        # u3: click at the SAME instant as the view -> not strictly after
        (3, "view", t(0)), (3, "click", t(0)),
        # u4: purchase without a click -> stalls at view
        (4, "view", t(0)), (4, "purchase", t(1)),
        # u5: no view at all -> NULL throughout
        (5, "purchase", t(0)),
    ]
    e = spark.createDataFrame(rows, ["user_id", "event_type", "ts"])
    steps = [
        ("view", F.col("event_type") == "view"),
        ("click", F.col("event_type") == "click"),
        ("purchase", F.col("event_type") == "purchase"),
    ]
    got = {r.user_id: r for r in funnel_times(e, steps).collect()}
    assert got[1].t_view == t(0) and got[1].t_click == t(1) and got[1].t_purchase == t(2)
    assert got[2].t_view == t(1) and got[2].t_click == t(2) and got[2].t_purchase is None
    assert got[3].t_view == t(0) and got[3].t_click is None
    assert got[4].t_view == t(0) and got[4].t_click is None and got[4].t_purchase is None
    assert got[5].t_view is None and got[5].t_click is None and got[5].t_purchase is None

    roll = funnel_rollup(funnel_times(e, steps), ["view", "click", "purchase"]).collect()[0]
    assert roll.n_entities == 5
    assert roll.reached_view == 4
    assert roll.reached_click == 2
    assert roll.reached_purchase == 1
    assert roll.view_to_click == 2 / 4
    assert roll.click_to_purchase == 1 / 2


def test_funnel_max_gap_window(spark):
    """Conversion-window constraint: a step landing after the gap doesn't
    count, even though a later in-gap event of the same kind would have."""
    from datetime import datetime

    from pyspark.sql import functions as F

    from etl_poc_spark.operators.funnel import funnel_times

    t = lambda m: datetime(2024, 1, 1, 0, m)  # noqa: E731
    rows = [
        # u1: click 2 min after view — inside a 5-min window
        (1, "view", t(0)), (1, "click", t(2)),
        # u2: first click 10 min after view (outside), no second chance
        (2, "view", t(0)), (2, "click", t(10)),
        # u3: late click outside the window, then ANOTHER view restarts
        # nothing (t_view is the FIRST view) — still no conversion
        (3, "view", t(0)), (3, "click", t(30)),
    ]
    e = spark.createDataFrame(rows, ["user_id", "event_type", "ts"])
    steps = [
        ("view", F.col("event_type") == "view"),
        ("click", F.col("event_type") == "click"),
    ]
    got = {r.user_id: r for r in funnel_times(e, steps, max_gap_seconds=300).collect()}
    assert got[1].t_click == t(2)
    assert got[2].t_click is None
    assert got[3].t_click is None
    # without the gap the late clicks count
    loose = {r.user_id: r for r in funnel_times(e, steps).collect()}
    assert loose[2].t_click == t(10)


def test_exact_quantiles_2pass(spark):
    """Two-pass selection == sorted-list indexing at ceil(q*n) on a
    constructed multiset with ties straddling bin boundaries; guards
    reject bad percentiles and empty input."""
    import math

    import pytest

    from etl_poc_spark.operators.quantiles import exact_quantiles_2pass

    values = [1.0, 1.0, 2.5, 2.5, 2.5, 10.0, 99.99, 100.0, 100.0, 250.0, 251.0]
    df = spark.createDataFrame([(v,) for v in values], "x double")
    qs = [10, 25, 50, 75, 90, 100]
    got = {
        r["q100"]: r["value"]
        for r in exact_quantiles_2pass(df, "x", qs, scale=100, bin_width=70).collect()
    }
    s = sorted(values)
    for q in qs:
        assert got[q] == s[math.ceil(q * len(s) / 100) - 1], q

    # nulls are excluded, matching percentile() semantics
    with_null = spark.createDataFrame([(1.0,), (None,), (3.0,)], "x double")
    r = exact_quantiles_2pass(with_null, "x", [50], bin_width=1000).collect()
    assert r[0]["value"] == 1.0  # ceil(0.5*2)=1 -> first of [1.0, 3.0]

    with pytest.raises(ValueError, match="percentiles"):
        exact_quantiles_2pass(df, "x", [0])
    with pytest.raises(ValueError, match="no non-null"):
        exact_quantiles_2pass(
            spark.createDataFrame([], "x double"), "x", [50]
        ).collect()
    with pytest.raises(ValueError, match="max_bins"):
        exact_quantiles_2pass(df, "x", [50], bin_width=1, max_bins=3)


def test_exact_quantiles_2pass_decimal_overflow_is_loud(spark):
    """A value with more integer digits than the decimal precision allows
    must raise, never silently drop from an 'exact' quantile: under ANSI
    the cast itself throws; under non-ANSI the cast yields NULL and the
    NULL-bin guard raises. A wider `precision` makes the same input work."""
    import pytest

    from etl_poc_spark.operators.quantiles import exact_quantiles_2pass

    big = 5.0e16  # 17 integer digits: overflows decimal(18,2)'s 16
    df = spark.createDataFrame([(1.0,), (big,)], "x double")

    ansi_was = spark.conf.get("spark.sql.ansi.enabled")
    try:
        spark.conf.set("spark.sql.ansi.enabled", "false")
        with pytest.raises(ValueError, match="precision"):
            exact_quantiles_2pass(df, "x", [50], bin_width=10**16)
        spark.conf.set("spark.sql.ansi.enabled", "true")
        with pytest.raises(Exception):  # ANSI: Spark's own arithmetic error
            exact_quantiles_2pass(df, "x", [50], bin_width=10**16)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi_was)

    # precision wide enough for the scaled magnitude -> exact answer
    got = exact_quantiles_2pass(
        df, "x", [100], bin_width=10**16, precision=38
    ).collect()
    assert got[0]["value"] == big


def test_timeseries_gapfill_and_rolling(spark):
    """Constructed series pin the semantics: per-group spines span only
    that group's [min, max]; gap days get 0-fills and carried-forward
    values (NULL before the first observation); the rolling frame is
    TIME-based (a day 8 days back contributes nothing even though it is
    the previous row)."""
    from datetime import date

    from etl_poc_spark.operators.timeseries import gap_fill_daily, rolling_window_agg

    daily = spark.createDataFrame(
        [
            ("a", date(2024, 1, 1), 2, 10.0),
            ("a", date(2024, 1, 4), 1, 40.0),   # gap: Jan 2-3 missing
            ("b", date(2024, 2, 1), 5, 7.0),    # b's span is ONE day
        ],
        "g string, day date, n long, price double",
    )
    dense = {
        (r["g"], r["day"]): r
        for r in gap_fill_daily(
            daily, ["g"], zero_cols=["n"], ffill_cols=["price"]
        ).collect()
    }
    assert len(dense) == 5  # a: 4 days, b: 1 day — no cross-group spine
    assert dense[("a", date(2024, 1, 2))]["n"] == 0
    assert dense[("a", date(2024, 1, 2))]["price"] == 10.0  # carried forward
    assert dense[("a", date(2024, 1, 4))]["price"] == 40.0
    assert ("b", date(2024, 1, 1)) not in dense

    rolled = spark.createDataFrame(
        [
            ("a", date(2024, 1, 1), 10.0),
            ("a", date(2024, 1, 5), 20.0),
            ("a", date(2024, 1, 20), 5.0),  # previous ROW, outside 7 days
        ],
        "g string, day date, v double",
    )
    got = {
        r["day"]: r["v7"]
        for r in rolling_window_agg(
            rolled, ["g"], "day", {"v7": F.sum("v")}, n_days=7
        ).collect()
    }
    assert got[date(2024, 1, 1)] == 10.0
    assert got[date(2024, 1, 5)] == 30.0   # Jan 1 within 7 days
    assert got[date(2024, 1, 20)] == 5.0   # time-based, not row-based

    # linear interpolation: interior gaps on the line, edges stay NULL
    from etl_poc_spark.operators.timeseries import interpolate_daily

    dense = spark.createDataFrame(
        [
            ("a", date(2024, 1, 1), None),   # before first obs -> NULL
            ("a", date(2024, 1, 2), 10.0),
            ("a", date(2024, 1, 3), None),   # -> 20.0
            ("a", date(2024, 1, 4), None),   # -> 30.0
            ("a", date(2024, 1, 5), 40.0),
            ("a", date(2024, 1, 6), None),   # after last obs -> NULL
        ],
        "g string, day date, v double",
    )
    got = {
        r["day"]: r["v"]
        for r in interpolate_daily(dense, ["g"], "v").collect()
    }
    assert got[date(2024, 1, 1)] is None
    assert got[date(2024, 1, 2)] == 10.0
    assert got[date(2024, 1, 3)] == 20.0
    assert got[date(2024, 1, 4)] == 30.0
    assert got[date(2024, 1, 6)] is None


def test_triangle_count_closed_forms(spark):
    """Closed-form graphs pin the census: K4 (4 triangles, each
    enumerated once), a square (0 triangles, 4 wedges, transitivity 0),
    a triangle with a pendant (1 triangle, 5 wedges, 3/5), a star (no
    triangles, NULL-free wedges), and a single edge (0 wedges ->
    transitivity NULL). Duplicate/reversed/self-loop inputs canonicalize
    to the same answers."""
    from itertools import combinations

    from etl_poc_spark.operators.graph import triangle_stats, triangles
    from etl_poc_spark.operators.pins import release_pins

    def stats(pairs):
        e = spark.createDataFrame(pairs, "u long, v long")
        r = triangle_stats(e).collect()[0]
        release_pins()
        return (r["n_vertices"], r["n_edges"], r["n_triangles"], r["n_wedges"],
                r["global_clustering"])

    k4 = list(combinations(range(4), 2))
    assert stats(k4) == (4, 6, 4, 12, 1.0)
    # each K4 triangle enumerated exactly once (4 distinct (a,b,c) rows)
    e = spark.createDataFrame(k4, "u long, v long")
    rows = {(r["a"], r["b"], r["c"]) for r in triangles(e).collect()}
    release_pins()
    assert len(rows) == 4
    assert all(len({a, b, c}) == 3 for a, b, c in rows)

    assert stats([(1, 2), (2, 3), (3, 4), (4, 1)]) == (4, 4, 0, 4, 0.0)
    tri_pendant = stats([(1, 2), (2, 3), (1, 3), (3, 4)])
    assert tri_pendant == (4, 4, 1, 5, 3 / 5)
    assert stats([(0, i) for i in range(1, 5)]) == (5, 4, 0, 6, 0.0)
    v, ed, t, w, gc = stats([(1, 2)])
    assert (v, ed, t, w) == (2, 1, 0, 0) and gc is None

    # canonicalization: reversed orientations, duplicates, self-loops
    messy = [(2, 1), (1, 2), (3, 2), (1, 3), (3, 3), (3, 4), (4, 3)]
    assert stats(messy) == tri_pendant

    # k-core peeling: K4 with a pendant chain — the 3-core is exactly K4
    # (chain vertices peel in cascading rounds: removing the tail drops
    # its neighbor under degree, the parallel-peel fixpoint equals
    # sequential removal); the 2-core of a tree is empty; k=1 keeps
    # every non-isolated vertex
    from etl_poc_spark.operators.graph import k_core

    k4_chain = k4 + [(3, 10), (10, 11)]
    e = spark.createDataFrame(k4_chain, "u long, v long")
    core3 = {r["vertex"]: r["core_degree"] for r in k_core(e, k=3).collect()}
    release_pins()
    assert core3 == {0: 3, 1: 3, 2: 3, 3: 3}
    tree = spark.createDataFrame([(1, 2), (2, 3), (2, 4)], "u long, v long")
    assert k_core(tree, k=2).count() == 0
    release_pins()
    assert k_core(tree, k=1).count() == 4
    release_pins()

    # local clustering: triangle+pendant — corners get 2*1/(d(d-1)),
    # the degree-1 pendant is NULL
    from etl_poc_spark.operators.graph import local_clustering

    e = spark.createDataFrame([(1, 2), (2, 3), (1, 3), (3, 4)], "u long, v long")
    lc = {r["vertex"]: r for r in local_clustering(e).collect()}
    release_pins()
    assert lc[1]["clustering"] == 1.0 and lc[2]["clustering"] == 1.0
    assert lc[3]["degree"] == 3 and lc[3]["clustering"] == 2 * 1 / 6
    assert lc[4]["n_triangles"] == 0 and lc[4]["clustering"] is None


def test_bloom_prefilter_join_exactness(spark, sf_dir):
    """The safety contract a bloom pre-filtered join rests on: zero false
    negatives (every build key passes its own filter), so the filter
    only subtracts certain non-matches before the real join."""
    from etl_poc_spark.io import load_table
    from etl_poc_spark.operators.bloom import bloom_build, bloom_contains

    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    build = c.filter(F.col("c_acctbal") < 0).select("c_custkey")
    words = bloom_build(build, "c_custkey", m=1024, k=3)
    # no false negatives
    assert build.filter(~bloom_contains(F.col("c_custkey"), words, 1024, 3)).count() == 0
    # the filter actually filters: survivors are far fewer than the scan
    n_pass = o.filter(bloom_contains(F.col("o_custkey"), words, 1024, 3)).count()
    assert n_pass < o.count()
    import pytest

    with pytest.raises(ValueError, match="multiple of 64"):
        bloom_build(build, "c_custkey", m=100)


def test_table_diff_statuses_and_summary(spark):
    """Constructed snapshots pin the CDC classification: insert/delete/
    changed (incl. null-safe null->value and value->null transitions),
    unchanged (incl. null==null), changed_cols naming exactly the
    differing columns, and the summary counts."""
    import pytest

    from etl_poc_spark.operators.diff import diff_summary, table_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", None), (3, "c", 30.0), (4, None, 40.0)],
        "k long, name string, v double",
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (4, "D", 40.0), (5, "e", 50.0)],
        "k long, name string, v double",
    )
    d = {r["k"]: r for r in table_diff(old, new, ["k"]).collect()}
    assert d[1]["status"] == "unchanged" and d[1]["changed_cols"] == []
    assert d[2]["status"] == "changed" and d[2]["changed_cols"] == ["v"]  # null -> 20
    assert d[3]["status"] == "deleted" and d[3]["new_v"] is None
    assert d[4]["status"] == "changed" and d[4]["changed_cols"] == ["name"]  # null -> D
    assert d[5]["status"] == "inserted" and d[5]["old_v"] is None

    s = diff_summary(old, new, ["k"]).collect()[0]
    assert (s["n_inserted"], s["n_deleted"], s["n_changed"], s["n_unchanged"]) == (
        1, 1, 2, 1,
    )
    with pytest.raises(ValueError, match="no compare columns"):
        table_diff(old.select("k"), new.select("k"), ["k"])


def test_expectation_report_semantics(spark):
    """Constructed violations pin every rule type: NULL exemption for
    range/in_set/regex (SQL semantics — pair with not_null to reject),
    unique counting ALL members of a duplicated group, FK orphans
    excluding NULL keys, and duplicate-rule rejection."""
    import pytest

    from etl_poc_spark.operators.expectations import expectation_report

    df = spark.createDataFrame(
        [
            (1, 10.0, "A", "ok"),
            (1, -5.0, "B", "bad space"),   # dup key, negative, not in set
            (2, None, "A", None),          # null price/text are EXEMPT
            (None, 20.0, "A", "ok2"),      # null key: not_null + FK-exempt
            (3, 30.0, "A", "ok3"),
        ],
        "k long, price double, cat string, slug string",
    )
    ref = spark.createDataFrame([(1,), (2,)], "rk long")
    rules = [
        {"type": "not_null", "column": "k"},
        {"type": "unique", "columns": ["k"]},
        {"type": "range", "column": "price", "min": 0.0, "max": 25.0},
        {"type": "in_set", "column": "cat", "values": ["A"]},
        {"type": "regex", "column": "slug", "pattern": "^[a-z0-9]+$"},
        {"type": "foreign_key", "column": "k", "ref": "r", "ref_column": "rk"},
    ]
    rep = {
        r["rule"]: (r["n_rows"], r["n_violations"], r["passed"])
        for r in expectation_report(df, rules, refs={"r": ref}).collect()
    }
    assert rep["not_null:k"] == (5, 1, False)
    assert rep["unique:k"] == (5, 2, False)        # both rows of the k=1 group
    assert rep["range:price"] == (5, 2, False)     # -5 and 30; NULL exempt
    assert rep["in_set:cat"] == (5, 1, False)
    assert rep["regex:slug"] == (5, 1, False)      # "bad space"; NULL exempt
    assert rep["foreign_key:k"] == (5, 1, False)   # k=3; NULL key exempt

    clean = expectation_report(
        df.filter("k = 3"), [{"type": "not_null", "column": "k"}]
    ).collect()[0]
    assert clean["passed"] is True and clean["n_rows"] == 1

    with pytest.raises(ValueError, match="duplicate rules"):
        expectation_report(df, [rules[0], rules[0]])
    with pytest.raises(ValueError, match="unknown frame"):
        expectation_report(df, [rules[5]], refs={})


def _py_bpe(word_freqs, n_merges):
    """Pure-Python reference BPE trainer with the SAME deterministic
    tie-break (max count, then lexicographically smallest pair) and
    leftmost-first non-overlapping merge application as train_bpe."""
    symtab = {w: list(w) for w in word_freqs}
    merges = []
    for _ in range(n_merges):
        counts = {}
        for w, syms in symtab.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + word_freqs[w]
        if not counts:
            break
        (a, b), n = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if n < 2:
            break
        merges.append((a, b, n))
        for w, syms in symtab.items():
            out = []
            for s in syms:
                if out and out[-1] == a and s == b:
                    out[-1] = a + b
                else:
                    out.append(s)
            symtab[w] = out
    return merges, symtab


def test_train_bpe_matches_python_reference(spark):
    """Distributed BPE training == the pure-Python reference on the
    classic Sennrich corpus: same merge sequence (incl. the es/st
    count-9 tie broken lexicographically), same final segmentations,
    and segment_expr (the inference path) reproduces the trained
    symbol table. Also pins the max-pair-count monotonicity BPE
    guarantees (each merge's count <= the previous one's)."""
    from pyspark.sql import functions as F

    from etl_poc_spark.operators.bpe import segment_expr, train_bpe

    freqs = {"low": 5, "lower": 2, "newest": 6, "widest": 3}
    rows = [(w,) for w, f in freqs.items() for _ in range(f)]
    words = spark.createDataFrame(rows, ["word"]).repartition(7)

    merges, symtab = train_bpe(words, n_merges=6)
    ref_merges, ref_symtab = _py_bpe(freqs, 6)
    assert merges == ref_merges
    # the famous first merge: ('e','s') at count 9, beating ('s','t')
    # only on the lexicographic tie-break
    assert merges[0] == ("e", "s", 9)
    counts = [n for _, _, n in merges]
    assert counts == sorted(counts, reverse=True)  # monotone non-increasing

    got = {r["word"]: r["syms"] for r in symtab.collect()}
    assert got == ref_symtab

    # inference: applying the trained merge list reproduces training's
    # final segmentation for every vocabulary word
    seg = {
        r["word"]: r["toks"]
        for r in spark.createDataFrame([(w,) for w in freqs], ["word"])
        .select("word", segment_expr(merges).alias("toks"))
        .collect()
    }
    assert seg == ref_symtab

    # early stop: a corpus where every pair is unique trains zero merges
    uniq = spark.createDataFrame([("ab",), ("cd",)], ["word"])
    m2, _ = train_bpe(uniq, n_merges=5)
    assert m2 == []


def test_bpe_segmentation_stats_invariants(spark, sf_dir):
    """Pins for the rows-only corpus query: every word yields >= 1 token,
    merging strictly compresses relative to characters (the trained
    merges fired somewhere), and the ratios are consistent with the
    integer totals they derive from."""
    from etl_poc_spark.queries.vocab_q import bpe_segmentation_stats

    r = bpe_segmentation_stats(spark, sf_dir).collect()[0]
    assert r["total_words"] > 0
    assert r["total_words"] <= r["total_tokens"] <= r["total_chars"]
    assert r["total_tokens"] < r["total_chars"]  # at least one merge applied
    assert r["tokens_per_word"] == r["total_tokens"] / r["total_words"]
    assert r["chars_per_token"] == r["total_chars"] / r["total_tokens"]
    assert r["chars_per_token"] > 1.0


def test_train_bpe_reliable_checkpoint(spark, tmp_path):
    from etl_poc_spark.operators.bpe import train_bpe

    freqs = {"low": 5, "lower": 2, "newest": 6, "widest": 3}
    rows = [(w,) for w, f in freqs.items() for _ in range(f)]
    words = spark.createDataFrame(rows, ["word"])
    m_local, _ = train_bpe(words, n_merges=3)
    m_rel, _ = train_bpe(words, n_merges=3, checkpoint_dir=str(tmp_path / "bpeckpt"))
    assert m_local == m_rel
    assert any((tmp_path / "bpeckpt").rglob("*"))


def test_funnel_guards(spark):
    """Edge guards: duplicate step names are rejected (they'd silently
    collide on t_<name>); a step-to-step ratio whose upstream step no
    entity reached is explicitly NULL, matching DuckDB's NULL for
    x / NULLIF(0, 0) — engine-independent, not divide-by-zero."""
    from datetime import datetime

    import duckdb
    import pytest
    from pyspark.sql import functions as F

    from etl_poc_spark.operators.funnel import funnel_rollup, funnel_times

    e = spark.createDataFrame(
        [(1, "view", datetime(2024, 1, 1))], ["user_id", "event_type", "ts"]
    )
    with pytest.raises(ValueError, match="duplicate step names"):
        funnel_times(
            e,
            [
                ("view", F.col("event_type") == "view"),
                ("view", F.col("event_type") == "view2"),
            ],
        )

    # nobody ever clicks -> click_to_purchase divides by reached_click == 0
    steps = [
        ("view", F.col("event_type") == "view"),
        ("click", F.col("event_type") == "click"),
        ("purchase", F.col("event_type") == "purchase"),
    ]
    roll = funnel_rollup(funnel_times(e, steps), ["view", "click", "purchase"]).collect()[0]
    assert roll.reached_click == 0
    assert roll.click_to_purchase is None  # explicit NULL, not NaN/inf/error
    # and the oracle-side formulation agrees
    assert duckdb.sql("SELECT 0.0 / NULLIF(0, 0)").fetchone()[0] is None


def test_blocked_fuzzy_pairs_semantics_and_block_cap(spark):
    """Blocked fuzzy linkage: only same-block pairs are compared, the
    length prefilter cannot drop a true match (|len gap| <= d is
    necessary for lev <= d), oversized blocks are excluded, and NULL names/blocks never join."""
    from etl_poc_spark.operators.linkage import blocked_fuzzy_pairs
    from pyspark.sql import functions as F

    rows = [
        (1, "smith"), (2, "smyth"),      # block "sm": distance 1 -> pair
        (3, "smithers"),                 # block "sm": too far from both
        (4, "jones"), (5, "jonez"),      # block "jo": distance 1 -> pair
        (6, "smeth"),                    # block "sm": 1 from smith, 2 from smyth
        (7, None),                       # NULL name: ignored
        (8, "smyth"),                    # exact duplicate of 2: distance 0
    ]
    df = spark.createDataFrame(rows, "id long, name string")
    pairs = blocked_fuzzy_pairs(
        df, "id", "name", F.substring("name", 1, 2), max_distance=1
    )
    got = {(r["id_a"], r["id_b"]): r["distance"] for r in pairs.collect()}
    assert got == {
        (1, 2): 1,   # smith-smyth
        (1, 6): 1,   # smith-smeth
        (1, 8): 1,   # smith-smyth (dup copy)
        (2, 6): 1,   # smyth-smeth
        (2, 8): 0,   # exact duplicate names
        (6, 8): 1,   # smeth-smyth
        (4, 5): 1,   # jones-jonez
    }

    # cross-block near-match is NOT found (blocking is a recall trade,
    # stated, not silent): "aones" vs "jones" differ in block
    df2 = spark.createDataFrame([(1, "aones"), (2, "jones")], "id long, name string")
    assert (
        blocked_fuzzy_pairs(df2, "id", "name", F.substring("name", 1, 2), 1).count()
        == 0
    )

    # oversized block: excluded from pairs
    big = spark.createDataFrame(
        [(i, f"dup{i % 3}") for i in range(10)] + [(99, "zz1"), (98, "zz2")],
        "id long, name string",
    )
    capped = blocked_fuzzy_pairs(
        big, "id", "name", F.substring("name", 1, 2), max_distance=1,
        max_block_size=5,
    )
    assert {(r["id_a"], r["id_b"]) for r in capped.collect()} == {(98, 99)}


def test_target_encode_is_leakage_free(spark):
    """Out-of-fold encoding: each cell's value equals the brute-force
    mean over the category's OTHER folds; a single-fold category encodes
    NULL."""
    from collections import defaultdict

    from etl_poc_spark.operators.encoding import target_encode_cells
    from etl_poc_spark.operators.curation import hash_bucket

    rows = [(i, ["a", "b", "c"][i % 3], float(i)) for i in range(60)]
    rows.append((1000, "lonely", 5.0))  # one row -> one fold only
    df = spark.createDataFrame(rows, "id long, cat string, y double")

    folds = {
        r["id"]: r["f"]
        for r in df.select("id", hash_bucket(F.col("id"), 4).alias("f")).collect()
    }
    by_cell = defaultdict(lambda: [0, 0.0])
    for i, c, y in rows:
        k = (c, folds[i])
        by_cell[k][0] += 1
        by_cell[k][1] += y

    cells = target_encode_cells(df, "cat", "y", F.col("id"), n_folds=4).collect()
    for r in cells:
        comp_n = sum(v[0] for (c, f), v in by_cell.items()
                     if c == r["category"] and f != r["fold"])
        comp_s = sum(v[1] for (c, f), v in by_cell.items()
                     if c == r["category"] and f != r["fold"])
        if comp_n == 0:
            assert r["encoded"] is None  # own-fold-only category: honest NULL
        else:
            assert abs(r["encoded"] - comp_s / comp_n) < 1e-9, r


def test_asof_join_tolerance(spark):
    """merge_asof-style tolerance: a backward match farther than the
    bound nulls out; forward symmetric; numeric keys read the tolerance
    in their own units; tolerance=None is the unbounded baseline."""
    from etl_poc_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, 100, 1), (1, 103, 2), (1, 200, 3)], "k int, ts int, lid int"
    )
    right = spark.createDataFrame(
        [(1, 99, "a"), (1, 150, "b")], "k int, ts int, tag string"
    )
    base = {r["lid"]: r["asof_tag"]
            for r in asof_join(left, right, by=["k"], right_cols=["tag"]).collect()}
    assert base == {1: "a", 2: "a", 3: "b"}

    tight = {r["lid"]: r["asof_tag"]
             for r in asof_join(left, right, by=["k"], right_cols=["tag"],
                                tolerance_seconds=2).collect()}
    assert tight == {1: "a", 2: None, 3: None}  # 103-99=4 > 2; 200-150=50 > 2

    fwd = {r["lid"]: r["asof_tag"]
           for r in asof_join(left, right, by=["k"], right_cols=["tag"],
                              direction="forward", tolerance_seconds=50).collect()}
    assert fwd == {1: "b", 2: "b", 3: None}  # 150 within 50 of 100 and 103

    import pytest

    with pytest.raises(ValueError, match="tolerance_seconds"):
        asof_join(left, right, by=["k"], right_cols=["tag"], tolerance_seconds=-1)


def test_asof_join_directions_tolerance_tiebreak(spark):
    """Generic as-of join: backward picks the latest right row at-or-before
    each left ts (inclusive), forward the earliest at-or-after; tolerance
    nulls out matches beyond the bound; same-instant right rows resolve by
    the tiebreak (last wins backward, first wins forward)."""
    from datetime import datetime

    from etl_poc_spark.operators.temporal import asof_join

    t = lambda m: datetime(2024, 1, 1, 0, m)  # noqa: E731
    left = spark.createDataFrame(
        [(1, t(5), "a"), (1, t(10), "b"), (2, t(3), "c")],
        "k long, ts timestamp, tag string",
    )
    right = spark.createDataFrame(
        [
            (1, t(5), 1, 50.0),   # exactly at left ts -> matches backward
            (1, t(5), 2, 55.0),   # same instant, higher tiebreak wins
            (1, t(9), 3, 90.0),
            (2, t(8), 4, 80.0),   # after left -> no backward match
        ],
        "k long, ts timestamp, rid long, px double",
    )
    back = asof_join(
        left, right, ["k"], right_cols=["px"], tiebreak_cols=["rid"]
    ).collect()
    got = {(r["k"], r["tag"]): r["asof_px"] for r in back}
    assert got == {(1, "a"): 55.0, (1, "b"): 90.0, (2, "c"): None}

    fwd = asof_join(
        left, right, ["k"], right_cols=["px"], direction="forward",
        tiebreak_cols=["rid"],
    ).collect()
    got = {(r["k"], r["tag"]): r["asof_px"] for r in fwd}
    # forward at equal instant: the FIRST by tiebreak (rid=1) wins
    assert got == {(1, "a"): 50.0, (1, "b"): None, (2, "c"): 80.0}

    tol = asof_join(
        left, right, ["k"], right_cols=["px"], tolerance_seconds=30,
        tiebreak_cols=["rid"], include_matched_ts=True,
    ).collect()
    got = {(r["k"], r["tag"]): r["asof_px"] for r in tol}
    # b's match (t9 -> t10) is 60s back: outside the 30s tolerance
    assert got == {(1, "a"): 55.0, (1, "b"): None, (2, "c"): None}


def test_semdedup_float_verify_matches_exact(spark, sf_dir):
    """The Arrow-batched float pair scorer (verify='float') flags the same
    drops as the decimal-exact scorer on the planted-duplicate corpus —
    the production screen and the oracle path agree wherever cosines are
    not within float rounding of the threshold."""
    from etl_poc_spark.operators.similarity import (
        semdedup,
        train_kmeans_centroids,
    )
    from etl_poc_spark.queries.similarity_q import _semdedup_corpus

    corpus = _semdedup_corpus(spark, sf_dir)
    cents = train_kmeans_centroids(corpus, n_centroids=16, n_iters=1)
    exact = {
        r["vec_id"]: r["is_dropped"]
        for r in semdedup(corpus, cents, threshold=0.99).collect()
    }
    fast = {
        r["vec_id"]: r["is_dropped"]
        for r in semdedup(corpus, cents, threshold=0.99, verify="float").collect()
    }
    assert exact == fast
    assert any(exact.values())  # planted duplicates actually flagged


def test_asof_join_bucketed_matches_plain(spark):
    """The hot-key-mitigated bucketed as-of join returns IDENTICAL rows to
    the plain single-window form — across bucket boundaries (carry-in),
    empty buckets, tolerance nulls, tiebreak duplicates, and keys with no
    right rows at all."""
    import random

    from etl_poc_spark.operators.temporal import asof_join, asof_join_bucketed

    rng = random.Random(7)
    left_rows = [
        (k, rng.randrange(0, 10_000), i)
        for i, k in enumerate(rng.choices(["a", "b", "c", "lonely"], k=400))
    ]
    right_rows = [
        (k, rng.randrange(0, 10_000), f"t{j}", j % 3)
        for j, k in enumerate(rng.choices(["a", "b", "c"], k=150))
    ]
    left = spark.createDataFrame(left_rows, "k string, ts long, lid long")
    right = spark.createDataFrame(right_rows, "k string, ts long, tag string, pri int")

    for kw in (
        {},
        {"tolerance_seconds": 500},
        {"tiebreak_cols": ["pri"], "include_matched_ts": True},
    ):
        plain = asof_join(left, right, by=["k"], right_cols=["tag"], **kw)
        buck = asof_join_bucketed(
            left, right, by=["k"], bucket_seconds=1000, right_cols=["tag"], **kw
        )
        a = sorted(map(tuple, plain.collect()))
        b = sorted(map(tuple, buck.collect()))
        assert a == b, f"mismatch for {kw}"


def test_asof_join_bucketed_beats_plain_on_whale_key(spark):
    """One key holding ~90% of all rows: the plain window puts that key's
    entire history into ONE shuffle partition (one task sorts it all);
    the bucketed two-phase splits it across time buckets. Asserts
    identical results AND the skew itself, counted as the largest
    output partition's rows — a count, so host load cannot flip it the
    way it flipped a wall-clock race."""
    from pyspark.sql import functions as F

    from etl_poc_spark.operators.temporal import asof_join, asof_join_bucketed

    n = 200_000
    # whale: key 0 with n rows over 50 buckets of 20_000; n/10 more rows
    # spread over 5000 keys
    whale = spark.range(n).select(
        F.lit(0).alias("k"), (F.col("id") * 7 % 1_000_000).alias("ts"),
        F.col("id").alias("lid"),
    )
    rest = spark.range(n // 10).select(
        (F.col("id") % 5000 + 1).alias("k"),
        (F.col("id") * 11 % 1_000_000).alias("ts"),
        (F.col("id") + n).alias("lid"),
    )
    left = whale.unionByName(rest)
    right = spark.range(20000).select(
        (F.when(F.col("id") % 2 == 0, 0).otherwise(F.col("id") % 5000 + 1)).alias("k"),
        (F.col("id") * 53 % 1_000_000).alias("ts"),
        F.col("id").alias("tag"),
    )

    def run(fn, **kw):
        # per output partition: rows, and the sums that pin the result
        # (summing asof_tag keeps the window in the plan)
        parts = fn(left, right, by=["k"], right_cols=["tag"], **kw).groupBy(
            F.spark_partition_id()
        ).agg(F.count(F.lit(1)), F.sum("asof_tag"), F.sum("lid")).collect()
        totals = tuple(sum(r[i] or 0 for r in parts) for i in (1, 2, 3))
        return totals, max(r[1] for r in parts)

    # fixed partitioning (AQE would coalesce the small bucketed
    # partitions back together) so the output partitions ARE the
    # window's shuffle partitions
    keep = {k: spark.conf.get(k) for k in ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")}
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        sum_plain, max_plain = run(asof_join)
        sum_buck, max_buck = run(asof_join_bucketed, bucket_seconds=20_000)
    finally:
        for k, v in keep.items():
            spark.conf.set(k, v)
    assert sum_plain == sum_buck
    assert max_plain >= n  # every whale row on one task
    assert max_buck * 2 < max_plain, (max_buck, max_plain)


def test_semdedup_two_level_assignment_matches_flat_flags(spark, sf_dir):
    """The IMI-style two-level assignment (assign='two_level' —
    O(n·sqrt(k)) instead of the flat O(n·k) matmul, the scale path once
    auto_centroids grows k with n) produces the SAME dedup flags as flat
    assignment on the planted-duplicate corpus: a near-dup pair follows
    one deterministic probe path, so the pair stays co-clustered even
    where the chosen cluster differs from flat's. Also checks the
    assignment itself: exact-direction copies land in the same cluster
    as their originals, and determinism holds across two runs."""
    from etl_poc_spark.operators.similarity import (
        _assign_centroid_two_level,
        semdedup,
        train_kmeans_centroids,
    )
    from etl_poc_spark.queries.similarity_q import _semdedup_corpus

    corpus = _semdedup_corpus(spark, sf_dir)
    cents = train_kmeans_centroids(corpus, n_centroids=16, n_iters=1)

    flat = {
        r["vec_id"]: r["is_dropped"]
        for r in semdedup(corpus, cents, threshold=0.99, verify="float").collect()
    }
    two = {
        r["vec_id"]: r["is_dropped"]
        for r in semdedup(
            corpus, cents, threshold=0.99, verify="float", assign="two_level"
        ).collect()
    }
    assert flat == two
    assert any(two.values())

    a1 = {
        r["vec_id"]: r["cluster"]
        for r in _assign_centroid_two_level(
            corpus, cents, "vec_id", "embedding"
        ).collect()
    }
    a2 = {
        r["vec_id"]: r["cluster"]
        for r in _assign_centroid_two_level(
            corpus, cents, "vec_id", "embedding"
        ).collect()
    }
    assert a1 == a2  # deterministic across runs
    copies = [v for v in a1 if v >= 100000]
    assert copies
    assert all(a1[v] == a1[v - 100000] for v in copies)  # pairs co-cluster

    # keep='centroid' composes: cent_sim rides through the two-level path
    out = semdedup(
        corpus, cents, threshold=0.99, verify="float",
        assign="two_level", keep="centroid",
    )
    assert {r["vec_id"]: r["is_dropped"] for r in out.collect()} == two

    # narrow probe (w=2, the r12 sweep's pinned point): flags still match
    # flat on the planted-duplicate corpus — pairs follow one probe path
    p2 = {
        r["vec_id"]: r["is_dropped"]
        for r in semdedup(
            corpus, cents, threshold=0.99, verify="float",
            assign="two_level", probe_superclusters=2,
        ).collect()
    }
    assert p2 == flat


def test_two_level_empty_probed_super_falls_back_to_global_argmax(
    spark, monkeypatch
):
    """An empty super-cluster keeps a stale direction and can still win
    the probe argsort; a vector whose probed supers are ALL empty must
    fall back to the flat global argmax, never be silently assigned
    cluster -1 / cent_sim -inf."""
    import numpy as np

    from etl_poc_spark.operators import similarity as S

    # Super 1 is EMPTY but its stale direction is exactly +x, so a +x
    # query with probe_superclusters=1 probes ONLY the empty super.
    sup = np.array([[0.0, 1.0], [1.0, 0.0]])
    members = [np.array([0, 1], dtype=np.int64), np.array([], dtype=np.int64)]
    monkeypatch.setattr(
        S, "_super_quantize", lambda c, k1, n_iters=5: (sup, members)
    )
    df = spark.createDataFrame([(1, [1.0, 0.0])], "id long, vec array<double>")
    [row] = S._assign_centroid_two_level(
        df, [[0.6, 0.8], [0.0, 1.0]], "id", "vec",
        probe_superclusters=1, with_sim=True,
    ).collect()
    assert row["cluster"] == 0  # global fallback picks the true nearest
    assert abs(row["cent_sim"] - 0.6) < 1e-6


def test_sq8_quantized_topk(spark):
    """SQ8: codes clamp to [0,255] with degenerate dims coding 0; a
    base vector identical to the query wins rank 1 (max symmetric dot);
    the integer scores are bit-identical under repartitioning; top-k
    overlaps the exact cosine ranking on a well-separated corpus."""
    from etl_poc_spark.operators.similarity import (
        sq8_quantize_expr,
        sq8_topk,
        sq8_train_bounds,
    )
    from pyspark.sql import functions as F

    # 3 well-separated directions + near-duplicates of each, dim 4;
    # dim index 3 is CONSTANT (degenerate) across the corpus
    rows = []
    protos = [[10.0, 0.0, 0.0, 7.0], [0.0, 10.0, 0.0, 7.0], [0.0, 0.0, 10.0, 7.0]]
    vid = 0
    for p in protos:
        for jitter in (0.0, 0.5, 1.0, 1.5):
            rows.append((vid, [p[0] + jitter, p[1] + jitter * 0.1, p[2], p[3]]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id").isin(0, 4, 8))
    b = df
    mn, mx = sq8_train_bounds(b, dim=4)
    assert mn[3] == mx[3] == 7.0  # degenerate dim detected
    codes = b.select(sq8_quantize_expr("embedding", mn, mx).alias("c")).collect()
    for r in codes:
        assert all(0 <= v <= 255 for v in r["c"])
        assert r["c"][3] == 0  # degenerate dim codes to 0
    out = sq8_topk(q, b, k=4, dim=4)
    top1 = {r["query_id"]: r["neighbor_id"] for r in out.filter("rank=1").collect()}
    # each query's own cluster dominates: rank-1..4 are its 4 cluster members
    by_q = {}
    for r in out.collect():
        by_q.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert by_q[0] == {0, 1, 2, 3}
    assert by_q[4] == {4, 5, 6, 7}
    assert by_q[8] == {8, 9, 10, 11}
    assert set(top1) == {0, 4, 8}
    # bit-stability under repartitioning (integer scores, literal bounds)
    a = sorted(map(tuple, out.collect()))
    c = sorted(
        map(
            tuple,
            sq8_topk(q.repartition(5), b.repartition(7), k=4, dim=4).collect(),
        )
    )
    assert a == c


def test_ivf_sq8_topk_bucket_confinement(spark):
    """ivf_sq8_topk: every returned neighbor shares the query's sign-bit
    coarse bucket (candidate generation is the equi-join, never a
    cross join), and the integer scores match the brute-force sq8_topk
    scores for the same (query, neighbor) pairs."""
    from pyspark.sql import functions as F

    from etl_poc_spark.operators.similarity import (
        ivf_sq8_topk,
        sign_bucket_expr,
        sq8_topk,
    )

    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(120)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id") < 5)
    b = df.filter(F.col("vec_id") >= 5)
    out = ivf_sq8_topk(q, b, k=3, n_bits=4, dim=8).collect()
    buckets = {
        r["vec_id"]: r["bucket"]
        for r in df.select("vec_id", sign_bucket_expr("embedding", 4).alias("bucket")).collect()
    }
    assert out, "some bucket must be non-empty"
    for r in out:
        assert buckets[r["query_id"]] == buckets[r["neighbor_id"]]
    # scores agree with the brute-force quantized dot for the same pairs
    brute = {
        (r["query_id"], r["neighbor_id"]): r["score"]
        for r in sq8_topk(q, b, k=1000, dim=8).collect()
    }
    for r in out:
        assert brute[(r["query_id"], r["neighbor_id"])] == r["score"]


def test_bitext_margin_mine_corrects_hubness(spark):
    """Ratio-margin mining (Artetxe & Schwenk 2019): a hub target that
    raw cosine would pick for src 0 loses on margin (its neighborhood
    average is inflated by being close to EVERY src), so the true
    translation is mined instead; mutual_best flags forward-backward
    consistent pairs; each src yields at most one pair; rerun is
    bit-identical under repartitioning."""
    import math

    from pyspark.sql import functions as F

    from etl_poc_spark.operators.similarity import bitext_margin_mine

    eps, delta = (0.2, 0.5, 0.8), 0.3
    rows = [(i, [1.0, e, 0.0, 0.0]) for i, e in zip((0, 1, 2), eps)]
    rows += [(100 + i, [1.0, e, delta, 0.0]) for i, e in zip((0, 1, 2), eps)]
    rows.append((199, [1.0, 0.35, 0.0, 0.0]))  # hub near the cluster center
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    src = df.filter(F.col("vec_id") < 100)
    tgt = df.filter(F.col("vec_id") >= 100)

    # raw cosine argmax for src 0 IS the hub — the failure mode
    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))

    vecs = dict(rows)
    raw_best_0 = max((t for t in vecs if t >= 100), key=lambda t: cos(vecs[0], vecs[t]))
    assert raw_best_0 == 199

    out = bitext_margin_mine(src, tgt, k=4, threshold=0.0)
    mined = {r["src_id"]: r for r in out.collect()}
    assert set(mined) == {0, 1, 2}          # one pair per src
    assert mined[0]["tgt_id"] == 100        # margin rescues the true pair
    assert mined[2]["tgt_id"] == 102
    # forward-backward consistency: mutual_best iff the tgt's best src
    # (by margin) is this src — src 2 <-> 102 is mutual by construction
    assert mined[2]["mutual_best"]
    # determinism under repartitioning
    a = sorted(map(tuple, out.collect()))
    b = sorted(
        map(
            tuple,
            bitext_margin_mine(
                src.repartition(3), tgt.repartition(5), k=4, threshold=0.0
            ).collect(),
        )
    )
    assert a == b


def test_winnowing_fingerprints_guarantee_and_density(spark):
    """Winnowing (Schleimer et al. 2003): (1) any shared run of
    >= w+k-1 words yields a shared selected fingerprint; (2) selected
    density is far below 1 (the point of winnowing vs keep-every-gram);
    (3) rightmost-minimal tie-break and full-window semantics make the
    selection a pure function of the text (repartition-stable)."""
    from pyspark.sql import functions as F

    from etl_poc_spark.operators.dedup import winnow_fingerprints, winnow_shared_pairs

    shared = "alpha beta gamma delta epsilon zeta"  # 6 words = w+k-1
    docs = spark.createDataFrame(
        [
            (1, f"one unrelated prefix {shared} and a tail here"),
            (2, f"{shared} totally different continuation text follows now"),
            (3, "nothing in common with the others at all whatsoever"),
        ],
        "doc_id long, text string",
    )
    fps = winnow_fingerprints(docs, k=3, w=4)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["fp_hash"])
    assert by_doc[1] & by_doc[2], "6-word shared run must share a fingerprint"
    assert not (by_doc[1] & by_doc[3])
    # density: selected distinct positions << total grams (~2/(w+1))
    n_grams_1 = len(docs.filter("doc_id=1").collect()[0]["text"].split()) - 2
    n_sel_1 = fps.filter("doc_id=1").count()
    assert n_sel_1 < n_grams_1
    pairs = {(r["id_a"], r["id_b"]): r["n_shared"]
             for r in winnow_shared_pairs(docs, min_shared=1).collect()}
    assert (1, 2) in pairs and (1, 3) not in pairs
    # repartition stability (pure integer pipeline)
    a = sorted(map(tuple, fps.collect()))
    b = sorted(map(tuple, winnow_fingerprints(docs.repartition(5), k=3, w=4).collect()))
    assert a == b


def test_sq8_quantize_saturates_out_of_range(spark):
    """ADVICE r13: a query vector far outside the trained bounds must
    SATURATE at 0/255, not wrap through a non-ANSI long->int cast — the
    clamp now happens in LONG before the narrowing cast."""
    from pyspark.sql import functions as F

    from etl_poc_spark.operators.similarity import sq8_quantize_expr

    mn, mx = [0.0, 0.0], [1.0, 1.0]
    df = spark.createDataFrame(
        [([1e12, -1e12],), ([0.5, 2.0],)], "embedding array<double>"
    )
    rows = df.select(
        sq8_quantize_expr("embedding", mn, mx).alias("codes")
    ).collect()
    assert rows[0]["codes"] == [255, 0]     # extreme values saturate
    assert rows[1]["codes"] == [127, 255]   # in-range + above-range


def test_sq8_train_bounds_rejects_empty_and_null(spark):
    """ADVICE r13: empty base / all-null dimension must raise a clear
    ValueError, not an opaque float(None) TypeError."""
    import pytest

    from etl_poc_spark.operators.similarity import sq8_train_bounds

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="empty base"):
        sq8_train_bounds(empty, dim=2)
    nulls = spark.createDataFrame(
        [(1, [None, 1.0]), (2, [None, 2.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="dimension 0"):
        sq8_train_bounds(nulls, dim=2)
