"""Scale-technique tests: salted joins produce identical results to plain
joins; bucketed tables join without exchanges."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_poc_spark.operators.skew import salted_join


def test_salted_join_matches_plain_join(spark, sf_dir):
    from etl_poc_spark.io import load_table

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    plain = (
        li.join(o, "l_orderkey")
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("q"))
    )
    salted = (
        salted_join(li, o, "l_orderkey", n_salts=4)
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("q"))
    )
    p = {r["l_orderkey"]: (r["n"], r["q"]) for r in plain.collect()}
    s = {r["l_orderkey"]: (r["n"], r["q"]) for r in salted.collect()}
    assert p == s


def test_salted_join_spreads_hot_key(spark):
    # one key carries 10k rows; salted plan spreads it over 4 salts
    hot = spark.range(10000).select(F.lit(1).alias("k"), F.col("id"))
    dim = spark.createDataFrame([(1, "hot"), (2, "cold")], "k int, label string")
    out = salted_join(hot, dim, "k", n_salts=4)
    assert out.count() == 10000
    assert out.select("label").distinct().collect()[0]["label"] == "hot"


def test_approx_percentile_within_rank_error_of_exact(spark, sf_dir):
    """The approx_percentile scale twin must land within the GK rank-error
    bound of the exact query: at accuracy 10000 the sketch's rank error is
    <= n/10000, so the approximate median must lie between the exact 0.49
    and 0.51 quantiles (generous envelope), likewise p90 in [0.89, 0.91].
    The query itself now SHIPS the bound claim as exact booleans (r13
    verdict ask #3) — assert both that the booleans read TRUE and that the
    underlying sketch values satisfy the envelope independently."""
    from etl_poc_spark.queries.dates_q import price_quantiles_approx

    from etl_poc_spark.io import load_table

    li = load_table(spark, sf_dir, "lineitem")
    envelope = {
        r["l_returnflag"]: r
        for r in li.groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_extendedprice, 0.49)").alias("p49"),
            F.expr("percentile(l_extendedprice, 0.51)").alias("p51"),
            F.expr("percentile(l_extendedprice, 0.89)").alias("p89"),
            F.expr("percentile(l_extendedprice, 0.91)").alias("p91"),
        )
        .collect()
    }
    raw = {
        r["l_returnflag"]: r
        for r in li.groupBy("l_returnflag")
        .agg(
            F.expr("approx_percentile(l_extendedprice, 0.5, 10000)").alias(
                "median_price_approx"
            ),
            F.expr("approx_percentile(l_extendedprice, 0.9, 10000)").alias(
                "p90_price_approx"
            ),
        )
        .collect()
    }
    assert set(raw) == set(envelope) and len(raw) > 0
    for flag, r in raw.items():
        env = envelope[flag]
        assert env["p49"] <= r["median_price_approx"] <= env["p51"], flag
        assert env["p89"] <= r["p90_price_approx"] <= env["p91"], flag
    claims = {r["l_returnflag"]: r for r in price_quantiles_approx(spark, sf_dir).collect()}
    assert set(claims) == set(envelope)
    for flag, r in claims.items():
        assert r["median_bound_ok"] is True, flag
        assert r["p90_bound_ok"] is True, flag


def test_semdedup_drops_exactly_the_scaled_copies(spark, sf_dir):
    """SemDeDup over the duplicated corpus: every vec_id+100000 scaled copy
    (cosine 1.0 with its original) is dropped; originals survive (smaller
    id wins); near-uniform synthetic vectors produce no false positives."""
    from etl_poc_spark.queries.similarity_q import semdedup_flags

    rows = semdedup_flags(spark, sf_dir).collect()
    dropped = {r.vec_id for r in rows if r.is_dropped}
    kept = {r.vec_id for r in rows if not r.is_dropped}
    copies = {r.vec_id for r in rows if r.vec_id >= 100000}
    assert copies, "constructed corpus must contain scaled copies"
    assert copies <= dropped, "every scaled copy has cosine 1.0 with its original"
    assert dropped == copies, "no false-positive drops among near-uniform vectors"
    assert all(v - 100000 in kept for v in copies), "originals survive"


def test_semdedup_cluster_cap_guards_degenerate_clusters(spark):
    """A collapsed corpus (all vectors identical in direction) lands in ONE
    cluster: uncapped, everything but the min id drops; with the occupancy
    cap, the oversized cluster is excluded from the pairwise stage and all
    rows are flagged kept — the m^2 blowup never materializes."""
    from etl_poc_spark.operators.similarity import semdedup, train_kmeans_centroids

    rows = [(i, [float(i + 1)] * 8) for i in range(10)]  # same direction, any norm
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = train_kmeans_centroids(corpus, n_centroids=2, n_iters=1)
    uncapped = semdedup(corpus, cents, threshold=0.99)
    assert sum(r.is_dropped for r in uncapped.collect()) == 9  # min id survives
    capped = semdedup(corpus, cents, threshold=0.99, max_cluster_size=5)
    out = capped.collect()
    assert len(out) == 10 and not any(r.is_dropped for r in out)


def test_semdedup_keep_centroid_policy(spark):
    """keep='centroid' drops the pair member FARTHER from its cluster
    centroid (the production curation variant), where the default paper
    rule drops the larger id. Constructed so the policies disagree: ids 10
    and 20 are near-duplicates (6 deg apart, cos = 0.9945 >= 0.99); id 0
    sits at -6 deg, pulling the trained centroid toward id 20's side, so
    id 20 (the LARGER id) is the more prototypical member and must
    survive under the centroid policy."""
    import math

    from etl_poc_spark.operators.similarity import semdedup, train_kmeans_centroids

    def unit(deg):
        r = math.radians(deg)
        return [math.cos(r), math.sin(r), 0.0, 0.0]

    rows = [(0, unit(-6)), (10, unit(9)), (20, unit(3))]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = train_kmeans_centroids(corpus, n_centroids=1, n_iters=1)

    default = {r.vec_id: r.is_dropped for r in semdedup(corpus, cents, threshold=0.99).collect()}
    assert default == {0: False, 10: False, 20: True}  # paper rule: larger id drops

    cen = {
        r.vec_id: r.is_dropped
        for r in semdedup(corpus, cents, threshold=0.99, keep="centroid").collect()
    }
    assert cen == {0: False, 10: True, 20: False}  # prototypical member survives

    # exact-tie fallback: two same-direction copies have identical cent_sim
    # -> the smaller id survives, matching the default rule
    dup_rows = [(0, unit(40)), (1, [2.0 * x for x in unit(40)])]
    dup_corpus = spark.createDataFrame(dup_rows, "vec_id long, embedding array<double>")
    dup_cents = train_kmeans_centroids(dup_corpus, n_centroids=1, n_iters=1)
    tie = {
        r.vec_id: r.is_dropped
        for r in semdedup(dup_corpus, dup_cents, threshold=0.99, keep="centroid").collect()
    }
    assert tie == {0: False, 1: True}


def test_histogram_quantile_within_one_bin_of_exact(spark, sf_dir):
    """The histogram estimate is the lower edge of the bin containing the
    rank-ceil(q*n/100) value, so that exact order statistic must fall
    inside [est, est + bin_width). (Interpolated percentile_cont is NOT
    the right comparison: its index convention can land one rank higher,
    and tail inter-value gaps are unbounded.)"""
    import math

    from etl_poc_spark.queries.dates_q import price_quantiles_histogram

    est = {r["q100"]: r["est_quantile"] for r in price_quantiles_histogram(spark, sf_dir).collect()}
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    n = o.count()
    for q100 in (25, 50, 75, 90, 99):
        r = math.ceil(q100 * n / 100)
        v_r = (
            o.selectExpr("o_totalprice").orderBy("o_totalprice").limit(r)
            .agg({"o_totalprice": "max"}).collect()[0][0]
        )
        assert est[q100] <= v_r < est[q100] + 500.0


def test_minibatch_kmeans_deterministic_and_partitioning_independent(spark, sf_dir):
    """train_kmeans_centroids_minibatch: bit-identical centroids across
    runs AND under an adversarially repartitioned input — the sample and
    minibatches are pure id-hash functions, batch sums are decimal-exact,
    and the driver folds them in fixed order."""
    from etl_poc_spark.io import load_table
    from etl_poc_spark.operators.similarity import train_kmeans_centroids_minibatch

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding")
    )
    c1 = train_kmeans_centroids_minibatch(emb, n_centroids=8, n_iters=3)
    c2 = train_kmeans_centroids_minibatch(
        emb.repartition(7, "vec_id"), n_centroids=8, n_iters=3
    )
    assert c1 == c2  # bit-exact, not approximately


def test_minibatch_kmeans_recall_parity_with_full_lloyd(spark, sf_dir):
    """A coarse quantizer only needs a representative sample: IVF top-1
    recall against exact brute force with minibatch-trained centroids is
    within a few points of the full-Lloyd-trained model, and SemDeDup over
    the duplicated corpus makes the IDENTICAL drop decisions."""
    from etl_poc_spark.io import load_table
    from etl_poc_spark.operators.similarity import (
        kmeans_ivf_topk,
        semdedup,
        train_kmeans_centroids,
        train_kmeans_centroids_minibatch,
    )
    from etl_poc_spark.queries.similarity_q import _semdedup_corpus

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding")
    )
    q = emb.filter(F.col("vec_id") % 50 == 0).limit(20)

    def top1(centroids_trainer):
        cents = centroids_trainer(emb, 8)
        got = kmeans_ivf_topk(q, emb, k=1, nprobe=2, centroids=cents)
        return {r.query_id: r.neighbor_id for r in got.collect()}

    from etl_poc_spark.operators.similarity import cosine_topk

    exact = {
        r.query_id: r.neighbor_id for r in cosine_topk(q, emb, k=1).collect()
    }
    full = top1(lambda b, k: train_kmeans_centroids(b, n_centroids=k, n_iters=2))
    mini = top1(
        lambda b, k: train_kmeans_centroids_minibatch(b, n_centroids=k, n_iters=4)
    )
    recall_full = sum(full[k] == exact[k] for k in exact) / len(exact)
    recall_mini = sum(mini[k] == exact[k] for k in exact) / len(exact)
    assert recall_mini >= recall_full - 0.15
    assert recall_mini >= 0.5

    # SemDeDup drop decisions: minibatch-trained quantizer, same flags as
    # the registered exact-demo query (a coarse partition is all it needs)
    corpus = _semdedup_corpus(spark, sf_dir)
    cents = train_kmeans_centroids_minibatch(corpus, n_centroids=16, n_iters=4)
    got = {
        r.vec_id: r.is_dropped
        for r in semdedup(corpus, cents, threshold=0.99, verify="float").collect()
    }
    copies = {v for v in got if v >= 100000}
    assert copies and all(got[v] for v in copies)
    assert all(not got[v] for v in got if v not in copies)
