"""Job-count guards for the driver-bound paths. At benchmark sizes wall
time follows the number of Spark jobs, and a job count does not move with
host load, so these bounds hold on any machine: a PageRank iteration, the
MinHash-LSH and n-gram Jaccard pair queries, and a repeated table load."""

from __future__ import annotations


def _next_job_id(spark) -> int:
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return max(sc.statusTracker().getJobIdsForGroup(None), default=-1) + 1


def _jobs(spark, fn) -> int:
    """How many Spark jobs `fn()` starts."""
    j0 = _next_job_id(spark)
    fn()
    return _next_job_id(spark) - j0


def test_pagerank_adds_at_most_three_jobs_per_iteration(spark):
    from etl_poc_spark.operators.pagerank import pagerank

    # a cycle, a dangling vertex (7) and a vertex with no in-edges (4)
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (4, 1), (2, 7)], "src long, dst long"
    )
    n2 = _jobs(spark, lambda: pagerank(e, n_iter=2).collect())
    n4 = _jobs(spark, lambda: pagerank(e, n_iter=4).collect())
    assert n4 - n2 <= 2 * 3, (n2, n4)


def _query_jobs(spark, sf_dir, name: str) -> int:
    """Jobs one run of query `name` starts, with `documents` already loaded."""
    from etl_poc_spark import registry
    from etl_poc_spark.io import load_table
    from etl_poc_spark.operators.pins import release_pins

    registry.load_all()
    load_table(spark, sf_dir, "documents")
    try:
        return _jobs(spark, lambda: registry.QUERIES[name](spark, sf_dir).collect())
    finally:
        release_pins()


def test_minhash_lsh_pairs_job_budget(spark, sf_dir):
    n = _query_jobs(spark, sf_dir, "minhash_lsh_pairs")
    assert n <= 16, n


def test_ngram_jaccard_pairs_job_budget(spark, sf_dir):
    # the inverted index is an explode of per-document distinct shingle
    # arrays: no dedupe shuffle before the document-frequency window
    n = _query_jobs(spark, sf_dir, "ngram_jaccard_pairs")
    assert n <= 12, n


def test_second_load_of_unchanged_table_starts_no_job(spark, sf_dir):
    from etl_poc_spark.io import load_table

    for name in ("lineitem", "events"):
        load_table(spark, sf_dir, name)
        assert _jobs(spark, lambda: load_table(spark, sf_dir, name)) == 0, name
