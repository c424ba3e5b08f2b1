"""Deeper streaming coverage: stream-static joins, watermark dedup,
foreachBatch sinks — plus partitioned-write/partition-pruning (the batch
side of landing-zone discipline, SCALING.md)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_poc_spark.operators.deltastore import foreach_batch_writer


@pytest.fixture(scope="module")
def stream_dir(spark, sf_dir, tmp_path_factory):
    from etl_poc_spark.io import load_table

    d = str(tmp_path_factory.mktemp("events_in"))
    load_table(spark, sf_dir, "events").limit(1000).coalesce(1).write.mode("overwrite").parquet(d)
    return d


def test_stream_static_join(spark, stream_dir):
    """Enrich a stream against a static dimension (broadcast per batch)."""
    dim = spark.createDataFrame(
        [("click", "engagement"), ("view", "engagement"), ("error", "ops"), ("purchase", "revenue"), ("scroll", "engagement")],
        "event_type string, category string",
    )
    stream = spark.readStream.schema(spark.read.parquet(stream_dir).schema).parquet(stream_dir)
    enriched = stream.join(F.broadcast(dim), "event_type", "left").groupBy("category").count()
    q = enriched.writeStream.format("memory").queryName("enriched").outputMode("complete").trigger(availableNow=True).start()
    q.awaitTermination(120)
    got = {r["category"]: r["count"] for r in spark.sql("SELECT * FROM enriched").collect()}
    batch = spark.read.parquet(stream_dir).join(dim, "event_type", "left").groupBy("category").count()
    expected = {r["category"]: r["count"] for r in batch.collect()}
    assert got == expected and sum(got.values()) == 1000


def test_dedup_within_watermark(spark, stream_dir, tmp_path):
    """Streaming exact-dedup: duplicate the input files; event_id dedup
    within the watermark returns each event once."""
    dup_dir = str(tmp_path / "dup_in")
    df = spark.read.parquet(stream_dir)
    df.unionByName(df).coalesce(2).write.mode("overwrite").parquet(dup_dir)
    stream = spark.readStream.schema(spark.read.parquet(dup_dir).schema).parquet(dup_dir)
    deduped = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(["event_id"])
    q = deduped.groupBy().count().writeStream.format("memory").queryName("dedup_count").outputMode("complete").trigger(availableNow=True).start()
    q.awaitTermination(120)
    n = spark.sql("SELECT * FROM dedup_count").collect()[0]["count"]
    assert n == 1000  # 2000 raw rows -> 1000 distinct events


def test_foreachbatch_sink(spark, stream_dir, tmp_path):
    """foreachBatch: the arbitrary-sink escape hatch — write each micro-batch
    through the engine's parquet writer with exactly-once batch ids."""
    out = str(tmp_path / "batches")
    seen = []

    def handle(batch_df, batch_id: int):
        seen.append(batch_id)
        batch_df.groupBy("event_type").count().write.mode("overwrite").parquet(f"{out}/b{batch_id}")

    stream = spark.readStream.schema(spark.read.parquet(stream_dir).schema).parquet(stream_dir)
    q = stream.writeStream.foreachBatch(handle).trigger(availableNow=True).start()
    q.awaitTermination(120)
    assert seen == [0]
    agg = spark.read.parquet(f"{out}/b0")
    assert agg.agg(F.sum("count")).collect()[0][0] == 1000


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    """Partition discipline: date-partitioned parquet scans read only the
    matching partition directories (PartitionFilters, not data filters)."""
    from etl_poc_spark.io import load_table

    out = str(tmp_path / "events_by_day")
    e = load_table(spark, sf_dir, "events").withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
    e.write.mode("overwrite").partitionBy("day").parquet(out)

    days = [r["day"] for r in spark.read.parquet(out).select("day").distinct().collect()]
    assert len(days) > 1
    probe_day = sorted(days)[len(days) // 2]  # derived from the data, not hardcoded
    scan = spark.read.parquet(out).filter(F.col("day") == probe_day)
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(day" in plan
    # pruned scan touches exactly one partition directory
    assert scan.select("day").distinct().count() == 1


def test_streaming_count_min_merges_to_batch_sketch(spark, stream_dir, tmp_path):
    """Sketch mergeability under streaming: per-micro-batch count-min grids
    merged by counter addition (foreachBatch) equal the batch-built sketch
    over the same data — the property that lets 100 TB frequency state stay
    d*w counters."""
    from etl_poc_spark.operators.sketches import count_min_build

    store: dict = {}

    def merge(batch_df, batch_id):
        for r in count_min_build(batch_df, "user_id", d=4, w=32).collect():
            key = (r["j"], r["bucket"])
            store[key] = store.get(key, 0) + r["cnt"]

    stream = spark.readStream.schema(spark.read.parquet(stream_dir).schema).parquet(stream_dir)
    q = stream.writeStream.foreachBatch(merge).option(
        "checkpointLocation", str(tmp_path / "ckpt")
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)

    batch = {
        (r["j"], r["bucket"]): r["cnt"]
        for r in count_min_build(spark.read.parquet(stream_dir), "user_id", d=4, w=32).collect()
    }
    assert store == batch


def test_one_portable_funnel_spec_drives_batch_and_streaming(spark):
    """ONE funnel spec in the portable grammar (event_type + value
    bounds) runs through the YAML batch pipeline with the expected
    per-entity step times: the value bound excludes a low-value purchase.
    The YAML layer rejects a portable/condition mix."""
    from datetime import datetime

    from etl_poc_spark.plans.yaml_pipeline import PipelineConfigError, run_pipeline

    SPEC = [
        {"name": "view", "event_type": "view"},
        {"name": "click", "event_type": "click"},
        {"name": "purchase", "event_type": "purchase", "min_value": 10.0},
    ]
    rows = [
        # u1: converts, but only via the SECOND purchase (first is 5.0 < 10)
        (1, "2024-01-01 00:00:00", 1, "view", 1.0),
        (2, "2024-01-01 00:01:00", 1, "click", 1.0),
        (3, "2024-01-01 00:02:00", 1, "purchase", 5.0),
        (4, "2024-01-01 00:03:00", 1, "purchase", 25.0),
        # u2: stalls after click; its purchase is below the bound
        (5, "2024-01-01 00:00:00", 2, "view", 1.0),
        (6, "2024-01-01 00:01:00", 2, "click", 1.0),
        (7, "2024-01-01 00:02:00", 2, "purchase", 9.99),
    ]
    events = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    config = {
        "default_model": "stub",
        "datasets": {"events": {"path": "injected.json"}},
        "operations": [
            {"name": "conv", "type": "funnel", "entity_key": "user_id",
             "steps": SPEC}
        ],
        "pipeline": {"steps": [
            {"name": "funnel", "input": "events", "operations": ["conv"]}
        ]},
    }
    batch_rows = {
        r["user_id"]: (r["t_view"], r["t_click"], r["t_purchase"])
        for r in run_pipeline(spark, config, datasets={"events": events})[
            "__final__"
        ].collect()
    }
    t = lambda m: datetime(2024, 1, 1, 0, m)  # noqa: E731
    assert batch_rows == {
        1: (t(0), t(1), t(3)),   # the 25.0 purchase converted
        2: (t(0), t(1), None),   # the 9.99 purchase did not
    }

    # the YAML layer refuses a half-portable funnel
    bad = dict(config)
    bad["operations"] = [{
        "name": "conv", "type": "funnel", "entity_key": "user_id",
        "steps": [
            {"name": "view", "event_type": "view"},
            {"name": "click", "condition": "event_type = 'click'"},
        ],
    }]
    with pytest.raises(PipelineConfigError, match="not a mix"):
        run_pipeline(spark, bad, datasets={"events": events})


def test_streaming_exact_dedup_matches_batch(spark, tmp_path):
    """EXACT dedup through its foreachBatch handle: documents ingested as micro-batches through the fingerprint store fold
    to the SAME (fp, min_id, n_copies) state as a from-scratch batch
    exact_dedup over everything — and the kept stream holds exactly one
    representative per distinct content, the min-id one."""
    from etl_poc_spark.io import load_table
    from etl_poc_spark.operators.dedup import exact_dedup
    from etl_poc_spark.operators.incremental import (
        exact_dedup_handle_batch,
        exact_fingerprints,
        incremental_exact_dedup_ingest,
        read_exact_dedup_store,
    )

    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "lang", "text"
    ).limit(300)
    # inject cross-batch duplicates: same text, higher ids
    dupes = docs.limit(40).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "lang", "text"
    )
    full = docs.unionByName(dupes)
    in_dir = str(tmp_path / "docs_in")
    # 4 single-file micro-batches (maxFilesPerTrigger=1)
    full.repartition(4).write.mode("overwrite").parquet(in_dir)

    store = str(tmp_path / "fp_store")
    kept_dir = str(tmp_path / "kept")
    ck = str(tmp_path / "ck")
    stream = (
        spark.readStream.schema(spark.read.parquet(in_dir).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = (
        foreach_batch_writer(
            stream, ck, exact_dedup_handle_batch, store_dir=store,
            kept_dir=kept_dir, key_cols=["text"], id_col="doc_id",
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    # store state == batch exact_dedup over the full input
    folded = read_exact_dedup_store(spark, store)
    fps = exact_fingerprints(full, ["text"], "doc_id")
    expected = exact_dedup(fps, ["fp"], "id").select(
        "fp", F.col("min_id"), F.col("n_copies")
    )
    assert folded.count() == expected.count()
    assert (
        folded.join(
            expected,
            (folded.fp == expected.fp)
            & (folded.min_id == expected.min_id)
            & (folded.n_copies == expected.n_copies),
            "inner",
        ).count()
        == expected.count()
    )
    # kept stream: EXACTLY one representative per distinct content (the
    # first-seen batch's min id — micro-batch arrival order decides between
    # equal contents, so membership is asserted per content group rather
    # than as the global min id)
    kept = spark.read.parquet(kept_dir)
    n_distinct = full.select("text").distinct().count()
    assert kept.count() == n_distinct
    kept_fps = exact_fingerprints(kept, ["text"], "doc_id")
    assert kept_fps.select("fp").distinct().count() == n_distinct
    # every kept id really belongs to the content group of its fingerprint
    assert kept_fps.join(fps, ["fp", "id"], "left_semi").count() == n_distinct


def test_exact_dedup_ingest_tagged_replay_is_idempotent(spark, tmp_path):
    """A replayed tagged batch (crash-before-sink-commit simulation) must
    neither double-count the store nor lose its kept representatives: the
    slot overwrite excludes the batch's own delta from the store read."""
    from etl_poc_spark.operators.incremental import (
        incremental_exact_dedup_ingest,
        read_exact_dedup_store,
    )

    store = str(tmp_path / "store")
    b1 = spark.createDataFrame(
        [(1, "aa"), (2, "aa"), (3, "bb")], "doc_id long, text string"
    )
    kept1 = incremental_exact_dedup_ingest(
        spark, b1, store, ["text"], "doc_id", batch_tag="b0"
    )
    assert sorted(r.doc_id for r in kept1.collect()) == [1, 3]
    # replay the SAME tagged batch: kept recomputes identically (the store
    # read excludes slot b0), store state unchanged
    kept_replay = incremental_exact_dedup_ingest(
        spark, b1, store, ["text"], "doc_id", batch_tag="b0"
    )
    assert sorted(r.doc_id for r in kept_replay.collect()) == [1, 3]
    state = {r.min_id: r.n_copies for r in read_exact_dedup_store(spark, store).collect()}
    assert state == {1: 2, 3: 1}
    # a NEW batch with one dup of stored content and one novel doc
    b2 = spark.createDataFrame(
        [(10, "aa"), (11, "cc")], "doc_id long, text string"
    )
    kept2 = incremental_exact_dedup_ingest(
        spark, b2, store, ["text"], "doc_id", batch_tag="b1"
    )
    assert [r.doc_id for r in kept2.collect()] == [11]
    state = {r.min_id: r.n_copies for r in read_exact_dedup_store(spark, store).collect()}
    assert state == {1: 3, 3: 1, 11: 1}


def test_streaming_exact_dedup_replayed_batch_does_not_duplicate_kept(
    spark, tmp_path
):
    """foreachBatch is at-least-once: replaying a micro-batch (same
    batch_id) must REPLACE its kept slot (batch_id dynamic overwrite) and
    its store slot — never append the same representatives twice. Tested
    at the handle level: the engine guarantees a replay re-delivers the
    same batch_id; the handle must be idempotent under it."""
    from etl_poc_spark.operators.incremental import exact_dedup_handle_batch

    b0 = spark.createDataFrame(
        [(1, "aa"), (2, "aa"), (3, "bb")], "doc_id long, text string"
    )
    store = str(tmp_path / "store")
    kept_dir = str(tmp_path / "kept")
    kw = dict(store_dir=store, kept_dir=kept_dir, key_cols=["text"], id_col="doc_id")

    exact_dedup_handle_batch(b0, 0, **kw)
    assert sorted(r.doc_id for r in spark.read.parquet(kept_dir).collect()) == [1, 3]

    # crash-before-checkpoint-commit: the SAME batch re-delivers
    exact_dedup_handle_batch(b0, 0, **kw)
    assert sorted(r.doc_id for r in spark.read.parquet(kept_dir).collect()) == [1, 3]

    # the next batch appends its own slot; prior slots untouched
    b1 = spark.createDataFrame([(10, "aa"), (11, "cc")], "doc_id long, text string")
    exact_dedup_handle_batch(b1, 1, **kw)
    assert sorted(r.doc_id for r in spark.read.parquet(kept_dir).collect()) == [1, 3, 11]
