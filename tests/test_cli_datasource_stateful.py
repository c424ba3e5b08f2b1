"""CLI, Python DataSource, and streaming-op CLI tests."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

# the checkout under test: its CLI, not whatever the working directory holds
REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_cli_end_to_end(tmp_path):
    config = {
        "default_model": "stub",
        "datasets": {"docs": {"type": "file", "source": "local",
                              "path": "/data/input/documents.parquet", "format": "parquet"}},
        "operations": [
            {"name": "chunk", "type": "split", "split_key": "text", "chunk_size": 30, "chunk_overlap": 5},
            {"name": "extract", "type": "map", "prompt": "Extract: {{ input.chunk_text }}",
             "output_schema": {"title": "string"}, "validate": ["len(output['title']) > 0"]},
        ],
        "pipeline": {"steps": [{"name": "s1", "input": "docs", "operations": ["chunk", "extract"]}]},
    }
    cfg_path = tmp_path / "p.yaml"
    import yaml

    cfg_path.write_text(yaml.safe_dump(config))
    out_path, sum_path = tmp_path / "out.json", tmp_path / "summary.json"
    proc = subprocess.run(
        [sys.executable, "-m", "etl_poc_spark.cli", "--config", str(cfg_path),
         "--input", "/root/testdata/sf0.001", "--output", str(out_path),
         "--summary", str(sum_path), "--cpus", "4"],
        capture_output=True, text=True, timeout=300, cwd=REPO_ROOT,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    summary = json.loads(sum_path.read_text())
    assert summary["steps"]["s1"]["rows"] > 500  # chunk fan-out
    assert summary["steps"]["s1"]["valid_rows"] == summary["steps"]["s1"]["rows"]
    records = json.loads(out_path.read_text())
    assert len(records) == summary["output_rows"] == summary["steps"]["s1"]["rows"]
    assert {"doc_id", "chunk_id", "chunk_text", "title", "_valid"} <= set(records[0])


def test_jsonl_tail_streaming_datasource_incremental_offsets(spark, tmp_path):
    """The Python STREAMING DataSource (Spark 4 SimpleDataSourceStreamReader):
    a landing dir of immutable jsonl files tails with complete-file offsets —
    run 1 consumes the existing files, a later run FROM THE SAME CHECKPOINT
    consumes only files landed since (deterministic replayable offsets)."""
    import json as _json

    from etl_poc_spark.sources.jsonl_tail_datasource import (
        register_jsonl_tail_datasource,
    )

    register_jsonl_tail_datasource(spark)
    land = tmp_path / "landing"
    land.mkdir()
    ck = str(tmp_path / "ck")
    out_dir = str(tmp_path / "out")

    def write_file(name, rows):
        p = land / name
        p.write_text("\n".join(_json.dumps(r) for r in rows))

    write_file("a.jsonl", [{"doc_id": 1, "text": "one"}, {"doc_id": 2, "text": "two"}])
    write_file("b.jsonl", [{"doc_id": 3, "text": "three"}])

    def run_once():
        stream = (
            spark.readStream.format("jsonl_tail")
            .option("path", str(land))
            .option("ddl", "doc_id long, text string")
            .load()
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    got = {r["doc_id"]: r["text"] for r in spark.read.parquet(out_dir).collect()}
    assert got == {1: "one", 2: "two", 3: "three"}

    # two more files land; the SAME checkpoint resumes past the old offset
    write_file("c.jsonl", [{"doc_id": 4, "text": "four"}])
    write_file("d.jsonl", [{"doc_id": 5, "text": "five"}])
    run_once()
    got = {r["doc_id"]: r["text"] for r in spark.read.parquet(out_dir).collect()}
    assert got == {1: "one", 2: "two", 3: "three", 4: "four", 5: "five"}


def test_cli_templated_config_render(tmp_path):
    """The reference renders its .yaml.j2 config with [[ var ]]
    placeholders before running (zara_hybrid_etl.py:176-192: jinja with
    switched delimiters so DocETL's {{ input.x }} prompts pass through).
    Parity: --var renders placeholders, prompt braces survive untouched,
    and an undefined variable fails loudly at render time."""
    tpl = """
default_model: "[[ default_model ]]"
datasets:
  docs: {type: file, source: local, path: "[[ dataset_path ]]", format: parquet}
operations:
  - {name: chunk, type: split, split_key: text, chunk_size: 30, chunk_overlap: 5}
  - name: extract
    type: map
    prompt: "Extract: {{ input.chunk_text }}"
    output_schema: {title: string}
pipeline:
  steps: [{name: s1, input: docs, operations: [chunk, extract]}]
"""
    cfg = tmp_path / "p.yaml.j2"
    cfg.write_text(tpl)
    out_path, sum_path = tmp_path / "out.json", tmp_path / "summary.json"
    proc = subprocess.run(
        [sys.executable, "-m", "etl_poc_spark.cli", "--config", str(cfg),
         "--var", "default_model=stub",
         "--var", "dataset_path=/root/testdata/sf0.001/documents.parquet",
         "--output", str(out_path), "--summary", str(sum_path), "--cpus", "4"],
        capture_output=True, text=True, timeout=300, cwd=REPO_ROOT,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    summary = json.loads(sum_path.read_text())
    assert summary["steps"]["s1"]["rows"] > 500
    records = json.loads(out_path.read_text())
    assert records[0]["title"]  # the {{ input.x }} prompt rendered per row

    # undefined variable -> loud render-time failure
    from etl_poc_spark.cli import render_config_template

    try:
        render_config_template("x: [[ missing ]]", {})
        raise AssertionError("expected KeyError")
    except KeyError as e:
        assert "missing" in str(e)


def test_jsonl_tail_legacy_positional_offsets(spark, tmp_path):
    """A checkpoint written by the pre-name-anchored reader stored
    {"idx": N} (first N sorted files consumed). The reader must accept
    that form — translating N to the (N-1)-th sorted filename — instead
    of crashing with KeyError: 'last', and must fail LOUDLY (not
    misread) when the landing dir no longer has N files."""
    import json as _json

    import pytest
    from pyspark.sql.types import StructType

    from etl_poc_spark.sources.jsonl_tail_datasource import (
        JsonlTailStreamReader,
    )

    land = tmp_path / "landing"
    land.mkdir()
    for name, rows in (
        ("a.jsonl", [{"doc_id": 1}]),
        ("b.jsonl", [{"doc_id": 2}]),
        ("c.jsonl", [{"doc_id": 3}]),
    ):
        (land / name).write_text("\n".join(_json.dumps(r) for r in rows))

    schema = StructType.fromDDL("doc_id long")
    rdr = JsonlTailStreamReader(schema, {"path": str(land)})

    # legacy start {"idx": 2} == "a.jsonl and b.jsonl consumed"
    rows, end = rdr.read({"idx": 2})
    assert [r[0] for r in rows] == [3]
    assert end == {"last": "c.jsonl"}

    # idx 0 == nothing consumed; readBetweenOffsets accepts mixed forms
    rows = list(rdr.readBetweenOffsets({"idx": 0}, {"last": "b.jsonl"}))
    assert [r[0] for r in rows] == [1, 2]

    # idx beyond the present files: explicit reset-the-checkpoint error
    with pytest.raises(ValueError, match="reset the checkpoint"):
        rdr.read({"idx": 9})
    # unrecognized shape: same loud failure
    with pytest.raises(ValueError, match="reset the checkpoint"):
        rdr.read({"position": 1})


def test_cli_var_without_equals_is_usage_error(tmp_path, capsys):
    """--var values missing '=' exit as a usage error naming the bad
    value, not an opaque ValueError from the dict comprehension."""
    import pytest

    from etl_poc_spark.cli import main

    cfg = tmp_path / "p.yaml"
    cfg.write_text("operations: []\npipeline: {steps: []}\n")
    with pytest.raises(SystemExit) as ei:
        main(["--config", str(cfg), "--var", "novalue"])
    assert ei.value.code == 2
    assert "novalue" in capsys.readouterr().err


def test_cli_streaming_lm_monitor_drift_and_heldout(spark, tmp_path):
    """Config-declared STREAMING pipelines through the CLI (round 11):
    the `streaming:` block tails a landing dir and runs a continuous op.
    Drift mode: each micro-batch scores against the accumulated LM then
    folds in — the final store equals a from-scratch train over all
    batches. Held-out mode (`reference:`): the reference corpus seeds
    the store once and batches score against it WITHOUT folding — the
    CCNet fixed-reference quality gate, so the store stays exactly the
    reference LM."""
    import json as _json

    import yaml as _yaml

    from etl_poc_spark.cli import main
    from etl_poc_spark.operators.ngram_lm import (
        read_bigram_lm_store,
        train_bigram_lm,
    )

    land = tmp_path / "docs_in"
    docs = spark.createDataFrame(
        [(i, "the cat sat on the mat and the dog sat too") for i in range(4)]
        + [(10 + i, f"zq{i} xv{i} qk{i} jw{i} vx{i}") for i in range(4)],
        "doc_id long, text string",
    )
    docs.repartition(3).write.mode("overwrite").parquet(str(land))

    # --- drift mode ---
    cfg = {
        "streaming": {
            "source": {
                "path": str(land),
                "format": "parquet",
                "max_files_per_trigger": 1,
            },
            "op": "lm_perplexity_monitor",
            "store_dir": str(tmp_path / "lm"),
            "monitor_dir": str(tmp_path / "mon"),
            "checkpoint_dir": str(tmp_path / "ck"),
            "id": "doc_id",
            "text_key": "text",
        }
    }
    cfg_path = tmp_path / "drift.yaml"
    cfg_path.write_text(_yaml.safe_dump(cfg))
    summary_path = tmp_path / "summary.json"
    assert main(["--config", str(cfg_path), "--summary", str(summary_path)]) == 0
    summary = _json.loads(summary_path.read_text())
    assert summary["streaming"]["mode"] == "drift"
    assert summary["streaming"]["stream_stopped"]

    mon = spark.read.parquet(str(tmp_path / "mon"))
    recs = {r["batch_id"]: r for r in mon.collect()}
    assert len(recs) >= 2  # micro-batched, not one big swallow
    assert recs[0]["n_scored"] == 0  # nothing before batch 0
    assert all(r["n_scored"] > 0 for b, r in recs.items() if b > 0)

    # folded store == from-scratch train over everything ingested
    bi_s, uni_s, v_s = read_bigram_lm_store(spark, str(tmp_path / "lm"))
    bi_w, uni_w, v_w = train_bigram_lm(docs)
    assert sorted(map(tuple, bi_s.collect())) == sorted(map(tuple, bi_w.collect()))
    assert v_s.collect()[0]["v"] == v_w.collect()[0]["v"]

    # --- held-out mode: reference seeds, batches never fold ---
    ref_dir = tmp_path / "ref_corpus"
    ref = spark.createDataFrame(
        [(100 + i, "the cat sat on the mat") for i in range(5)],
        "doc_id long, text string",
    )
    ref.write.mode("overwrite").parquet(str(ref_dir))
    cfg2 = {
        "streaming": {
            "source": {"path": str(land), "format": "parquet"},
            "op": "lm_perplexity_monitor",
            "store_dir": str(tmp_path / "lm2"),
            "monitor_dir": str(tmp_path / "mon2"),
            "checkpoint_dir": str(tmp_path / "ck2"),
            "reference": {"path": str(ref_dir), "format": "parquet"},
        }
    }
    cfg2_path = tmp_path / "heldout.yaml"
    cfg2_path.write_text(_yaml.safe_dump(cfg2))
    assert main(["--config", str(cfg2_path)]) == 0

    mon2 = spark.read.parquet(str(tmp_path / "mon2"))
    recs2 = mon2.collect()
    # batch 0 scores against the PRE-SEEDED reference, not n_scored=0
    assert all(r["n_scored"] > 0 for r in recs2)
    # the store is exactly the reference LM — nothing folded in
    bi_r, uni_r, v_r = read_bigram_lm_store(spark, str(tmp_path / "lm2"))
    bi_e, uni_e, v_e = train_bigram_lm(ref)
    assert sorted(map(tuple, bi_r.collect())) == sorted(map(tuple, bi_e.collect()))
    assert v_r.collect()[0]["v"] == v_e.collect()[0]["v"]


def test_cli_streaming_exact_dedup(spark, tmp_path):
    """The exact-dedup continuous op through the same config surface:
    the kept dir ends with one representative per distinct content."""
    import yaml as _yaml

    from etl_poc_spark.cli import main

    land = tmp_path / "in"
    docs = spark.createDataFrame(
        [(1, "aaa"), (2, "bbb"), (3, "aaa"), (4, "ccc"), (5, "bbb")],
        "doc_id long, text string",
    )
    docs.repartition(2).write.mode("overwrite").parquet(str(land))
    cfg = {
        "streaming": {
            "source": {"path": str(land), "format": "parquet"},
            "op": "exact_dedup",
            "keys": ["text"],
            "id": "doc_id",
            "store_dir": str(tmp_path / "store"),
            "kept_dir": str(tmp_path / "kept"),
            "checkpoint_dir": str(tmp_path / "ck"),
        }
    }
    p = tmp_path / "dedup.yaml"
    p.write_text(_yaml.safe_dump(cfg))
    assert main(["--config", str(p)]) == 0
    kept = spark.read.parquet(str(tmp_path / "kept"))
    assert kept.count() == 3
    assert sorted(r["text"] for r in kept.collect()) == ["aaa", "bbb", "ccc"]


def test_streaming_block_rejects_unknown_op_and_keys(spark, tmp_path):
    """A typo in the streaming block (`n_bucket` for `n_buckets`) must not
    silently run with the default bucket count: it is rejected before
    the source is opened, so neither store nor checkpoint is created."""
    from etl_poc_spark.plans.yaml_pipeline import PipelineConfigError, run_streaming_pipeline

    land = str(tmp_path / "in")
    spark.createDataFrame([(1, "a b c")], "doc_id long, text string").write.parquet(land)
    block = {"source": {"path": land, "format": "parquet"}, "op": "dsir_counts",
             "n_bucket": 64, "store_dir": str(tmp_path / "store"),
             "checkpoint_dir": str(tmp_path / "ck")}
    with pytest.raises(PipelineConfigError, match="n_bucket"):
        run_streaming_pipeline(spark, {"streaming": block})
    with pytest.raises(PipelineConfigError, match="unknown streaming op"):
        run_streaming_pipeline(spark, {"streaming": {**block, "op": "dsir_count"}})
    assert not (tmp_path / "store").exists()
    assert not (tmp_path / "ck").exists()


def test_cli_streaming_timeout_exits_nonzero(spark, tmp_path, capsys):
    """A timed-out availableNow run is stopped MID-INGEST: the CLI must
    exit nonzero (2) and warn on stderr, not silently report success
    with stream_stopped:false buried in the summary JSON."""
    import json as _json

    import yaml as _yaml

    from etl_poc_spark.cli import main

    land = tmp_path / "in"
    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(6)], "doc_id long, text string"
    )
    docs.repartition(3).write.mode("overwrite").parquet(str(land))
    cfg = {
        "streaming": {
            "source": {"path": str(land), "format": "parquet"},
            "op": "exact_dedup",
            "keys": ["text"],
            "id": "doc_id",
            "store_dir": str(tmp_path / "store"),
            "kept_dir": str(tmp_path / "kept"),
            "checkpoint_dir": str(tmp_path / "ck"),
        }
    }
    p = tmp_path / "t.yaml"
    p.write_text(_yaml.safe_dump(cfg))
    summary_path = tmp_path / "summary.json"
    # 1ms timeout: awaitTermination returns with the query still active
    # (streaming startup alone takes far longer than this)
    rc = main(["--config", str(p), "--summary", str(summary_path),
               "--timeout", "0.001"])
    assert rc == 2
    assert "did not complete" in capsys.readouterr().err
    summary = _json.loads(summary_path.read_text())
    assert summary["streaming"]["timed_out"] is True
    assert summary["streaming"]["stream_stopped"] is False


def test_cli_streaming_dsir_counts(spark, tmp_path):
    """Config-declared continuous DSIR model maintenance: the streaming
    block folds a landing dir into the raw model store; the folded
    histogram equals a one-shot batch ingest of the same rows. The
    `lm_counts` op over the same two files likewise folds to one batch
    incremental_bigram_lm_ingest."""
    import yaml as _yaml

    from etl_poc_spark.cli import main
    from etl_poc_spark.operators.dsir import (
        incremental_dsir_ingest,
        read_dsir_store,
    )
    from etl_poc_spark.operators.ngram_lm import (
        incremental_bigram_lm_ingest,
        read_bigram_lm_store,
    )
    from etl_poc_spark.plans.yaml_pipeline import run_streaming_pipeline

    land = tmp_path / "in"
    docs = spark.createDataFrame(
        [(i, f"stream doc {i} the cat sat") for i in range(6)],
        "doc_id long, text string",
    )
    docs.repartition(2).write.mode("overwrite").parquet(str(land))
    cfg = {
        "streaming": {
            "source": {"path": str(land), "format": "parquet",
                       "max_files_per_trigger": 1},
            "op": "dsir_counts",
            "role": "raw",
            "n_buckets": 64,
            "store_dir": str(tmp_path / "store"),
            "checkpoint_dir": str(tmp_path / "ck"),
        }
    }
    p = tmp_path / "dsir.yaml"
    p.write_text(_yaml.safe_dump(cfg))
    assert main(["--config", str(p)]) == 0

    seq = str(tmp_path / "seq")
    incremental_dsir_ingest(
        spark, spark.read.parquet(str(land)), seq, role="raw", n_buckets=64,
        batch_tag="b0",
    )
    got = sorted(map(tuple, read_dsir_store(spark, str(tmp_path / "store"), "raw").collect()))
    want = sorted(map(tuple, read_dsir_store(spark, seq, "raw").collect()))
    assert got == want

    lm = {"source": cfg["streaming"]["source"], "op": "lm_counts",
          "store_dir": str(tmp_path / "lm"), "checkpoint_dir": str(tmp_path / "lm_ck")}
    assert run_streaming_pipeline(spark, {"streaming": lm})["stream_stopped"]
    assert len(list((tmp_path / "lm" / "bigrams").glob("tag=*"))) == 2  # two batches
    incremental_bigram_lm_ingest(
        spark, spark.read.parquet(str(land)), str(tmp_path / "lm_seq"), batch_tag="b0"
    )
    lm_seq = read_bigram_lm_store(spark, str(tmp_path / "lm_seq"))
    for g, w in zip(read_bigram_lm_store(spark, str(tmp_path / "lm")), lm_seq):
        assert sorted(map(tuple, g.collect())) == sorted(map(tuple, w.collect()))


def test_cli_streaming_dsir_monitor(spark, tmp_path):
    """Config-declared DSIR drift monitor: the target dataset seeds the
    reference model once, each micro-batch scores against it relative to
    the accumulated raw model, then folds into raw. Batches that look
    like the target score HIGHER than off-target batches."""
    import yaml as _yaml

    from etl_poc_spark.cli import main

    land = tmp_path / "in"
    # 3 files land in name order (maxFilesPerTrigger=1): on-target,
    # on-target, off-target — the drift series must show the drop
    on1 = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "the dog sat on the rug")],
        "doc_id long, text string",
    )
    on2 = spark.createDataFrame(
        [(3, "the cat and the dog sat"), (4, "a cat sat on a rug")],
        "doc_id long, text string",
    )
    off = spark.createDataFrame(
        [(5, "zq xv qk jw vx bl kr"), (6, "qq ww ee rr tt yy uu")],
        "doc_id long, text string",
    )
    land.mkdir()
    on1.coalesce(1).write.parquet(str(land / "a"))
    on2.coalesce(1).write.parquet(str(land / "b"))
    off.coalesce(1).write.parquet(str(land / "c"))

    tgt_path = tmp_path / "target"
    # target corpus big enough that t_tgt exceeds the accumulated t_raw:
    # features UNSEEN in both models then score log((t_raw+B)/(t_tgt+B))
    # < 0, so the off-target batch lands below the on-target ones
    spark.createDataFrame(
        [
            (100 + i, "the cat sat on the mat and the dog sat on the rug")
            for i in range(10)
        ],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(str(tgt_path))

    cfg = {
        "streaming": {
            "source": {
                "path": str(land) + "/*",
                "format": "parquet",
                "ddl": "doc_id long, text string",
                "max_files_per_trigger": 1,
            },
            "op": "dsir_monitor",
            "target": {"path": str(tgt_path), "format": "parquet"},
            "store_dir": str(tmp_path / "store"),
            "monitor_dir": str(tmp_path / "mon"),
            "checkpoint_dir": str(tmp_path / "ck"),
            "n_buckets": 128,
        }
    }
    p = tmp_path / "mon.yaml"
    p.write_text(_yaml.safe_dump(cfg))
    assert main(["--config", str(p)]) == 0

    mon = spark.read.parquet(str(tmp_path / "mon"))
    recs = {r["batch_id"]: r for r in mon.collect()}
    assert len(recs) >= 3
    assert recs[0]["n_scored"] == 0
    scored = [recs[b] for b in sorted(recs) if recs[b]["n_scored"] > 0]
    assert len(scored) >= 2
    # the off-target batch (last) scores strictly below the on-target one
    assert scored[-1]["mean_log_weight"] < scored[0]["mean_log_weight"]


def test_cli_streaming_doremi_stats(spark, tmp_path):
    """Config-declared continuous DoReMi stats maintenance: the streaming
    block folds a landing dir of per-example excess losses into the
    per-domain store; the live solved weights equal a one-shot
    doremi_domain_weights over the same rows."""
    import yaml as _yaml

    from etl_poc_spark.cli import main
    from etl_poc_spark.operators.curation import (
        doremi_domain_weights,
        doremi_store_weights,
    )

    land = tmp_path / "in"
    rows = spark.createDataFrame(
        [("a", 120), ("a", -3), ("b", 40), ("b", 60), ("c", 0), ("c", 10)],
        "source string, excess long",
    )
    rows.repartition(2).write.mode("overwrite").parquet(str(land))
    cfg = {
        "streaming": {
            "source": {"path": str(land), "format": "parquet",
                       "max_files_per_trigger": 1},
            "op": "doremi_stats",
            "stratify_key": "source",
            "excess_key": "excess",
            "store_dir": str(tmp_path / "store"),
            "checkpoint_dir": str(tmp_path / "ck"),
        }
    }
    p = tmp_path / "doremi.yaml"
    p.write_text(_yaml.safe_dump(cfg))
    assert main(["--config", str(p)]) == 0

    live = sorted(
        map(tuple, doremi_store_weights(spark, str(tmp_path / "store")).collect())
    )
    one_shot = sorted(
        map(
            tuple,
            doremi_domain_weights(spark.read.parquet(str(land)), "source", "excess")
            .withColumnRenamed("source", "domain")
            .collect(),
        )
    )
    assert live == one_shot


def test_cli_streaming_badwords_stats(spark, tmp_path):
    """Config-declared continuous badwords monitoring: the streaming block
    folds a landing dir of documents into the per-domain flag store; the
    live view equals a one-shot c4_badwords_flags aggregation over the
    same rows (additive partials), and replaying a batch tag is
    idempotent."""
    import yaml as _yaml

    from pyspark.sql import functions as F

    from etl_poc_spark.cli import main
    from etl_poc_spark.operators.curation import (
        c4_badwords_flags,
        incremental_badwords_ingest,
        read_badwords_store,
    )

    land = tmp_path / "in"
    rows = spark.createDataFrame(
        [
            ("a", "clean words only here"),
            ("a", "contains a badword today"),
            ("b", "very nsfw stuff appears"),
            ("b", "badword plus nsfw stuff both"),
            ("c", "nothing wrong at all"),
        ],
        "source string, text string",
    )
    rows.repartition(2).write.mode("overwrite").parquet(str(land))
    cfg = {
        "streaming": {
            "source": {"path": str(land), "format": "parquet",
                       "max_files_per_trigger": 1},
            "op": "badwords_stats",
            "stratify_key": "source",
            "text_key": "text",
            "store_dir": str(tmp_path / "store"),
            "checkpoint_dir": str(tmp_path / "ck"),
        }
    }
    p = tmp_path / "bw.yaml"
    p.write_text(_yaml.safe_dump(cfg))
    assert main(["--config", str(p)]) == 0

    live = {
        r["domain"]: (r["n_docs"], r["n_flagged"], r["n_hits"])
        for r in read_badwords_store(spark, str(tmp_path / "store")).collect()
    }
    one_shot = {
        r["source"]: (r["n"], r["f"], r["h"])
        for r in c4_badwords_flags(spark.read.parquet(str(land)))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("has_badwords").cast("int")).alias("f"),
            F.sum("n_badword_hits").alias("h"),
        )
        .collect()
    }
    assert live == one_shot
    assert live["b"] == (2, 2, 3)
    # replaying a tag slot folds exactly once (overwrite semantics)
    incremental_badwords_ingest(
        spark, rows, str(tmp_path / "store2"), batch_tag="t1"
    )
    incremental_badwords_ingest(
        spark, rows, str(tmp_path / "store2"), batch_tag="t1"
    )
    replay = {
        r["domain"]: (r["n_docs"], r["n_flagged"], r["n_hits"])
        for r in read_badwords_store(spark, str(tmp_path / "store2")).collect()
    }
    assert replay == one_shot
