"""Sinks and multimodal plumbing tests."""

from __future__ import annotations

import json
import os

from etl_poc_spark.multimodal.imagecodec import sniff_format
from etl_poc_spark.multimodal.media import perceptual_hashes
from etl_poc_spark.sinks.sinks import write_error_record, write_json_records, write_markdown_articles


def test_json_sink_single_file(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, s string")
    path = str(tmp_path / "out.json")
    n = write_json_records(df, path, single_file=True)
    assert n == 2
    data = json.load(open(path))
    assert sorted(data, key=lambda r: r["id"]) == [{"id": 1, "s": "a"}, {"id": 2, "s": "b"}]


def test_markdown_sink_layout(spark, tmp_path):
    rows = [
        ("A Great Headline", "sub", "body text", ["q1", "q2"], ["t1", "t2", "t3"], "meta"),
        ("", "s", "b", [], [], "m"),  # empty headline -> 'untitled' folder
    ]
    df = spark.createDataFrame(
        rows, "headline string, subtitle string, article_body string, pull_quotes array<string>, key_takeaways array<string>, meta_description string"
    )
    out = str(tmp_path / "articles")
    write_markdown_articles(df, out)
    dirs = os.listdir(out)
    (great,) = [d for d in dirs if d.startswith("a-great-headline-")]
    md = open(os.path.join(out, great, "article.md")).read()
    assert md.startswith("---\n") and "title: A Great Headline" in md
    assert "> q1\n> q2" in md and "## What This Means" in md and "- t3" in md
    art = json.load(open(os.path.join(out, great, "article.json")))
    assert art["headline"] == "A Great Headline"
    assert any(d.startswith("untitled-") for d in dirs)


def test_markdown_sink_same_headline_no_overwrite(spark, tmp_path):
    rows = [
        ("Same Headline", "one", "body one", [], [], "m1"),
        ("Same Headline", "two", "body two", [], [], "m2"),
    ]
    df = spark.createDataFrame(
        rows, "headline string, subtitle string, article_body string, pull_quotes array<string>, key_takeaways array<string>, meta_description string"
    )
    out = str(tmp_path / "articles")
    write_markdown_articles(df, out)
    dirs = sorted(os.listdir(out))
    assert len(dirs) == 2  # hash suffix keeps identically-slugging articles apart
    bodies = {json.load(open(os.path.join(out, d, "article.json")))["article_body"] for d in dirs}
    assert bodies == {"body one", "body two"}
    # deterministic suffixes: re-running reuses the same directories
    write_markdown_articles(df, out)
    assert sorted(os.listdir(out)) == dirs


def test_error_sink(tmp_path):
    p = write_error_record(ValueError("boom"), {"stage": "x"}, str(tmp_path / "errors"))
    rec = json.load(open(p))
    assert rec["type"] == "ValueError" and rec["context"]["stage"] == "x"


def test_multimodal_binary_plumbing(spark, tmp_path):
    from image_encoders import encode_png

    # one REAL decodable PNG, one JPEG-magic fake, one garbage file
    png = encode_png(12, 7, bytes(i % 256 for i in range(12 * 7 * 3)))
    jpg = b"\xff\xd8\xff\xe0" + b"\x01" * 3000
    raw = b"garbage-bytes" * 100
    assert [sniff_format(d) for d in (png, jpg, raw)] == ["png", "jpeg", "unknown"]
    for name, data in [("a.png", png), ("b.jpg", jpg), ("c.bin", raw)]:
        (tmp_path / name).write_bytes(data)
    df = spark.read.format("binaryFile").load(str(tmp_path))
    decoded = {os.path.basename(r["path"]): r["decoded"] for r in perceptual_hashes(df).collect()}
    assert decoded == {"a.png": True, "b.jpg": False, "c.bin": False}
