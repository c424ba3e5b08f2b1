"""Every YAML op, batch and streaming, is checked against its declared
params before anything loads: an unknown key, a missing required key or
a value its declared type cannot coerce raises PipelineConfigError.

The datasets and stream sources point at paths that do not exist, so an
op that opened its input before the check would fail with Spark's
path-not-found error instead.
"""

from __future__ import annotations

import pytest

from etl_poc_spark.plans import yaml_pipeline as yp
from etl_poc_spark.plans.yaml_pipeline import (
    PipelineConfigError,
    run_pipeline,
    run_streaming_pipeline,
    validate_config,
)

_REQ = yp._Required


def _coerce(decl):
    return decl.coerce if isinstance(decl, _REQ) else decl


def _required(spec) -> dict:
    """A placeholder value for every REQUIRED key of a declaration."""
    return {
        k: {int: 1, float: 1.0, list: ["x"]}.get(_coerce(d), "x")
        for k, d in spec.items()
        if isinstance(d, _REQ)
    }


def _numeric(spec) -> list[str]:
    out = []
    for k, d in spec.items():
        c = _coerce(d)
        if c in (int, float) or (type(d) in (int, float)):
            out.append(k)
    return out


def _config(tmp_path, op_type: str, drop: str | None = None, **extra) -> dict:
    op = {"name": "o", "type": op_type, **_required(yp._OPS[op_type].params), **extra}
    op.pop(drop, None)
    return {
        "default_model": "stub",
        "datasets": {"d": {"path": str(tmp_path / "missing.parquet")}},
        "operations": [op],
        "pipeline": {"steps": [{"name": "s", "input": "d", "operations": ["o"]}]},
    }


def _block(tmp_path, op: str, drop: str | None = None, **extra) -> dict:
    block = {
        "source": {"path": str(tmp_path / "missing"), "format": "parquet"},
        "op": op,
        "store_dir": str(tmp_path / "store"),
        "checkpoint_dir": str(tmp_path / "ck"),
        **_required(yp._STREAM_OPS[op].params),
        **extra,
    }
    block.pop(drop, None)
    return {"streaming": block}


OPS = sorted(yp._OPS)
STREAM_OPS = sorted(yp._STREAM_OPS)
REQUIRED_KEYS = [(t, k) for t in OPS for k in _required(yp._OPS[t].params)]
STREAM_REQUIRED_KEYS = [
    (o, k)
    for o in STREAM_OPS
    for k in _required({**yp._STREAM_BLOCK, **yp._STREAM_OPS[o].params})
    if k != "op"
]
NUMERIC_KEYS = [(t, k) for t in OPS for k in _numeric(yp._OPS[t].params)]
STREAM_NUMERIC_KEYS = [(o, k) for o in STREAM_OPS for k in _numeric(yp._STREAM_OPS[o].params)]


def test_op_tables_cover_the_surface():
    assert len(OPS) == 39 and len(STREAM_OPS) == 7


@pytest.mark.parametrize("op_type", OPS)
def test_unknown_key_rejected_before_load(spark, tmp_path, op_type):
    with pytest.raises(PipelineConfigError, match="bogus_key"):
        run_pipeline(spark, _config(tmp_path, op_type, bogus_key=30))


@pytest.mark.parametrize("op", STREAM_OPS)
def test_stream_unknown_key_rejected_before_open(spark, tmp_path, op):
    with pytest.raises(PipelineConfigError, match="bogus_key"):
        run_streaming_pipeline(spark, _block(tmp_path, op, bogus_key=30))
    assert not (tmp_path / "store").exists()
    assert not (tmp_path / "ck").exists()


@pytest.mark.parametrize("op_type,key", REQUIRED_KEYS)
def test_missing_required_key_rejected(spark, tmp_path, op_type, key):
    with pytest.raises(PipelineConfigError, match=f"requires '{key}'"):
        run_pipeline(spark, _config(tmp_path, op_type, drop=key))


@pytest.mark.parametrize("op,key", STREAM_REQUIRED_KEYS)
def test_stream_missing_required_key_rejected(spark, tmp_path, op, key):
    with pytest.raises(PipelineConfigError, match=f"requires '{key}'"):
        run_streaming_pipeline(spark, _block(tmp_path, op, drop=key))
    assert not (tmp_path / "store").exists()
    assert not (tmp_path / "ck").exists()


@pytest.mark.parametrize("op_type,key", NUMERIC_KEYS)
def test_non_numeric_value_rejected(op_type, key, tmp_path):
    with pytest.raises(PipelineConfigError, match=f"'{key}' must be"):
        validate_config(_config(tmp_path, op_type, **{key: "abc"}))


@pytest.mark.parametrize("op,key", STREAM_NUMERIC_KEYS)
def test_stream_non_numeric_value_rejected(spark, tmp_path, op, key):
    with pytest.raises(PipelineConfigError, match=f"'{key}' must be"):
        run_streaming_pipeline(spark, _block(tmp_path, op, **{key: "abc"}))


@pytest.mark.parametrize("op_type", OPS)
def test_reference_no_op_keys_still_validate(op_type, tmp_path):
    # `optimize` (SURVEY §2.9 L9) on every op, `preserve_metadata` (L1) on split
    extra = {"preserve_metadata": True} if op_type == "split" else {}
    validate_config(_config(tmp_path, op_type, optimize=True, **extra))


def test_declared_types_coerce_and_defaults_fill():
    p = yp._resolve_op({"name": "c", "type": "split", "chunk_size": "30", "chunk_overlap": None})
    assert (p["split_key"], p["chunk_size"], p["chunk_overlap"]) == ("text", 30, 10)
    # a list default also stands in for an empty value (`keys: []`)
    assert yp._resolve_op({"name": "d", "type": "exact_dedup", "keys": []})["keys"] == ["text"]
    # an optional typed key stays None unless set
    p = yp._resolve_op({"name": "s", "type": "dsir_select"})
    assert p["k"] is None and p["store_dir"] is None
    assert yp._resolve_op({"name": "s", "type": "dsir_select", "k": "3"})["k"] == 3
