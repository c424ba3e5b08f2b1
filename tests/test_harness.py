"""Timeout/retry/quarantine harness tests (reference operator contract)."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

from etl_poc_spark.plans.harness import PipelineTimeoutError, run_with_harness

# the checkout under test: its CLI, not whatever the working directory holds
REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_harness_returns_body_result(spark):
    assert run_with_harness(spark, lambda: 42, timeout_seconds=30, retries=0) == 42


def test_harness_times_out_hanging_body(spark, tmp_path):
    errors = str(tmp_path / "errors")

    def hang() -> None:
        time.sleep(30)

    t0 = time.perf_counter()
    with pytest.raises(PipelineTimeoutError, match="wall-clock budget"):
        run_with_harness(spark, hang, timeout_seconds=0.5, retries=0, errors_dir=errors)
    assert time.perf_counter() - t0 < 10
    (rec_file,) = os.listdir(errors)
    rec = json.load(open(os.path.join(errors, rec_file)))
    assert rec["type"] == "PipelineTimeoutError"
    assert rec["context"]["attempts"] == 1


def test_harness_retries_then_succeeds(spark):
    calls = {"n": 0}

    def flaky() -> str:
        calls["n"] += 1
        if calls["n"] < 3:
            raise RuntimeError("transient")
        return "ok"

    assert run_with_harness(spark, flaky, timeout_seconds=30, retries=2) == "ok"
    assert calls["n"] == 3


def test_harness_quarantines_persistent_failure(spark, tmp_path):
    errors = str(tmp_path / "errors")

    def boom() -> None:
        raise ValueError("bad pipeline")

    with pytest.raises(ValueError, match="bad pipeline"):
        run_with_harness(
            spark, boom, timeout_seconds=30, retries=2, errors_dir=errors,
            context={"stage": "unit"},
        )
    (rec_file,) = os.listdir(errors)
    rec = json.load(open(os.path.join(errors, rec_file)))
    assert rec["type"] == "ValueError" and rec["context"]["stage"] == "unit"
    assert rec["context"]["attempts"] == 3


def test_cli_failing_pipeline_quarantines_and_exits_nonzero(tmp_path):
    import yaml

    config = {
        "default_model": "stub",
        "datasets": {"docs": {"type": "file", "source": "local",
                              "path": "/data/input/documents.parquet", "format": "parquet"}},
        "operations": [
            {"name": "bad", "type": "filter", "condition": "no_such_column > 1"},
        ],
        "pipeline": {"steps": [{"name": "s1", "input": "docs", "operations": ["bad"]}]},
    }
    cfg_path = tmp_path / "p.yaml"
    cfg_path.write_text(yaml.safe_dump(config))
    errors_dir = tmp_path / "errors"
    proc = subprocess.run(
        [sys.executable, "-m", "etl_poc_spark.cli", "--config", str(cfg_path),
         "--input", "/root/testdata/sf0.001", "--cpus", "2",
         "--retries", "0", "--errors-dir", str(errors_dir)],
        capture_output=True, text=True, timeout=300, cwd=REPO_ROOT,
    )
    assert proc.returncode == 1
    err = json.loads(proc.stderr.strip().splitlines()[-1])
    assert "no_such_column" in err["error"] or err["type"]
    (rec_file,) = os.listdir(errors_dir)
    rec = json.load(open(errors_dir / rec_file))
    assert rec["context"]["attempts"] == 1


def test_harness_does_not_retry_timeouts(spark):
    """A hung body can't be killed, so a timeout must fail fast instead of
    racing a zombie thread with a retry."""
    calls = {"n": 0}

    def hang() -> None:
        calls["n"] += 1
        time.sleep(30)

    with pytest.raises(PipelineTimeoutError):
        run_with_harness(spark, hang, timeout_seconds=0.5, retries=3)
    time.sleep(0.2)
    assert calls["n"] == 1  # no second attempt was started
