"""The dedup pipeline on its Python kernel, the configuration of sessions
without bensp-kernels.jar on the driver classpath. The ``python_kernel``
fixture forces it whether or not the jar is loaded."""

from __future__ import annotations

import logging
import os
import types

import numpy as np
import pytest

from bensp_suite_spark import cli
from bensp_suite_spark import queries as Q
from bensp_suite_spark.dedup import fixtures, pipeline

from .conftest import SF_CORRECT
from .oracle import compare


@pytest.mark.parametrize(
    "name",
    ["cdc_dedup_stats", "cdc_chunk_histogram", "cdc_round_trip_check", "cdc_ddp_datasource_scan"],
)
def test_cdc_query_matches_oracle(spark, python_kernel, name):
    df = Q.QUERIES[name](spark, SF_CORRECT)
    ok, msg = compare(df, Q.ORACLES[name], SF_CORRECT)
    assert ok, f"{name}: {msg}"


def test_stats_plan_has_no_jvm_kernel(spark, python_kernel):
    files = fixtures.synthetic_docs(spark, n_files=2, file_bytes=4096, seed=5)
    plan = pipeline.dedup_stats(files)._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan and "bensp_cdc_fuse" not in plan


@pytest.mark.parametrize("ctype", ["gzip", "bzip2", "none"])
def test_cli_round_trip(spark, python_kernel, tmp_path, ctype):
    """``-c`` then ``-u`` reproduces the input bytes; ``-u`` resolves
    fingerprint records through the Python digest UDF."""
    src = tmp_path / "in"
    src.mkdir()
    rng = np.random.default_rng(7)
    pool = [rng.integers(0, 256, 4096, dtype=np.uint8).tobytes() for _ in range(4)]
    original = b""
    for i in range(3):
        data = b"".join(pool[int(k)] for k in rng.integers(0, 4, 6))
        (src / f"file_{i}.bin").write_bytes(data)
        original += data
    archive, out = str(tmp_path / "a.ddp"), str(tmp_path / "out")
    # -t keeps the shared session's shuffle width
    threads = spark.conf.get("spark.sql.shuffle.partitions")
    assert cli.main(["-c", "-w", ctype, "-t", threads, "-i", str(src), "-o", archive]) == 0
    assert cli.main(["-u", "-t", threads, "-i", archive, "-o", out]) == 0
    decoded = b"".join(
        open(os.path.join(out, f), "rb").read() for f in sorted(os.listdir(out))
    )
    assert decoded == original


def test_zstd_needs_jvm_kernel(spark, python_kernel):
    files = fixtures.synthetic_docs(spark, n_files=1, file_bytes=4096, seed=3)
    ddp = pipeline.encode(files, "gzip")
    for build in (
        lambda: pipeline.encode(files, "zstd"),
        lambda: pipeline.decode(ddp, "zstd"),
        lambda: pipeline.dedup_stats(files, "zstd"),
        lambda: pipeline.payload_sha1(spark, "zstd"),
    ):
        with pytest.raises(ValueError, match="'zstd' requires the JVM kernel"):
            build()


def test_python_fallback_warns_once(monkeypatch, caplog):
    monkeypatch.setattr(pipeline, "has_jvm_kernel", lambda spark: False)
    session = types.SimpleNamespace()
    with caplog.at_level(logging.WARNING, logger=pipeline.__name__):
        assert pipeline._jvm_kernel(session) is False
        assert pipeline._jvm_kernel(session) is False
    warnings = [r.getMessage() for r in caplog.records if r.levelno == logging.WARNING]
    assert len(warnings) == 1
    assert "tools/build_jvm_kernel.sh" in warnings[0]
