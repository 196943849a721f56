"""JVM fused-CDC kernel parity: bensp.kernels.CdcFuseUdf must emit exactly
the chunk stream of the Python kernel (rabin.py + chunk_hash_compress),
which is itself validated against the scalar reference recurrence in
test_rabin.py. Skipped when the kernel jar is absent (tools/
build_jvm_kernel.sh builds it)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bensp_suite_spark.dedup import fixtures, pipeline
from bensp_suite_spark.session import has_jvm_kernel


@pytest.fixture(scope="module")
def jvm_spark(spark):
    if not has_jvm_kernel(spark):
        pytest.skip("bensp-kernels.jar not on driver classpath")
    return spark


@pytest.fixture(scope="module")
def corpus(jvm_spark):
    # pool-repetitive files -> real local + global dups; odd sizes -> edge
    # chunks; includes a sub-window file via file_bytes spread
    return fixtures.synthetic_docs(
        jvm_spark, n_files=24, file_bytes=1 << 18, pool_size=24, seed=97
    ).cache()


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_fused_stream_identical(jvm_spark, corpus):
    py = pipeline.chunk_hash_compress(corpus, "gzip", with_payload=False).select(
        "file_id", "l1", "l2", "is_last_l2", "size", "sha1", "c_len"
    )
    jv = pipeline.chunk_hash_compress_jvm(corpus, "gzip")
    assert _rows(jv) == _rows(py)


def test_fused_stream_identical_no_compress(jvm_spark, corpus):
    py = pipeline.chunk_hash_compress(corpus, "none", with_payload=False).select(
        "file_id", "l1", "l2", "is_last_l2", "size", "sha1", "c_len"
    )
    jv = pipeline.chunk_hash_compress_jvm(corpus, "none")
    assert _rows(jv) == _rows(py)


def test_stats_identical(jvm_spark, corpus, python_kernel):
    a = pipeline.dedup_stats(corpus, "gzip").collect()
    b = pipeline.dedup_stats_jvm(corpus, "gzip").collect()
    assert a == b


def test_stats_identical_per_file_scope(jvm_spark, corpus, python_kernel):
    a = pipeline.dedup_stats(corpus, "gzip", scope_per_file=True).collect()
    b = pipeline.dedup_stats_jvm(corpus, "gzip", scope_per_file=True).collect()
    assert a == b


def test_edge_contents(jvm_spark):
    # empty file, sub-window file, exactly-window file, window+1
    rows = [(0, b""), (1, b"abc"), (2, bytes(range(32))), (3, bytes(33))]
    df = jvm_spark.createDataFrame(rows, fixtures.FILES_SCHEMA)
    py = pipeline.chunk_hash_compress(df, "gzip", with_payload=False).select(
        "file_id", "l1", "l2", "is_last_l2", "size", "sha1", "c_len"
    )
    jv = pipeline.chunk_hash_compress_jvm(df, "gzip")
    assert _rows(jv) == _rows(py)


def test_payload_bytes_identical(jvm_spark, corpus):
    # Java Deflater(1) and Python zlib.compress(level=1) wrap the same zlib;
    # the archives must match byte-for-byte, not just in length
    py = pipeline.chunk_hash_compress(corpus, "gzip", with_payload=True).select(
        "file_id", "l1", "l2", "payload"
    )
    jv = pipeline.chunk_hash_compress_jvm(corpus, "gzip", with_payload=True).select(
        "file_id", "l1", "l2", "payload"
    )
    a = {(r[0], r[1], r[2]): (None if r[3] is None else bytes(r[3])) for r in py.collect()}
    b = {(r[0], r[1], r[2]): (None if r[3] is None else bytes(r[3])) for r in jv.collect()}
    assert a == b


def test_plan_has_no_python_stage(jvm_spark):
    # local-relation input: the corpus fixture's own generation is a
    # mapInPandas and would show up in the cached lineage
    df = jvm_spark.createDataFrame([(0, b"x" * 4096)], fixtures.FILES_SCHEMA)
    plan = pipeline.dedup_stats_jvm(df, "gzip")._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan


def test_zstd_round_trip_and_stats(spark):
    """zstd (Spark's bundled zstd-jni, JVM-kernel-only codec — the modern
    codec the reference lacks): encode→decode must reproduce every file
    byte-for-byte, the chunk stream must equal gzip's exactly (chunking is
    codec-independent), and compressed sizes must be > 0 and smaller than
    the input on compressible data. Byte lengths are never pinned in any
    oracle (zstd output is library-version-dependent)."""
    from bensp_suite_spark.session import has_jvm_kernel

    if not has_jvm_kernel(spark):
        pytest.skip("JVM kernel jar not on classpath")
    files = fixtures.synthetic_docs(spark, n_files=6, file_bytes=65536, seed=3)
    ddp = pipeline.encode(files, compress_type="zstd")
    decoded = pipeline.decode(ddp, compress_type="zstd")
    orig = {r.file_id: bytes(r.content) for r in files.collect()}
    back = {r.file_id: bytes(r.content) for r in decoded.collect()}
    assert back == orig
    # chunk stream identical to gzip's (boundaries/digests are codec-free)
    key_cols = ["file_id", "l1", "l2", "sha1", "rtype"]
    z = sorted(map(tuple, ddp.select(*key_cols).collect()))
    g = sorted(
        map(tuple, pipeline.encode(files, compress_type="gzip").select(*key_cols).collect())
    )
    assert z == g
    stats = pipeline.dedup_stats_jvm(files, compress_type="zstd").collect()[0]
    # fixture blocks are random bytes (incompressible) — sizes must be
    # positive and within the zstd worst-case expansion bound
    assert 0 < stats.total_compressed_bytes < stats.total_dedup_bytes * 1.01 + 1024
    # compressible content must actually shrink
    text = spark.createDataFrame(
        [(0, (b"the quick brown fox " * 3000))], "file_id long, content binary"
    )
    tstats = pipeline.dedup_stats_jvm(text, compress_type="zstd").collect()[0]
    assert tstats.total_compressed_bytes < tstats.total_dedup_bytes / 5
    gstats = pipeline.dedup_stats_jvm(files, compress_type="gzip").collect()[0]
    # same chunk accounting; only the codec column differs
    assert (stats.n_chunks, stats.n_dup, stats.total_input_bytes) == (
        gstats.n_chunks, gstats.n_dup, gstats.total_input_bytes
    )


def test_zstd_requires_jvm_kernel_clear_error(spark):
    files = fixtures.synthetic_docs(spark, n_files=1, file_bytes=4096, seed=3)
    with pytest.raises(Exception, match="zstd"):
        pipeline.chunk_hash_compress(files, compress_type="zstd").collect()
