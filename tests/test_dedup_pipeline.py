"""Round-trip + parity tests for the dedup pipeline (SURVEY §5 test plan:
encode→decode == identity; (file_id,l1,l2,sha1,is_dup) stream equals the
pure-Python reference encoder)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bensp_suite_spark.dedup import fixtures, pipeline


@pytest.fixture(scope="module")
def files_df(spark):
    return fixtures.synthetic_docs(spark, n_files=16, file_bytes=32768, seed=123).cache()


def test_chunk_stream_matches_reference(spark, files_df):
    contents = {int(r["file_id"]): bytes(r["content"]) for r in files_df.collect()}
    expected = pipeline.reference_encode_py(contents)

    flagged = pipeline.deduplicate(pipeline.chunk_files(files_df))
    got = [
        (int(r.file_id), int(r.l1), int(r.l2), bool(r.is_last_l2), r.sha1, bool(r.is_dup))
        for r in flagged.select("file_id", "l1", "l2", "is_last_l2", "sha1", "is_dup")
        .orderBy("file_id", "l1", "l2")
        .collect()
    ]
    assert got == expected


@pytest.mark.parametrize("ctype", ["gzip", "none", "bzip2"])
def test_round_trip(spark, files_df, ctype):
    ddp = pipeline.encode(files_df, compress_type=ctype)
    decoded = pipeline.decode(ddp, compress_type=ctype)
    orig = {int(r["file_id"]): bytes(r["content"]) for r in files_df.collect()}
    got = {int(r["file_id"]): bytes(r["content"]) for r in decoded.collect()}
    assert got == orig


def test_dedup_finds_planted_duplicates(spark, files_df):
    stats = pipeline.dedup_stats(files_df).collect()[0]
    assert stats.n_chunks > 16  # files actually got split
    assert stats.n_dup > 0  # block-pool reuse produced duplicate chunks
    assert stats.total_dedup_bytes < stats.total_input_bytes
    assert stats.total_compressed_bytes > 0


def test_per_file_scope(spark, files_df):
    g = pipeline.deduplicate(pipeline.chunk_files(files_df), scope_per_file=False)
    p = pipeline.deduplicate(pipeline.chunk_files(files_df), scope_per_file=True)
    n_dup_global = g.filter("is_dup").count()
    n_dup_scoped = p.filter("is_dup").count()
    assert n_dup_scoped <= n_dup_global


def test_histogram_sums_to_chunks(spark, files_df):
    hist = pipeline.chunk_size_histogram(files_df)
    total = hist.agg(F.sum("cnt")).collect()[0][0]
    n_chunks = pipeline.chunk_files(files_df).count()
    assert total == n_chunks


def test_skew_safe_dedup_matches_window_path(spark, files_df):
    """The min-reduce+join first-wins variant must flag exactly the rows
    the window variant flags (global and per-file scope)."""
    chunks = pipeline.chunk_files(files_df)
    cols = ["file_id", "l1", "l2", "sha1", "is_dup"]
    for scope in (False, True):
        base = pipeline.deduplicate(chunks, scope_per_file=scope)
        safe = pipeline.deduplicate(chunks, scope_per_file=scope, skew_safe=True)
        key = lambda df: sorted(
            (int(r.file_id), int(r.l1), int(r.l2), r.sha1, bool(r.is_dup))
            for r in df.select(*cols).collect()
        )
        assert key(safe) == key(base)


def test_skew_safe_encode_on_saturated_input(spark):
    """Duplicate-saturated input — every file identical, so ONE digest
    dominates the whole corpus (the window path's worst case). The
    skew-safe encode must be record-identical to the window encode and
    round-trip byte-exact."""
    payload = bytes(range(256)) * 256  # 64 KiB, identical for all files
    rows = [(i, payload) for i in range(12)]
    files = spark.createDataFrame(rows, "file_id long, content binary")

    base = pipeline.encode(files, compress_type="gzip")
    safe = pipeline.encode(files, compress_type="gzip", skew_safe=True)
    cols = ["file_id", "l1", "l2", "is_last_l2", "rtype", "sha1"]
    key = lambda df: [tuple(r) for r in df.select(*cols).orderBy("file_id", "l1", "l2").collect()]
    assert key(safe) == key(base)

    decoded = pipeline.decode(safe, compress_type="gzip")
    got = {int(r["file_id"]): bytes(r["content"]) for r in decoded.collect()}
    assert got == {i: payload for i in range(12)}


@pytest.mark.parametrize("kernel", ["session", "python"])
def test_unknown_codec_rejected_before_any_job(spark, files_df, request, kernel):
    if kernel == "python":
        request.getfixturevalue("python_kernel")
    ddp = pipeline.encode(files_df, "gzip")
    sc = spark.sparkContext
    sc.setJobGroup("unknown-codec", "no job may run")
    try:
        for build in (
            lambda: pipeline.encode(files_df, "gzp"),
            lambda: pipeline.decode(ddp, "gzp"),
            lambda: pipeline.dedup_stats(files_df, "gzp"),
        ):
            with pytest.raises(ValueError, match="'gzp'; expected one of gzip, bzip2, none, zstd"):
                build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("unknown-codec")) == []
