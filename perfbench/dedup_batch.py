"""dedup_batch: closed loop, one CLI encode at a time.

``cli.main(["-c", ...])`` over a generated directory → ``.ddp`` archive:
binaryFile read → JVM fused chunk+sha1+compress kernel → first-wins window
→ range sort → driver-side ``serialize_ddp``. No Python UDF or stream runs.
"""

from __future__ import annotations

import hashlib
import io
import os
import re
import time
from contextlib import redirect_stdout

import inputs
from harness import median_time, noop
from stats import MB, median, mbps

N_FILES = 16
FILE_BYTES = 1_500_000  # 16 × 1.5 MB = 24 MB per encode
CODEC = "gzip"
#: Warm-up. Two encodes of a small corpus pay the session's cold start
#: cheaply; the JIT then keeps speeding up the full-size encode for about
#: eight more of them (measured: after five full-size warm-ups the timed
#: encodes still fell from ~1.5 s to ~1.25 s over a 15 s window).
PRIMER_FILES, PRIMER_BYTES = 2, 262_144
PRIMER_ENCODES = 2
WARMUP_FULL = 8


def _cli(args: list[str]) -> tuple[int, str]:
    from bensp_suite_spark import cli

    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = cli.main(args)
    return rc, buf.getvalue()


def _sha(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as fh:
        for block in iter(lambda: fh.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def _archive_counts(path: str) -> tuple[int, int]:
    """(records, fingerprint records) of a .ddp archive."""
    from bensp_suite_spark.sources import ddp

    n = dups = 0
    with open(path, "rb") as fh:
        records = ddp.iter_ddp_records_from(fh)
        next(records)  # ("__header__", codec)
        for _seq, rtype, _sha1, _payload in records:
            n += 1
            dups += rtype == ddp.TYPE_FINGERPRINT
    return n, dups


def run(r, text_only: bool = False) -> None:
    """The closed encode loop over the mixed corpus, or over its text files
    only when ``text_only`` (``dedup_unique``)."""
    spark = r.start_session()
    src = r.path("corpus")
    n_bytes = inputs.write_corpus_dir(src, r.seed, N_FILES, FILE_BYTES, text_only)
    archive = r.path("out.ddp")
    primer = r.path("primer")
    inputs.write_corpus_dir(primer, r.seed, PRIMER_FILES, PRIMER_BYTES, text_only)

    def encode(src: str = src) -> float:
        """One CLI encode: wall seconds."""
        t = time.perf_counter()
        rc, _ = _cli(["-c", "-i", src, "-o", archive, "-w", CODEC])
        dt = time.perf_counter() - t
        if rc != 0:
            raise RuntimeError(f"cli -c exited {rc}")
        return dt

    primed = [r.ops.run("warm-up encode", lambda: encode(primer))[1] for _ in range(PRIMER_ENCODES)]
    warm = [r.ops.run("warm-up encode", encode)[1] for _ in range(WARMUP_FULL)]
    ref_sha = _sha(archive) if os.path.exists(archive) else None
    r.metric("setup_s", r.elapsed(), "s")
    r.log(f"primer encodes {[w and round(w, 2) for w in primed]}, warm-up encodes {[w and round(w, 2) for w in warm]}")

    times: list[float] = []
    traced: list[float] = []
    jobs = None
    t_end = time.perf_counter() + r.seconds
    i = 0
    while time.perf_counter() < t_end:
        if r.trace and i % 2 == 1:
            with r.job_group("dedup.encode") as rec:
                ok, res = r.ops.run("encode", encode, lambda _: _sha(archive) == ref_sha)
            if ok:
                traced.append(res)
                jobs = rec
        else:
            ok, res = r.ops.run("encode", encode, lambda _: _sha(archive) == ref_sha)
            if ok:
                times.append(res)
        i += 1
    r.metric("peak_rss_mb", r.rss.stop(), "MB")
    if not times:
        r.ops.fail("encode", "no encode completed in the measured window")
        return
    enc_s = median(times)
    r.metric("op_p50_s", enc_s, "s")
    r.note("encode_mbps", mbps(n_bytes, enc_s), "MB/s")
    r.note("encodes", len(times), "count")
    r.note("input_mb", n_bytes / MB, "MB")
    r.note("archive_ratio", n_bytes / os.path.getsize(archive), "x")

    # --- checks (outside the timed region) ---------------------------------
    r.log(f"measured encodes {[round(t, 3) for t in times]}")

    def decode_check() -> str | None:
        dec = r.path("decoded")
        rc, _ = _cli(["-u", "-i", archive, "-o", dec])
        if rc != 0:
            return f"cli -u exited {rc}"
        pool = inputs.block_pool(r.seed)
        want = b"".join(inputs.corpus_file(r.seed, i, FILE_BYTES, pool, text_only) for i in range(N_FILES))
        got = b""
        for name in sorted(os.listdir(dec)):
            with open(os.path.join(dec, name), "rb") as fh:
                got += fh.read()
        return None if got == want else f"decoded {len(got)} bytes differ from the {len(want)} input bytes"

    def stats_check() -> str | None:
        rc, text = _cli(["--stats", "-i", src, "-w", CODEC])
        found = [re.search(rf"{k}:\s+(\d+)", text) for k in ("Total chunks", "Duplicate chunks")]
        if rc != 0 or not all(found):
            return f"cli --stats exited {rc}: {text[:200]!r}"
        stats = tuple(int(m.group(1)) for m in found)
        counts = _archive_counts(archive)
        r.note("chunks", counts[0], "count")
        r.note("dup_chunks", counts[1], "count")
        return None if stats == counts else f"--stats (chunks, dups) {stats} != archive {counts}"

    r.ops.verify("decode", decode_check)
    r.ops.verify("stats", stats_check)
    r.log("checks done")

    if r.trace:
        _layers(r, spark, src, n_bytes, times, traced, jobs)


def kernel_layers(r, spark, files, n_bytes: int) -> tuple[float, float]:
    """The layers the batch encoder and the stream share, by prefix runs
    over the same input: read → +kernel; plus the kernel on one core and
    the exact chunk counts. Returns (read seconds, read + kernel seconds)."""
    from bensp_suite_spark.dedup import pipeline

    with r.span("sources.read"):
        t_read = median_time(lambda: noop(files))
    with r.span("dedup.kernel"):
        t_kernel = median_time(lambda: noop(pipeline.chunk_hash_compress_jvm(files, CODEC, with_payload=True)))
    with r.span("dedup.kernel_1core"):
        t_1core = median_time(
            lambda: noop(pipeline.chunk_hash_compress_jvm(files.coalesce(1), CODEC, with_payload=True)), 2
        )
    r.layer("sources.read_s", t_read, "s")
    r.layer("dedup.kernel_s", t_kernel - t_read, "s")
    r.layer("dedup.kernel_1core_mbps", mbps(n_bytes, t_1core), "MB/s")
    row = pipeline.dedup_stats_jvm(files, compress_type=CODEC).collect()[0]
    r.layer("dedup.chunks", row.n_chunks, "count")
    r.layer("dedup.dup_ratio", row.dup_ratio, "ratio")
    r.layer("dedup.compress_ratio", row.total_dedup_bytes / row.total_compressed_bytes, "x")
    return t_read, t_kernel


def _layers(r, spark, src: str, n_bytes: int, times, traced, jobs) -> None:
    """Prefix runs over the same input: read → +kernel → +flag/order →
    +driver assembly. A layer's self time is the difference between
    neighbouring prefixes."""
    from bensp_suite_spark.dedup import pipeline
    from bensp_suite_spark.sources import binaryfiles, ddp

    files = binaryfiles.read_files(spark, src).select("file_id", "content")
    _, t_kernel = kernel_layers(r, spark, files, n_bytes)
    with r.span("dedup.encode"):
        t_encode = median_time(lambda: noop(pipeline.encode(files, compress_type=CODEC)))
    with r.span("sources.ddp_assemble"):
        t_ddp = median_time(lambda: ddp.serialize_ddp(pipeline.encode(files, compress_type=CODEC), CODEC))
    r.layer("dedup.flag_order_s", t_encode - t_kernel, "s")
    if times:
        r.layer("op.beyond_kernel_s", median(times) - t_kernel, "s")
    r.layer("sources.ddp_assemble_s", t_ddp - t_encode, "s")
    if jobs:
        r.layer("dedup.jobs", jobs["jobs"], "count")
        r.layer("dedup.tasks", jobs["tasks"], "count")
        r.layer("dedup.shuffle_mb", jobs["shuffle_mb"], "MB")
    if times and traced:
        r.layer("trace.overhead_pct", 100 * (median(traced) / median(times) - 1), "%")
