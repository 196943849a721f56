"""CLI mirroring the reference's ``dedup`` binary (apps/dedup/src/dedup.c:32-41):

  python -m bensp_suite_spark.cli -c -i INPUT -o archive.ddp [-w gzip|bzip2|none]
  python -m bensp_suite_spark.cli -u -i archive.ddp -o OUT_DIR
  python -m bensp_suite_spark.cli --stats -i INPUT

-c compress/encode, -u uncompress/decode, -w compression type, -t parallelism
(→ shuffle partitions; the reference's stage-thread knob), -v verbose.
INPUT for -c is a file or directory (S1/S2); the archive is byte-compatible
with the reference's .ddp layout (sources/ddp.py).
"""

from __future__ import annotations

import argparse
import os
import sys
import time


def main(argv: list[str] | None = None) -> int:
    from .dedup.pipeline import CODECS

    ap = argparse.ArgumentParser(prog="bensp-dedup", description=__doc__)
    mode = ap.add_mutually_exclusive_group(required=True)
    mode.add_argument("-c", "--compress", action="store_true", help="encode")
    mode.add_argument("-u", "--uncompress", action="store_true", help="decode")
    mode.add_argument("--stats", action="store_true", help="encode statistics only")
    ap.add_argument("-i", "--input", required=True)
    ap.add_argument("-o", "--output", help="archive path (-c) or output dir (-u)")
    ap.add_argument(
        "-w", "--compress-type", default="gzip",
        choices=list(CODECS),
        help="zstd is an engine extension (archive code 3; JVM kernel "
             "required) — reference tooling reads gzip/bzip2/none only",
    )
    ap.add_argument("-t", "--threads", type=int, default=None, help="parallelism")
    ap.add_argument("-v", "--verbose", action="store_true")
    args = ap.parse_args(argv)

    from .session import get_spark
    from .sources import binaryfiles, ddp as ddpfmt

    spark = get_spark("bensp-dedup-cli", shuffle_partitions=args.threads)
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.perf_counter()

    if args.compress or args.stats:
        from .dedup import pipeline

        if not os.path.exists(args.input):
            print(f"error: input not found: {args.input}", file=sys.stderr)
            return 2
        files = binaryfiles.read_files(spark, args.input).select("file_id", "content")
        if args.stats:
            row = pipeline.dedup_stats(files, compress_type=args.compress_type).collect()[0]
            # print_stats equivalent (encoder.c:225-388)
            print(f"Total input size:        {row.total_input_bytes} B")
            print(f"Total chunks:            {row.n_chunks}")
            print(f"Mean chunk size:         {row.mean_chunk_b} B")
            print(f"Duplicate chunks:        {row.n_dup} ({100.0 * row.dup_ratio:.2f}%)")
            print(f"Data after dedup:        {row.total_dedup_bytes} B "
                  f"({row.total_input_bytes / max(row.total_dedup_bytes, 1):.2f}x)")
            print(f"Data after compression:  {row.total_compressed_bytes} B "
                  f"({row.total_dedup_bytes / max(row.total_compressed_bytes, 1):.2f}x)")
            return 0
        if not args.output:
            print("error: -o required for -c", file=sys.stderr)
            return 2
        ddp_df = pipeline.encode(files, compress_type=args.compress_type)
        blob = ddpfmt.serialize_ddp(ddp_df, compress_type=args.compress_type)
        with open(args.output, "wb") as fh:
            fh.write(blob)
        if args.verbose:
            n_in = files.agg({"content": "count"}).collect()[0][0]
            print(f"encoded {n_in} file(s) -> {args.output} ({len(blob)} B) "
                  f"in {time.perf_counter() - t0:.2f}s")
        return 0

    # decode (-u): reference semantics — the archive is one sequential
    # stream; uniques must precede their duplicates (decoder.c:242-244)
    if not args.output:
        print("error: -o required for -u", file=sys.stderr)
        return 2
    from pyspark.sql import functions as F

    with open(args.input, "rb") as fh:
        ctype, records = ddpfmt.parse_ddp(spark, fh.read())
    from .dedup.pipeline import TYPE_FINGERPRINT, decode, payload_sha1

    ddp_df = records.select(
        F.lit(0).cast("long").alias("file_id"),
        F.lit(0).cast("long").alias("l1"),
        F.col("seq").alias("l2"),
        F.lit(False).alias("is_last_l2"),
        "rtype",
        "sha1",
        "payload",
    )
    # fingerprint records need their digest resolved from record order:
    # recompute sha1 for payload records so the J4 join has both sides
    try:
        recomputed = payload_sha1(spark, ctype)
    except ValueError as e:
        print(f"error: {e}", file=sys.stderr)
        return 2
    ddp_df = ddp_df.withColumn(
        "sha1",
        F.when(F.col("rtype") == TYPE_FINGERPRINT, F.col("sha1")).otherwise(recomputed),
    )
    out = decode(ddp_df, compress_type=ctype)
    os.makedirs(args.output, exist_ok=True)
    for row in out.collect():
        with open(os.path.join(args.output, f"decoded_{row.file_id:05d}.bin"), "wb") as fh:
            fh.write(bytes(row.content))
    if args.verbose:
        print(f"decoded {args.input} -> {args.output} in {time.perf_counter() - t0:.2f}s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
