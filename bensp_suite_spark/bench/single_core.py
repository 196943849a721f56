"""Single-thread dedup throughput probe (run as a subprocess).

BASELINE.md's reference number — 41 MB/s for the h1 run — is a
SINGLE-THREAD figure (one 2018 core running the C pipeline). The main
bench measures the 32-way session, where per-core throughput is
memory-bandwidth-shared and understates the kernel; this probe runs the
same ``dedup_stats`` (the fused JVM kernel when its jar is loaded) on
``local[1]`` so the comparison is apples-to-apples. Invoked by bench.py in a subprocess (a session's
master can't change in-process); prints one JSON line.

Measured on this container: ~65 MB/s gzip / ~144 MB/s no-codec
single-thread vs the reference's 41 MB/s gzip — the Spark kernel is
faster per core; the fleet number is then a scheduling/bandwidth story,
not a kernel story.
"""

from __future__ import annotations

import json
import os
import sys
import time


def main(mb: int = 256) -> None:
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    os.environ["SPARK_GRAFT_CPUS"] = "1"
    from pyspark import StorageLevel

    from bensp_suite_spark.dedup import fixtures as DF
    from bensp_suite_spark.dedup import pipeline as DP
    from bensp_suite_spark.session import get_spark

    spark = get_spark("bench-single-core", shuffle_partitions=1)
    spark.sparkContext.setLogLevel("ERROR")
    files = DF.synthetic_docs(
        spark, n_files=mb, file_bytes=1 << 20, pool_size=64, seed=11
    ).persist(StorageLevel.MEMORY_ONLY)
    files.count()
    out = {"input_mb": mb}
    for ctype in ("gzip", "none"):
        best = None
        for rep in range(5):
            t0 = time.perf_counter()
            DP.dedup_stats(files, compress_type=ctype).collect()
            sec = time.perf_counter() - t0
            if rep > 1:  # two JIT-warm reps, then best-of-3
                best = sec if best is None else min(best, sec)
        out[f"mbps_{ctype}"] = round(mb / best, 1)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main(int(sys.argv[1]) if len(sys.argv) > 1 else 256)
