"""CLI mirroring the reference's ``ferret-pthreads`` binary
(apps/ferret/src/benchmark/ferret-pthreads.c:828-855 usage:
``ferret <db_dir> <table> <query_dir> <top_K> <depth> <n> <out>``):

  python -m bensp_suite_spark.ferret_cli mkdb CORPUS INDEX_OUT [--dim D]
  python -m bensp_suite_spark.ferret_cli query CORPUS QUERIES TOP_K OUT \
      [--mode lsh|exhaustive] [--index INDEX] [-t N] [--per-region-k K]

CORPUS / QUERIES are vecset parquet tables (image_id, name,
regions: array<struct<weight, features>>) — the engine's equivalent of the
CASS database directory + query image directory (build them from raw
images with multimodal.images.images_to_vecsets, or from embeddings with
ferret.fixtures.vecsets_from_embeddings). OUT receives the reference's
``name:dist`` tab-separated lines per query (S7). ``--mode lsh`` probes
the E2LSH index exactly like the reference's lsh table; ``exhaustive``
scans raw (its ``-R``-free raw table path). ``-t`` is the stage-thread
knob → shuffle partitions.
"""

from __future__ import annotations

import argparse
import os
import sys
import time


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="bensp-ferret", description=__doc__)
    sub = ap.add_subparsers(dest="cmd", required=True)

    q = sub.add_parser("query", help="rank queries against a corpus (the ferret binary)")
    q.add_argument("corpus", help="corpus vecset parquet path")
    q.add_argument("queries", help="query vecset parquet path")
    q.add_argument("top_k", type=int)
    q.add_argument("output", help="output path for name:dist lines")
    q.add_argument("--mode", default="lsh", choices=["lsh", "exhaustive"])
    q.add_argument("--index", default=None,
                   help="pre-built LSH index parquet (from `mkdb`); lsh mode only")
    q.add_argument("--per-region-k", type=int, default=None,
                   help="rank-stage candidate cap (reference: 2*top_K)")
    q.add_argument("-t", "--threads", type=int, default=None, help="parallelism")
    q.add_argument("-v", "--verbose", action="store_true")

    mk = sub.add_parser("mkdb", help="build the E2LSH index offline "
                        "(benchmark/mkdb: cass_build index lsh)")
    mk.add_argument("corpus", help="corpus vecset parquet path")
    mk.add_argument("index_out", help="index parquet output path")
    mk.add_argument("--dim", type=int, default=14)
    mk.add_argument("-t", "--threads", type=int, default=None)
    mk.add_argument("-v", "--verbose", action="store_true")

    args = ap.parse_args(argv)

    inputs = [args.corpus] if args.cmd == "mkdb" else [args.corpus, args.queries]
    if args.cmd == "query" and args.index:
        inputs.append(args.index)
    for p in inputs:
        if not os.path.exists(p):
            print(f"error: input not found: {p}", file=sys.stderr)
            return 2
    if args.cmd == "query" and args.index:
        # the index manifest carries the build params (same contract as
        # ann_cli): probing at a different --dim would hash into
        # incompatible buckets and silently degrade recall
        from .index_store import read_manifest

        try:
            if read_manifest(args.index)["family"] != "ferret_lsh":
                raise ValueError(args.index)
        except ValueError:
            print(f"error: {args.index} holds no ferret index manifest; "
                  "rebuild it with `bensp-ferret mkdb`", file=sys.stderr)
            return 2

    from . import index_store
    from .ferret import pipeline as FP
    from .session import get_spark

    spark = get_spark("bensp-ferret-cli", shuffle_partitions=args.threads)
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.perf_counter()

    corpus = spark.read.parquet(args.corpus)

    if args.cmd == "mkdb":
        index = FP.build_lsh_index(FP.explode_regions(corpus, "c"), dim=args.dim)
        index_store.commit(
            args.index_out, "ferret_lsh", {"dim": args.dim}, {"index": index}
        )
        if args.verbose:
            n = index_store.load(spark, args.index_out, "ferret_lsh").frame("index").count()
            print(f"built LSH index: {n} bucket entries "
                  f"in {time.perf_counter() - t0:.2f}s → {args.index_out}")
        spark.stop()
        return 0

    queries = spark.read.parquet(args.queries)
    corpus_index, dim = None, 14
    if args.index:
        idx = index_store.load(spark, args.index, "ferret_lsh")
        corpus_index, dim = idx.frame("index"), idx.params["dim"]
    per_region_k = args.per_region_k or 2 * args.top_k
    topk = FP.ferret_topk(
        queries,
        corpus,
        top_k=args.top_k,
        dim=dim,
        mode=args.mode,
        per_region_k=per_region_k if args.mode == "lsh" else None,
        corpus_index=corpus_index,
    )
    FP.write_results(topk, args.output)
    if args.verbose:
        n_q = queries.count()
        print(f"ranked {n_q} queries (top-{args.top_k}, {args.mode}) "
              f"in {time.perf_counter() - t0:.2f}s → {args.output}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
