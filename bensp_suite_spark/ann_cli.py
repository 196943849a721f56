"""CLI for embedding-table similarity search — the ferret_cli analog over
(vec_id, embedding) parquet tables, with persistent indexes for all three
bucketed ANN families (the reference's mkdb/query split,
apps/ferret/src/benchmark/mkdb:20-31 → ferret-pthreads.c:828-855,
generalized beyond image vecsets):

  python -m bensp_suite_spark.ann_cli mkdb EMB INDEX_OUT \
      --family lsh|ivf|pq|nsw|routed|routed-pq [--dim D] [--n-cells N] \
      [--spill-eps E]
  python -m bensp_suite_spark.ann_cli query EMB QUERIES TOP_K OUT \
      --family brute|lsh|ivf|pq|nsw|routed|routed-pq [--index INDEX] [-t N]

EMB / QUERIES are parquet tables with (vec_id long, embedding
array<float|double>). OUT receives a parquet table (query_id, neighbor_id,
rank, cosine) — the ANN result contract every ann_* declared query uses.
With --index, the query pays only probe + exact re-rank; the index build
cost (Lloyd training, signatures, cell assignment) was paid by mkdb. A
prebuilt query is result-identical to the inline build
(tests/test_llm_ops.py::test_prebuilt_ann_indexes_match_inline;
tests/test_sources_cli.py runs this CLI end-to-end).
"""

from __future__ import annotations

import argparse
import os
import sys
import time

#: --family name → the family an index manifest records
_STORE_FAMILY = {"routed": "nsw_routed", "routed-pq": "nsw_routed_pq"}


def _manifest(index_dir: str) -> dict | None:
    """The index manifest mkdb committed (family + build params), or None
    after telling the user to rebuild. Build params win over CLI flags: a
    query --dim different from the build dim would hash queries into
    incompatible LSH buckets and silently return degraded results."""
    from .index_store import read_manifest

    try:
        return read_manifest(index_dir)
    except ValueError:
        print(f"error: {index_dir} holds no index manifest; rebuild it with "
              "`bensp-ann mkdb`", file=sys.stderr)
        return None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="bensp-ann", description=__doc__)
    sub = ap.add_subparsers(dest="cmd", required=True)

    mk = sub.add_parser("mkdb", help="build + persist an ANN index")
    mk.add_argument("embeddings", help="embeddings parquet path")
    mk.add_argument("index_out", help="index output directory")
    mk.add_argument(
        "--family",
        default="lsh",
        choices=["lsh", "ivf", "pq", "nsw", "routed", "routed-pq"],
    )
    mk.add_argument("--dim", type=int, default=64, help="vector dim (lsh)")
    mk.add_argument("--n-cells", type=int, default=None,
                    help="IVF/routed cells (default: auto ≈ sqrt(corpus size))")
    mk.add_argument("--spill-eps", type=float, default=0.0,
                    help="routed families: SPANN boundary spill — a vector "
                         "joins every cell within (1+eps) of its nearest "
                         "(recall at a fixed probe budget for a bounded "
                         "state blow-up; 0 = nearest-cell only)")
    mk.add_argument("--trained", action="store_true",
                    help="train the quantizer on a random sample (MLlib "
                         "KMeans for ivf, kmeans++ Lloyd for pq) instead of "
                         "the deterministic lowest-id build; lsh is "
                         "seed-derived and unaffected")
    mk.add_argument("-t", "--threads", type=int, default=None)
    mk.add_argument("-v", "--verbose", action="store_true")

    up = sub.add_parser(
        "upsert",
        help="append new vectors to an existing index (no rebuild; "
             "assignments/signatures/codes are deterministic, so the "
             "upserted index answers identically to a full rebuild)",
    )
    up.add_argument("embeddings", help="NEW vectors parquet path")
    up.add_argument("index_dir", help="existing index directory (from mkdb)")
    up.add_argument("--corpus", default=None,
                    help="routed-pq only: the raw vector table holding the "
                         "already-indexed vectors (shards store codes; the "
                         "insertion continuation needs full precision)")
    up.add_argument("-t", "--threads", type=int, default=None)
    up.add_argument("-v", "--verbose", action="store_true")

    q = sub.add_parser("query", help="top-k cosine neighbors per query vector")
    q.add_argument("embeddings", help="corpus embeddings parquet path")
    q.add_argument("queries", help="query embeddings parquet path")
    q.add_argument("top_k", type=int)
    q.add_argument("output", help="output parquet path")
    q.add_argument(
        "--family",
        default="brute",
        choices=["brute", "lsh", "ivf", "pq", "nsw", "routed", "routed-pq"],
    )
    q.add_argument("--index", default=None, help="prebuilt index dir (from mkdb)")
    q.add_argument("--dim", type=int, default=64, help="vector dim (lsh)")
    q.add_argument("--n-cells", type=int, default=None,
                    help="IVF cells (default: auto ≈ sqrt(corpus size))")
    q.add_argument("--n-probe", type=int, default=None,
                    help="IVF probed cells per query (default: max(8, n_cells/16))")
    q.add_argument("--refine", type=int, default=10, help="PQ candidate factor")
    q.add_argument("--ef-search", type=int, default=16,
                    help="graph families: beam width (routed-pq pays ADC "
                         "noise in beam width — use 2-4x the raw beam)")
    q.add_argument("-t", "--threads", type=int, default=None)
    q.add_argument("-v", "--verbose", action="store_true")

    args = ap.parse_args(argv)

    if args.cmd == "upsert":
        inputs = [args.embeddings, args.index_dir]
    elif args.cmd == "mkdb":
        inputs = [args.embeddings]
    else:
        inputs = [args.embeddings, args.queries]
    if args.cmd == "query" and args.index:
        inputs.append(args.index)
    for p in inputs:
        if not os.path.exists(p):
            print(f"error: input not found: {p}", file=sys.stderr)
            return 2
    if args.cmd == "query" and args.index and args.family == "brute":
        print("error: --index requires a non-brute --family", file=sys.stderr)
        return 2
    if args.cmd == "query" and args.family == "routed-pq" and not args.index:
        print("error: --family routed-pq needs --index (the DiskANN frame "
              "is offline-build: mkdb --family routed-pq first)",
              file=sys.stderr)
        return 2
    index_dir = args.index_dir if args.cmd == "upsert" else getattr(args, "index", None)
    if index_dir:
        manifest = _manifest(index_dir)
        if manifest is None:
            return 2
        fam, params = manifest["family"], manifest["params"]
    if args.cmd == "upsert" and fam == "nsw_routed_pq" and not args.corpus:
        print("error: routed-pq upsert needs --corpus RAW_TABLE "
              "(the shards hold codes, not vectors — insertion "
              "continues at full precision from the raw table)",
              file=sys.stderr)
        return 2
    if args.cmd == "query" and index_dir:
        if fam != _STORE_FAMILY.get(args.family, args.family):
            print(f"error: index at {index_dir} holds a {fam} index, not "
                  f"--family {args.family}", file=sys.stderr)
            return 2
        args.dim = params.get("dim", args.dim)
        args.n_cells = params.get("n_cells", args.n_cells)

    from .operators import similarity as SIM
    from .session import get_spark

    spark = get_spark("bensp-ann-cli", shuffle_partitions=args.threads)
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.perf_counter()
    emb = spark.read.parquet(args.embeddings)

    if args.cmd == "upsert":
        from .operators import graph_ann as GA

        d = args.index_dir
        if fam == "lsh":
            SIM.upsert_lsh_index(
                spark, d, emb, params["dim"], params["n_planes"], params["n_tables"]
            )
        elif fam in ("ivf", "pq", "ivfpq"):
            getattr(SIM, f"upsert_{fam}_index")(spark, d, emb)
        elif fam in ("nsw", "nsw_routed"):
            getattr(GA, f"upsert_{fam}_index")(emb, d)
        else:  # routed-pq: shards hold codes only — recover touched
            # cells' raw vectors from --corpus (the lake table the exact
            # re-rank reads anyway)
            GA.upsert_nsw_routed_pq_index(emb, spark.read.parquet(args.corpus), d)
        if args.verbose:
            print(f"upserted into {fam} index in {time.perf_counter() - t0:.2f}s "
                  f"→ {args.index_dir}")
        spark.stop()
        return 0

    if args.cmd == "mkdb":
        # every save_* commits the family and its (resolved) build
        # params in the index manifest
        if args.family == "lsh":
            SIM.save_lsh_index(emb, args.index_out, dim=args.dim)
        elif args.family == "ivf":
            SIM.save_ivf_index(
                emb, args.index_out, n_cells=args.n_cells, trained=args.trained
            )
        elif args.family == "pq":
            SIM.save_pq_index(emb, args.index_out, trained=args.trained)
        else:
            from .operators import graph_ann as GA

            if args.family == "nsw":
                GA.save_nsw_index(emb, args.index_out)
            else:
                if args.n_cells is None:
                    args.n_cells, _ = SIM.ivf_defaults(emb.count())
                if args.family == "routed":
                    GA.save_nsw_routed_index(
                        emb, args.index_out, n_cells=args.n_cells,
                        spill_eps=args.spill_eps,
                    )
                else:
                    GA.save_nsw_routed_pq_index(
                        emb, args.index_out, n_cells=args.n_cells,
                        n_centroids=256, spill_eps=args.spill_eps,
                    )
        if args.verbose:
            print(f"built {args.family} index in {time.perf_counter() - t0:.2f}s "
                  f"→ {args.index_out}")
        spark.stop()
        return 0

    queries = spark.read.parquet(args.queries)
    k = args.top_k
    if args.family == "brute":
        out = SIM.cosine_topk_bruteforce(queries, emb, k=k)
    elif args.family == "lsh":
        idx = SIM.load_lsh_index(spark, args.index) if args.index else None
        out = SIM.lsh_ann_topk(queries, emb, k=k, dim=args.dim, index=idx)
    elif args.family == "ivf":
        idx = SIM.load_ivf_index(spark, args.index) if args.index else None
        out = SIM.ivf_ann_topk(
            queries, emb, k=k, n_cells=args.n_cells, n_probe=args.n_probe, index=idx
        )
    elif args.family == "pq":
        idx = SIM.load_pq_index(spark, args.index) if args.index else None
        out = SIM.pq_ann_topk(queries, emb, k=k, refine=args.refine, index=idx)
    elif args.family == "nsw":
        from .operators import graph_ann as GA

        idx = GA.load_nsw_index(spark, args.index) if args.index else None
        out = GA.nsw_ann_topk(
            queries, emb, k=k, ef_search=args.ef_search, index=idx
        )
    elif args.family == "routed":
        from .operators import graph_ann as GA

        idx = GA.load_nsw_routed_index(spark, args.index) if args.index else None
        kw = dict(k=k, ef_search=args.ef_search, index=idx)
        if args.n_probe is not None:
            kw["n_probe"] = args.n_probe
        if idx is None and args.n_cells is not None:
            kw["n_cells"] = args.n_cells
        out = GA.nsw_routed_ann_topk(queries, emb, **kw)
    else:  # routed-pq (index presence enforced above)
        from .operators import graph_ann as GA

        idx = GA.load_nsw_routed_pq_index(spark, args.index)
        kw = dict(k=k, ef_search=args.ef_search)
        if args.n_probe is not None:
            kw["n_probe"] = args.n_probe
        out = GA.nsw_routed_pq_ann_topk(queries, emb, idx, **kw)
    out.orderBy("query_id", "rank").write.mode("overwrite").parquet(args.output)
    if args.verbose:
        n_q = queries.count()
        print(f"ranked {n_q} queries (top-{k}, {args.family}"
              f"{', prebuilt' if args.index else ''}) "
              f"in {time.perf_counter() - t0:.2f}s → {args.output}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
