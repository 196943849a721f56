"""Sharded NSW (navigable-small-world) graph ANN.

The one ANN family the engine was missing: proximity-GRAPH search —
what HNSW-era vector databases (FAISS ``IndexHNSW``, Milvus, Vespa,
pgvector) use as their default index. Graphs answer a query in
O(ef·log n) distance evaluations without any quantization loss, at the
price of a build step and a memory-resident adjacency.

Spark realization (how every distributed vector store shards HNSW):

- the corpus is hash-sharded (``vec_id % n_shards`` here — synthetic
  ids are already uniform; production would use ``pmod(xxhash64(id))``);
- each shard builds an INDEPENDENT in-memory NSW graph inside ONE
  ``applyInPandas`` group — the graph never crosses executor
  boundaries, so shard size (corpus/n_shards) is the only memory
  knob, and build parallelism is free (one task per shard);
- every query beam-searches every shard (queries are broadcast into
  the UDF closure — bounded by the family's QUERY_BATCH_LIMIT wave
  loop) and the per-shard top-ef candidates are unioned;
- the FINAL ranking is exact JVM-side cosine over the candidate
  union (same `_dot`/`_norm` column math + rounded-cosine + id
  tiebreaks as every other family member) — the Python graph only
  nominates candidates, it never scores the output.

At 10¹¹ vectors: S = corpus/shard_budget shards, each an independent
~1 GB graph; queries fan out to all shards (or compose with IVF
routing to probe a subset), per-shard search cost is O(ef·log n_shard)
REGARDLESS of corpus size, and throughput scales linearly with
executors. The build is embarrassingly parallel, incremental (a new
shard per ingest batch), and crash-safe (rebuild one shard, not the
index).

Reference analog: the suite's CASS/ferret engine answers the same
"top-k nearest" question with LSH probing (`reference
src/cass/lsh*.c`); the NSW graph is the modern (Malkov et al. 2014 /
HNSW 2016) answer to the identical query shape.

DETERMINISM SPEC — mirrored verbatim by the independent numpy
reference in ``tools/golden_reference.py::ann_nsw_topk`` (the golden
oracle pins its output, so the two implementations must stay in
lock-step; change one, change both):

- unit vectors: ``v / np.linalg.norm(v)`` in float64;
- graph distance: ``-float(np.dot(a_unit, b_unit))`` (smaller=nearer);
- shard(vec_id) = vec_id % n_shards; within a shard, nodes take
  positions 0..n-1 in ASCENDING vec_id order; insert order = position
  order; the entry point is position 0;
- insert(i): beam-search V[i] with ef_build over the graph of
  positions < i; connect i to the min(m, |W|) nearest results (by
  (dist, pos)); edges are undirected; any endpoint whose degree
  exceeds 2·m keeps its 2·m nearest neighbors (by (dist, pos));
- adjacency lists are ALWAYS kept sorted ascending by position and
  traversed in that order (heap ties are impossible — (dist, pos)
  keys are unique — but admission to a full result set depends on
  traversal order, so the order is pinned);
- beam_search(q, ef): best-first with a candidate min-heap keyed
  (dist, pos) and a bounded result set W holding the ef smallest
  (dist, pos); expansion stops when the nearest open candidate is
  farther than the worst of a full W (lexicographic on (dist, pos)).
"""

from __future__ import annotations

import heapq

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import index_store
from .similarity import QUERY_BATCH_LIMIT, _dot, _norm

__all__ = [
    "nsw_build",
    "nsw_beam_search",
    "nsw_beam_search_adc",
    "nsw_ann_topk",
    "nsw_routed_ann_topk",
    "nsw_routed_pq_ann_topk",
    "build_nsw_index",
    "save_nsw_index",
    "load_nsw_index",
    "upsert_nsw_index",
    "save_nsw_routed_index",
    "load_nsw_routed_index",
    "upsert_nsw_routed_index",
    "save_nsw_routed_pq_index",
    "load_nsw_routed_pq_index",
    "upsert_nsw_routed_pq_index",
]


def nsw_beam_search(
    V: np.ndarray,
    nbrs: list[list[int]],
    qv: np.ndarray,
    ef: int,
) -> list[tuple[float, int]]:
    """Deterministic best-first beam search over a built NSW graph.

    ``V`` is the (n, d) unit-vector matrix, ``nbrs`` the adjacency
    (sorted ascending), ``qv`` the unit query. Returns the ≤ef nearest
    (dist, pos) pairs sorted ascending by (dist, pos). See the module
    docstring for the exact admission/termination rules — this function
    IS the spec the golden reference mirrors.
    """
    d0 = -float(np.dot(V[0], qv))
    visited = {0}
    cand: list[tuple[float, int]] = [(d0, 0)]
    # W as a max-heap over (dist, pos): entries are (-dist, -pos), so
    # w[0] is exactly the lexicographic worst — well-defined even when
    # two distances tie bit-for-bit (duplicate vectors in the corpus).
    w: list[tuple[float, int]] = [(-d0, 0)]
    while cand:
        d_c, c = heapq.heappop(cand)
        d_worst, p_worst = -w[0][0], -w[0][1]
        if len(w) >= ef and (d_c, c) > (d_worst, p_worst):
            break
        for nb in nbrs[c]:
            if nb in visited:
                continue
            visited.add(nb)
            d_nb = -float(np.dot(V[nb], qv))
            if len(w) < ef:
                heapq.heappush(w, (-d_nb, -nb))
                heapq.heappush(cand, (d_nb, nb))
            else:
                d_worst, p_worst = -w[0][0], -w[0][1]
                if (d_nb, nb) < (d_worst, p_worst):
                    heapq.heapreplace(w, (-d_nb, -nb))
                    heapq.heappush(cand, (d_nb, nb))
    return sorted((-nd, -np_) for nd, np_ in w)


def nsw_beam_search_adc(
    codes: np.ndarray,
    nbrs: list[list[int]],
    table: np.ndarray,
    ef: int,
) -> list[tuple[float, int]]:
    """:func:`nsw_beam_search` with ADC distances — the DiskANN search
    model: node distance is the PQ approximation
    ``-Σ_s table[s, codes[node, s]]`` (``table`` is the query's (S, C)
    inner-product table against the codebooks), so the beam touches only
    8-byte codes instead of raw vectors. Traversal/admission/termination
    rules are IDENTICAL to the raw beam (this function is part of the
    determinism spec the golden reference mirrors); the raw vectors are
    only needed afterwards, by the exact re-rank of the survivors."""
    srange = np.arange(table.shape[0])

    def d(p: int) -> float:
        return -float(table[srange, codes[p]].sum())

    d0 = d(0)
    visited = {0}
    cand: list[tuple[float, int]] = [(d0, 0)]
    w: list[tuple[float, int]] = [(-d0, 0)]
    while cand:
        d_c, c = heapq.heappop(cand)
        d_worst, p_worst = -w[0][0], -w[0][1]
        if len(w) >= ef and (d_c, c) > (d_worst, p_worst):
            break
        for nb in nbrs[c]:
            if nb in visited:
                continue
            visited.add(nb)
            d_nb = d(nb)
            if len(w) < ef:
                heapq.heappush(w, (-d_nb, -nb))
                heapq.heappush(cand, (d_nb, nb))
            else:
                d_worst, p_worst = -w[0][0], -w[0][1]
                if (d_nb, nb) < (d_worst, p_worst):
                    heapq.heapreplace(w, (-d_nb, -nb))
                    heapq.heappush(cand, (d_nb, nb))
    return sorted((-nd, -np_) for nd, np_ in w)


def nsw_build(V: np.ndarray, m: int = 8, ef_build: int = 24) -> list[list[int]]:
    """Build the deterministic NSW adjacency for unit-vector matrix V.

    Insert positions in order; each new node links to its m nearest
    beam results; undirected edges; degree capped at 2·m by keeping the
    nearest. Adjacency lists are returned (and maintained) sorted
    ascending — traversal order is part of the determinism spec.
    """
    n = len(V)
    m_max = 2 * m
    nbrs: list[list[int]] = [[] for _ in range(n)]
    for i in range(1, n):
        res = nsw_beam_search(V, nbrs, V[i], ef_build)
        chosen = [p for _, p in res[: min(m, len(res))]]
        for p in chosen:
            nbrs[i].append(p)
            nbrs[p].append(i)
            if len(nbrs[p]) > m_max:
                ds = sorted((-float(np.dot(V[p], V[x])), x) for x in nbrs[p])
                nbrs[p] = sorted(x for _, x in ds[:m_max])
            else:
                nbrs[p].sort()
        nbrs[i].sort()
    return nbrs


def _shard_candidates(
    qids: np.ndarray, qmat: np.ndarray, m: int, ef_build: int, ef_search: int
):
    """Make the applyInPandas shard worker: build the shard's NSW graph,
    beam-search every query, emit (query_id, neighbor_id) nominations."""

    def worker(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("neighbor_id").reset_index(drop=True)
        ids = pdf["neighbor_id"].to_numpy(dtype=np.int64)
        V = np.array([np.asarray(v, dtype=np.float64) for v in pdf["cv"]])
        if len(V) == 0:
            return pd.DataFrame({"query_id": [], "neighbor_id": []})
        V = V / np.linalg.norm(V, axis=1, keepdims=True)
        nbrs = nsw_build(V, m=m, ef_build=ef_build)
        out_q, out_n = [], []
        for qi in range(len(qids)):
            res = nsw_beam_search(V, nbrs, qmat[qi], ef_search)
            for _, p in res:
                out_q.append(int(qids[qi]))
                out_n.append(int(ids[p]))
        return pd.DataFrame(
            {
                "query_id": pd.Series(out_q, dtype="int64"),
                "neighbor_id": pd.Series(out_n, dtype="int64"),
            }
        )

    return worker


def _exact_rerank(cand: DataFrame, q_sel: DataFrame, c_sel: DataFrame, k: int) -> DataFrame:
    """The family tail: exact JVM rounded-cosine over the nomination
    union, top-k by (cos desc, id) — Python nominates, Catalyst scores."""
    cos = F.round(
        _dot(F.col("qv"), F.col("cv")) / (_norm(F.col("qv")) * _norm(F.col("cv"))), 6
    )
    scored = (
        cand.filter(F.col("query_id") != F.col("neighbor_id"))
        .join(F.broadcast(q_sel), "query_id")
        .join(c_sel.select("neighbor_id", "cv"), "neighbor_id")
        .select("query_id", "neighbor_id", cos.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


_CAND_SCHEMA = "query_id long, neighbor_id long"


def _empty_cand() -> pd.DataFrame:
    return pd.DataFrame(
        {
            "query_id": pd.Series([], dtype="int64"),
            "neighbor_id": pd.Series([], dtype="int64"),
        }
    )


def _routed_probe_cogroup(
    q_sel: DataFrame,
    qassign: DataFrame,
    src: DataFrame,
    prebuilt: bool,
    m: int,
    ef_build: int,
    ef_search: int,
) -> DataFrame:
    """Fully-distributed routed probe (zero driver staging): queries
    shuffle to their probe cells, and each (cell-queries, cell-graph)
    pair runs inside ONE ``cogroup().applyInPandas`` worker — the
    same per-row normalization and per-query beam as the wave path, so
    nominations are bit-identical; only the transport differs."""

    def worker(qpdf: pd.DataFrame, gpdf: pd.DataFrame) -> pd.DataFrame:
        if qpdf.empty or gpdf.empty:
            return _empty_cand()
        qpdf = qpdf.sort_values("query_id").reset_index(drop=True)
        qids = qpdf["query_id"].to_numpy(dtype=np.int64)
        qmat = np.array([np.asarray(v, dtype=np.float64) for v in qpdf["qv"]])
        qmat = qmat / np.linalg.norm(qmat, axis=1, keepdims=True)
        if prebuilt:
            gpdf = gpdf.sort_values("pos").reset_index(drop=True)
            ids = gpdf["vec_id"].to_numpy(dtype=np.int64)
            V = np.array([np.asarray(v, dtype=np.float64) for v in gpdf["cv"]])
            V = V / np.linalg.norm(V, axis=1, keepdims=True)
            nbrs = [list(map(int, x)) for x in gpdf["nbrs"]]
        else:
            gpdf = gpdf.sort_values("neighbor_id").reset_index(drop=True)
            ids = gpdf["neighbor_id"].to_numpy(dtype=np.int64)
            V = np.array([np.asarray(v, dtype=np.float64) for v in gpdf["cv"]])
            V = V / np.linalg.norm(V, axis=1, keepdims=True)
            nbrs = nsw_build(V, m=m, ef_build=ef_build)
        out_q, out_n = [], []
        for qi in range(len(qids)):
            for _, p in nsw_beam_search(V, nbrs, qmat[qi], ef_search):
                out_q.append(int(qids[qi]))
                out_n.append(int(ids[p]))
        return pd.DataFrame(
            {
                "query_id": pd.Series(out_q, dtype="int64"),
                "neighbor_id": pd.Series(out_n, dtype="int64"),
            }
        )

    q_cells = qassign.join(q_sel, "query_id").select("cell", "query_id", "qv")
    return (
        q_cells.groupBy("cell")
        .cogroup(src.groupBy("shard"))
        .applyInPandas(worker, _CAND_SCHEMA)
    )


def _routed_pq_probe_cogroup(
    q_sel: DataFrame,
    qassign: DataFrame,
    graph_df: DataFrame,
    books: np.ndarray,
    ef_search: int,
) -> DataFrame:
    """ADC twin of :func:`_routed_probe_cogroup`: per-query ADC tables
    are computed inside the worker from the closure's codebooks — same
    elementwise-mul + sum as the wave path, row-independent, so tables
    (and beams) are bit-identical."""
    S, C, ds = books.shape

    def worker(qpdf: pd.DataFrame, gpdf: pd.DataFrame) -> pd.DataFrame:
        if qpdf.empty or gpdf.empty:
            return _empty_cand()
        qpdf = qpdf.sort_values("query_id").reset_index(drop=True)
        qids = qpdf["query_id"].to_numpy(dtype=np.int64)
        qmat = np.array([np.asarray(v, dtype=np.float64) for v in qpdf["qv"]])
        qmat = qmat / np.linalg.norm(qmat, axis=1, keepdims=True)
        qsub = qmat.reshape(qmat.shape[0], S, ds)
        tables = (books[None, :, :, :] * qsub[:, :, None, :]).sum(-1)
        gpdf = gpdf.sort_values("pos").reset_index(drop=True)
        ids = gpdf["vec_id"].to_numpy(dtype=np.int64)
        codes = np.array([np.asarray(c, dtype=np.int64) for c in gpdf["codes"]])
        nbrs = [list(map(int, x)) for x in gpdf["nbrs"]]
        out_q, out_n = [], []
        for qi in range(len(qids)):
            for _, p in nsw_beam_search_adc(codes, nbrs, tables[qi], ef_search):
                out_q.append(int(qids[qi]))
                out_n.append(int(ids[p]))
        return pd.DataFrame(
            {
                "query_id": pd.Series(out_q, dtype="int64"),
                "neighbor_id": pd.Series(out_n, dtype="int64"),
            }
        )

    q_cells = qassign.join(q_sel, "query_id").select("cell", "query_id", "qv")
    return (
        q_cells.groupBy("cell")
        .cogroup(graph_df.groupBy("shard"))
        .applyInPandas(worker, _CAND_SCHEMA)
    )


def nsw_routed_ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_cells: int = 8,
    n_probe: int = 2,
    m: int = 8,
    ef_build: int = 24,
    ef_search: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index: tuple[DataFrame, DataFrame, dict] | None = None,
    spill_eps: float = 0.0,
    probe_mode: str = "waves",
) -> DataFrame:
    """IVF-ROUTED sharded NSW — the candidate cut composed with the
    graph cut: shards are the coarse quantizer's cells (deterministic
    lowest-id centroids, the IVF family's assignment — identical
    fold-order math), and each query beam-searches ONLY its ``n_probe``
    nearest cells' graphs instead of every shard. At 10¹¹ vectors this
    is the production topology: S = corpus/shard_budget cell-shards,
    per-query work = n_probe beams — independent of S — so adding
    corpus adds shards without adding per-query cost (the plain
    ``nsw_ann_topk`` fan-out grows with S; this one doesn't). Recall is
    bounded by cell recall exactly like IVF, recovered with n_probe —
    or, at a FIXED probe budget, with ``spill_eps`` (SPANN closure
    assignment, ``similarity.ivf_assign_spill``): boundary vectors join
    every cell within (1+eps) of their nearest, so cell-boundary
    neighbors stop costing recall for the price of a bounded state
    blow-up (the spill factor — measured by the bench each round).
    Same contract as the family: graphs nominate, exact JVM cosine
    scores; golden-pinned by the independent numpy mirror. A prebuilt
    ``index`` carries its own spill factor in its params (the graphs were
    built over the spilled membership); ``spill_eps`` here only affects
    the inline build.

    ``probe_mode``: ``"waves"`` stages query batches on the driver in
    bounded hash chunks (the family's documented contract — fine while
    queries ≪ corpus); ``"cogroup"`` is the FULLY-DISTRIBUTED probe —
    queries shuffle to their probe cells and each (cell-queries,
    cell-graph) pair beams inside one ``cogroup().applyInPandas``
    worker, zero ``collect()`` anywhere in the probe path, so millions
    of streamed queries never serialize through the driver. Nomination
    sets are bit-identical (same per-row normalization, same per-query
    beam): tests pin parity."""
    from .similarity import ivf_assign, ivf_assign_spill, ivf_centroids

    q_sel = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )
    c_sel = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    )
    if index is not None:
        # prebuilt routed index (save_nsw_routed_index): centroids route
        # the queries, per-cell graphs were built at save time
        cent, graph_df, _params = index
        sharded = None
        spilled = float(_params.get("spill_eps", 0.0)) > 0.0
    else:
        cent = ivf_centroids(corpus, n_cells, id_col, vec_col)
        if spill_eps > 0.0:
            cassign = ivf_assign_spill(
                c_sel, cent, spill_eps, "neighbor_id", "cv"
            ).select("neighbor_id", "cell")
        else:
            cassign = ivf_assign(c_sel, cent, 1, "neighbor_id", "cv").select(
                "neighbor_id", "cell"
            )
        sharded = c_sel.join(cassign, "neighbor_id").withColumnRenamed(
            "cell", "shard"
        )
        spilled = spill_eps > 0.0
    qassign = ivf_assign(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")),
        cent,
        n_probe,
        "query_id",
        "qv",
    ).select("query_id", "cell")

    if probe_mode == "cogroup":
        src = graph_df if index is not None else sharded
        cand = _routed_probe_cogroup(
            q_sel, qassign, src,
            prebuilt=index is not None, m=m, ef_build=ef_build,
            ef_search=ef_search,
        )
        if spilled:
            cand = cand.distinct()
        return _exact_rerank(cand, q_sel, c_sel, k)

    # limit-probe instead of a count job: the common queries ≪ corpus
    # call collects its single wave directly (one driver job instead of
    # count + collect — measured ~0.2 s per declared-query call)
    q_head = q_sel.limit(QUERY_BATCH_LIMIT + 1).collect()
    if len(q_head) <= QUERY_BATCH_LIMIT:
        n_chunks = 1
    else:
        n_q = q_sel.count()
        n_chunks = max(1, -(-n_q // QUERY_BATCH_LIMIT))
    chunk_expr = F.pmod(F.xxhash64(F.col("query_id")), F.lit(n_chunks))
    cand_parts = []
    for ci in range(n_chunks):
        qc = q_sel if n_chunks == 1 else q_sel.filter(chunk_expr == ci)
        rows = q_head if n_chunks == 1 else qc.collect()
        if not rows:
            continue
        rows.sort(key=lambda r: r["query_id"])
        qids = np.array([r["query_id"] for r in rows], dtype=np.int64)
        qmat = np.array([r["qv"] for r in rows], dtype=np.float64)
        qmat = qmat / np.linalg.norm(qmat, axis=1, keepdims=True)
        qidx = {int(q): i for i, q in enumerate(qids)}
        qa = qassign if n_chunks == 1 else qassign.filter(chunk_expr == ci)
        probes: dict[int, list[int]] = {}
        for r in qa.collect():
            probes.setdefault(int(r["cell"]), []).append(qidx[int(r["query_id"])])

        def make_worker(probes=probes, qids=qids, qmat=qmat, prebuilt=(index is not None)):
            def worker(pdf: pd.DataFrame) -> pd.DataFrame:
                cell = int(pdf["shard"].iloc[0])
                probing = sorted(probes.get(cell, []))
                if not probing:
                    return pd.DataFrame(
                        {
                            "query_id": pd.Series([], dtype="int64"),
                            "neighbor_id": pd.Series([], dtype="int64"),
                        }
                    )
                if prebuilt:
                    pdf = pdf.sort_values("pos").reset_index(drop=True)
                    ids = pdf["vec_id"].to_numpy(dtype=np.int64)
                    V = np.array(
                        [np.asarray(v, dtype=np.float64) for v in pdf["cv"]]
                    )
                    V = V / np.linalg.norm(V, axis=1, keepdims=True)
                    nbrs = [list(map(int, x)) for x in pdf["nbrs"]]
                else:
                    pdf = pdf.sort_values("neighbor_id").reset_index(drop=True)
                    ids = pdf["neighbor_id"].to_numpy(dtype=np.int64)
                    V = np.array(
                        [np.asarray(v, dtype=np.float64) for v in pdf["cv"]]
                    )
                    V = V / np.linalg.norm(V, axis=1, keepdims=True)
                    nbrs = nsw_build(V, m=m, ef_build=ef_build)
                out_q, out_n = [], []
                for qi in probing:
                    for _, p in nsw_beam_search(V, nbrs, qmat[qi], ef_search):
                        out_q.append(int(qids[qi]))
                        out_n.append(int(ids[p]))
                return pd.DataFrame(
                    {
                        "query_id": pd.Series(out_q, dtype="int64"),
                        "neighbor_id": pd.Series(out_n, dtype="int64"),
                    }
                )

            return worker

        src = graph_df if index is not None else sharded
        cand_parts.append(
            src.groupBy("shard").applyInPandas(
                make_worker(), "query_id long, neighbor_id long"
            )
        )
    cand = cand_parts[0]
    for extra in cand_parts[1:]:
        cand = cand.unionByName(extra)
    if spilled:
        # closure assignment puts boundary vectors in several probed
        # cells — collapse duplicate nominations before the rank window
        # (a duplicate surviving to row_number would occupy two ranks)
        cand = cand.distinct()
    return _exact_rerank(cand, q_sel, c_sel, k)


def _graph_schema(books: np.ndarray | None) -> str:
    payload = "cv array<double>" if books is None else "codes array<int>"
    return f"shard long, pos long, vec_id long, {payload}, nbrs array<long>"


def _pq_codes(U: np.ndarray, books: np.ndarray) -> np.ndarray:
    """(n, S) nearest sub-centroid ids of unit vectors ``U``; ties → the
    lowest centroid id."""
    S, _C, ds = books.shape
    sub = U.reshape(U.shape[0], S, ds)
    return ((sub[:, :, None, :] - books[None, :, :, :]) ** 2).sum(-1).argmin(-1)


def _shard_rows(shard: int, ids, U, cvs, nbrs, books) -> pd.DataFrame:
    """One shard's graph rows: raw vectors, or PQ codes when ``books``."""
    out = {
        "shard": np.full(len(ids), shard, dtype=np.int64),
        "pos": np.arange(len(ids), dtype=np.int64),
        "vec_id": np.asarray(ids, dtype=np.int64),
    }
    if books is None:
        out["cv"] = cvs
    else:
        out["codes"] = [list(map(int, c)) for c in _pq_codes(U, books)]
    out["nbrs"] = [list(map(int, x)) for x in nbrs]
    return pd.DataFrame(out)


def _build_shards(
    sharded: DataFrame, m: int, ef_build: int, books: np.ndarray | None = None
) -> DataFrame:
    """One NSW graph per shard of (shard, vec_id, cv) rows, built at
    full precision inside one ``applyInPandas`` group each: nodes take
    positions in ascending id order (the determinism spec), ``nbrs``
    holds shard-local positions, and the payload is the raw vector or —
    with ``books`` — its PQ codes."""

    def worker(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        V = np.array([np.asarray(v, dtype=np.float64) for v in pdf["cv"]])
        U = V / np.linalg.norm(V, axis=1, keepdims=True)
        nbrs = nsw_build(U, m=m, ef_build=ef_build)
        return _shard_rows(
            int(pdf["shard"].iloc[0]), pdf["vec_id"], U, pdf["cv"], nbrs, books
        )

    return sharded.groupBy("shard").applyInPandas(worker, _graph_schema(books))


def build_nsw_index(
    corpus: DataFrame,
    n_shards: int = 4,
    m: int = 8,
    ef_build: int = 24,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Materialize the per-shard NSW adjacency as a DataFrame:
    (shard, pos, vec_id, cv, nbrs) where ``pos`` is the node's insertion
    position (ascending vec_id within the shard — the determinism spec)
    and ``nbrs`` holds shard-local neighbor positions. One
    ``applyInPandas`` group per shard, exactly the inline build's
    worker, so probing a saved index is bit-identical to the inline
    path."""
    c_sel = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    ).withColumn("shard", F.col("vec_id") % F.lit(n_shards))
    return _build_shards(c_sel, m, ef_build)


def _cell_shards(
    vectors: DataFrame, cent: DataFrame, spill_eps: float, id_col: str, vec_col: str
) -> DataFrame:
    """(vec_id, cv, shard) rows: each vector in its nearest cell, or in
    every cell within (1+spill_eps) of it (SPANN closure assignment)."""
    from .similarity import ivf_assign, ivf_assign_spill

    sel = vectors.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    )
    assign = (
        ivf_assign_spill(sel, cent, spill_eps, "vec_id", "cv")
        if spill_eps > 0.0
        else ivf_assign(sel, cent, 1, "vec_id", "cv")
    )
    return sel.join(assign.select("vec_id", "cell"), "vec_id").withColumnRenamed(
        "cell", "shard"
    )


def save_nsw_routed_index(
    corpus: DataFrame,
    path: str,
    n_cells: int = 8,
    m: int = 8,
    ef_build: int = 24,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    spill_eps: float = 0.0,
) -> None:
    """Build + persist the IVF-ROUTED NSW index: the coarse centroids
    (for query routing at probe time) plus one NSW graph per CELL, as
    shard-partitioned parquet — the mkdb-offline frame for
    :func:`nsw_routed_ann_topk`. Probing a saved routed index is
    bit-identical to the inline routed build (same deterministic cell
    assignment, same per-cell insertion order). ``spill_eps`` builds the
    cell graphs over the SPANN closure assignment (boundary vectors join
    every cell within (1+eps) of their nearest) and is persisted in the
    manifest so the probe knows to collapse duplicate nominations."""
    from .similarity import ivf_centroids

    cent = ivf_centroids(corpus, n_cells, id_col, vec_col)
    sharded = _cell_shards(corpus, cent, spill_eps, id_col, vec_col)
    index_store.commit(
        path,
        "nsw_routed",
        {"n_cells": int(n_cells), "m": m, "ef_build": ef_build,
         "spill_eps": float(spill_eps)},
        {
            "graph": _build_shards(sharded, m, ef_build),
            "centroids": cent.coalesce(1),
        },
    )


def load_nsw_routed_index(spark, path: str) -> tuple[DataFrame, DataFrame, dict]:
    """→ (centroids, graph, params) for ``nsw_routed_ann_topk(index=…)``."""
    idx = index_store.load(spark, path, "nsw_routed")
    return idx.frame("centroids"), idx.frame("graph"), dict(idx.params)


def _unit_pq_codebooks(
    corpus: DataFrame,
    n_subspaces: int,
    n_centroids: int,
    id_col: str,
    vec_col: str,
    train_sample: int = 2048,
) -> np.ndarray:
    """PQ codebooks trained on UNIT-normalized vectors — the coding space
    of the graph beams (NSW distances are dots of unit vectors, so the
    ADC approximation must quantize the same space). Normalization
    happens DRIVER-SIDE in numpy (``np.linalg.norm``) so the codebooks,
    the per-cell encode and the independent golden mirror share one IEEE
    op sequence end to end. Bounded driver sample, same contract as
    ``similarity.pq_codebooks``."""
    from .similarity import _pq_lloyd

    rows = (
        corpus.filter(F.col(id_col) < train_sample)
        .orderBy(id_col)
        .select(F.col(vec_col).cast("array<double>").alias("v"))
        .collect()
    )
    mat = np.array([r["v"] for r in rows], dtype=np.float64)
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    return _pq_lloyd(mat, n_subspaces, n_centroids, 8)


def save_nsw_routed_pq_index(
    corpus: DataFrame,
    path: str,
    n_cells: int = 8,
    m: int = 8,
    ef_build: int = 24,
    n_subspaces: int = 8,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    spill_eps: float = 0.0,
) -> None:
    """Build + persist the PQ-COMPRESSED routed NSW index — the DiskANN
    composition (Subramanya et al. 2019): the graph is built OFFLINE at
    full precision (build quality costs nothing at probe time), but the
    persisted cell shards store each node as (8-byte PQ codes, adjacency)
    instead of raw float64 vectors — at 10¹¹ vectors the vector payload,
    not the adjacency, dominates shard memory, and the codes cut it ~64×
    (64 dims × 8 B → S bytes). Probes beam with ADC over the codes and
    exact-rerank survivors from the RAW corpus table (which lives in the
    lake anyway), so compression costs candidate QUALITY only — recall is
    recovered by ef_search, never wrong answers. Codebooks train on unit
    vectors (the beams' coding space) and persist beside the graph;
    ``spill_eps`` composes the SPANN closure assignment."""
    from .similarity import ivf_centroids

    cent = ivf_centroids(corpus, n_cells, id_col, vec_col)
    books = _unit_pq_codebooks(corpus, n_subspaces, n_centroids, id_col, vec_col)
    sharded = _cell_shards(corpus, cent, spill_eps, id_col, vec_col)
    index_store.commit(
        path,
        "nsw_routed_pq",
        {"n_cells": int(n_cells), "m": m, "ef_build": ef_build,
         "n_subspaces": n_subspaces, "n_centroids": n_centroids,
         "spill_eps": float(spill_eps)},
        {
            "graph": _build_shards(sharded, m, ef_build, books),
            "centroids": cent.coalesce(1),
            "codebooks": books,
        },
    )


def load_nsw_routed_pq_index(
    spark, path: str
) -> tuple[DataFrame, DataFrame, np.ndarray, dict]:
    """→ (centroids, graph, codebooks, params) for
    ``nsw_routed_pq_ann_topk``. Centroids and codebooks are frozen after
    the save (upserts write only graph shards), so after an upsert their
    reads stay memo hits in ``index_store``."""
    idx = index_store.load(spark, path, "nsw_routed_pq")
    return (
        idx.frame("centroids"),
        idx.frame("graph"),
        idx.array("codebooks"),
        dict(idx.params),
    )


def nsw_routed_pq_ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    index: tuple[DataFrame, DataFrame, np.ndarray, dict],
    k: int = 5,
    n_probe: int = 2,
    ef_search: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_mode: str = "waves",
) -> DataFrame:
    """Probe a :func:`save_nsw_routed_pq_index` index: queries route to
    their ``n_probe`` nearest cells (the routed family's assignment),
    each probed cell beams with ADC over its nodes' PQ CODES
    (:func:`nsw_beam_search_adc` — the shard holds no raw vectors), and
    the nomination union exact-reranks against the raw corpus table.
    Per-query cost: n_probe beams over 8-byte codes + refine-sized exact
    cosine — the memory-bound rung of the routed ladder. Wave-chunked
    above QUERY_BATCH_LIMIT like the whole family; ``probe_mode=
    "cogroup"`` runs the fully-distributed probe instead (zero driver
    collect — see nsw_routed_ann_topk)."""
    from .similarity import ivf_assign

    cent, graph_df, books, params = index
    spilled = params.get("spill_eps", 0.0) > 0.0
    S, C, ds = books.shape
    q_sel = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )
    c_sel = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    )
    qassign = ivf_assign(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")),
        cent,
        n_probe,
        "query_id",
        "qv",
    ).select("query_id", "cell")
    if probe_mode == "cogroup":
        cand = _routed_pq_probe_cogroup(
            q_sel, qassign, graph_df, books, ef_search
        )
        if spilled:
            cand = cand.distinct()
        return _exact_rerank(cand, q_sel, c_sel, k)
    # limit-probe instead of a count job: the common queries ≪ corpus
    # call collects its single wave directly (one driver job instead of
    # count + collect — measured ~0.2 s per declared-query call)
    q_head = q_sel.limit(QUERY_BATCH_LIMIT + 1).collect()
    if len(q_head) <= QUERY_BATCH_LIMIT:
        n_chunks = 1
    else:
        n_q = q_sel.count()
        n_chunks = max(1, -(-n_q // QUERY_BATCH_LIMIT))
    chunk_expr = F.pmod(F.xxhash64(F.col("query_id")), F.lit(n_chunks))
    cand_parts = []
    for ci in range(n_chunks):
        qc = q_sel if n_chunks == 1 else q_sel.filter(chunk_expr == ci)
        rows = q_head if n_chunks == 1 else qc.collect()
        if not rows:
            continue
        rows.sort(key=lambda r: r["query_id"])
        qids = np.array([r["query_id"] for r in rows], dtype=np.int64)
        qmat = np.array([r["qv"] for r in rows], dtype=np.float64)
        qmat = qmat / np.linalg.norm(qmat, axis=1, keepdims=True)
        # per-query ADC tables against the unit-space codebooks:
        # tab[q, s, c] = dot(q_s, books[s, c]) — elementwise-mul + sum,
        # the exact op the golden mirror uses
        qsub = qmat.reshape(qmat.shape[0], S, ds)
        tables = (books[None, :, :, :] * qsub[:, :, None, :]).sum(-1)
        qidx = {int(q): i for i, q in enumerate(qids)}
        qa = qassign if n_chunks == 1 else qassign.filter(chunk_expr == ci)
        probes: dict[int, list[int]] = {}
        for r in qa.collect():
            probes.setdefault(int(r["cell"]), []).append(qidx[int(r["query_id"])])

        def make_worker(probes=probes, qids=qids, tables=tables):
            def worker(pdf: pd.DataFrame) -> pd.DataFrame:
                cell = int(pdf["shard"].iloc[0])
                probing = sorted(probes.get(cell, []))
                if not probing:
                    return pd.DataFrame(
                        {
                            "query_id": pd.Series([], dtype="int64"),
                            "neighbor_id": pd.Series([], dtype="int64"),
                        }
                    )
                pdf = pdf.sort_values("pos").reset_index(drop=True)
                ids = pdf["vec_id"].to_numpy(dtype=np.int64)
                codes = np.array(
                    [np.asarray(c, dtype=np.int64) for c in pdf["codes"]]
                )
                nbrs = [list(map(int, x)) for x in pdf["nbrs"]]
                out_q, out_n = [], []
                for qi in probing:
                    for _, p in nsw_beam_search_adc(
                        codes, nbrs, tables[qi], ef_search
                    ):
                        out_q.append(int(qids[qi]))
                        out_n.append(int(ids[p]))
                return pd.DataFrame(
                    {
                        "query_id": pd.Series(out_q, dtype="int64"),
                        "neighbor_id": pd.Series(out_n, dtype="int64"),
                    }
                )

            return worker

        cand_parts.append(
            graph_df.groupBy("shard").applyInPandas(
                make_worker(), "query_id long, neighbor_id long"
            )
        )
    if not cand_parts:
        from ..session import local_rows_df as _ldf

        return _ldf(
            queries.sparkSession,
            [],
            "query_id long, neighbor_id long, rank int, cosine double",
        )
    cand = cand_parts[0]
    for extra in cand_parts[1:]:
        cand = cand.unionByName(extra)
    if spilled:
        cand = cand.distinct()
    return _exact_rerank(cand, q_sel, c_sel, k)


def save_nsw_index(
    corpus: DataFrame,
    path: str,
    n_shards: int = 4,
    m: int = 8,
    ef_build: int = 24,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Build + persist the sharded NSW graph (parquet partitioned by
    shard, parameters in the manifest) — the mkdb-offline frame every
    other index family here has: the build is paid once, probes pay only
    the beam search. An upsert rewrites only the shards it touches, never
    the index."""
    index_store.commit(
        path,
        "nsw",
        {"n_shards": n_shards, "m": m, "ef_build": ef_build},
        {"graph": build_nsw_index(corpus, n_shards, m, ef_build, id_col, vec_col)},
    )


def load_nsw_index(spark, path: str) -> tuple[DataFrame, dict]:
    """→ (graph DataFrame, params) for ``nsw_ann_topk(index=…)``."""
    idx = index_store.load(spark, path, "nsw")
    return idx.frame("graph"), dict(idx.params)


def _rewrite_touched_shards(idx, graph, add, raw=None, books=None) -> None:
    """The upsert family's write path: every shard ``add`` (shard,
    vec_id, cv) touches CONTINUES its insertion sequence, and the rebuilt
    shards are committed as a new index generation — written beside the
    graph they were read from, never over it. ``raw`` (vec_id, cv)
    recovers full-precision vectors for code-only shards (``books``)."""
    touched = [r["shard"] for r in add.select("shard").distinct().collect()]
    if not touched:
        return
    m, ef_build = idx.params["m"], idx.params["ef_build"]
    old = graph.filter(F.col("shard").isin(touched))
    if raw is not None:
        # a LEFT join: an indexed node missing from the corpus arrives
        # with a null cv and fails the worker's guard below
        old = old.drop("codes").join(raw, "vec_id", "left")
    merged = old.select("shard", "pos", "vec_id", "cv", "nbrs").unionByName(
        add.select(
            "shard",
            F.lit(None).cast("long").alias("pos"),
            "vec_id",
            "cv",
            F.lit(None).cast("array<long>").alias("nbrs"),
        )
    )

    def worker(pdf: pd.DataFrame) -> pd.DataFrame:
        missing = sorted(
            int(v) for v in pdf.loc[pdf["pos"].notna() & pdf["cv"].isna(), "vec_id"].head(5)
        )
        if missing:
            raise ValueError(
                f"corpus is missing raw vectors for indexed vec_ids "
                f"{missing} (touched shards must recover EVERY indexed "
                "node's full-precision vector to continue insertion; "
                "pass the same lake table the index was built from)"
            )
        ids, U, cvs, nbrs = _continue_insertion(pdf, m, ef_build)
        return _shard_rows(int(pdf["shard"].iloc[0]), ids, U, cvs, nbrs, books)

    rebuilt = merged.groupBy("shard").applyInPandas(worker, _graph_schema(books))
    index_store.commit(idx.path, idx.family, idx.params, {"graph": rebuilt}, base=idx)


def upsert_nsw_index(
    new: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append new vectors to a saved NSW index by CONTINUING each
    shard's deterministic insertion sequence (new nodes take positions
    after the existing ones, ascending id; the degree-cap prune may
    rewire existing nodes, so touched shards are rewritten as a new
    index generation).

    Append-only id discipline ⇒ exact rebuild equivalence: if every new
    id is greater than every indexed id, the continued insertion order
    IS the full rebuild's order, so the upserted graph is bit-identical
    to ``save_nsw_index`` over the union (tested). Interleaved ids still
    yield a valid NSW graph — insertion order is part of the graph's
    identity, as in every incremental HNSW deployment — but not the
    rebuild's; keep ingest batches id-monotone if you need replayable
    parity."""
    idx = index_store.load(new.sparkSession, path, "nsw")
    add = new.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    ).withColumn("shard", F.col("vec_id") % F.lit(idx.params["n_shards"]))
    _rewrite_touched_shards(idx, idx.frame("graph"), add)


def _continue_insertion(pdf: pd.DataFrame, m: int, ef_build: int):
    """Shared continue-the-sequence kernel for the upsert family: rows
    with a pos are the existing graph (sorted by pos), null-pos rows are
    fresh (sorted ascending vec_id, appended after). → (ids, U, nbrs).
    A previously-empty shard seeds exactly like nsw_build (first node
    gets no edges — the r9 self-loop fix)."""
    has_pos = pdf[pdf["pos"].notna()].sort_values("pos")
    fresh = pdf[pdf["pos"].isna()].sort_values("vec_id")
    ordered = pd.concat([has_pos, fresh])
    V = np.array([np.asarray(v, dtype=np.float64) for v in ordered["cv"]])
    U = V / np.linalg.norm(V, axis=1, keepdims=True)
    nbrs = [list(map(int, x)) for x in has_pos["nbrs"]]
    n_old = len(nbrs)
    nbrs += [[] for _ in range(len(fresh))]
    m_max = 2 * m
    for i in range(max(n_old, 1), len(U)):
        res = nsw_beam_search(U, nbrs, U[i], ef_build)
        chosen = [p for _, p in res[: min(m, len(res))]]
        for p in chosen:
            nbrs[i].append(p)
            nbrs[p].append(i)
            if len(nbrs[p]) > m_max:
                ds = sorted((-float(np.dot(U[p], U[x])), x) for x in nbrs[p])
                nbrs[p] = sorted(x for _, x in ds[:m_max])
            else:
                nbrs[p].sort()
        nbrs[i].sort()
    ids = ordered["vec_id"].to_numpy(dtype=np.int64)
    return ids, U, list(ordered["cv"]), nbrs


def _upsert_routed(new, path, family, id_col, vec_col, corpus=None) -> None:
    """Shared body of the routed upserts: assign against the PERSISTED
    centroids (spill-aware — the index's own spill_eps rides its
    manifest), drop the (shard, vec_id) pairs the graph already holds,
    continue the touched cells."""
    idx = index_store.load(new.sparkSession, path, family)
    graph = idx.frame("graph")
    add = _cell_shards(
        new, idx.frame("centroids"), idx.params["spill_eps"], id_col, vec_col
    )
    # REPLAY-IDEMPOTENT: assignment is deterministic against frozen
    # centroids, so a retried upsert (a crashed streaming batch, a
    # double-scheduled job) re-derives the same pairs and every
    # already-written shard drops out of `touched` instead of receiving
    # duplicate nodes; a second full replay is a no-op. Persisted: feeds
    # both the touched-shard collect and the rebuild plan — one
    # assignment-UDF pass instead of one per action.
    add = add.join(
        graph.select("shard", "vec_id"), ["shard", "vec_id"], "left_anti"
    ).persist()
    try:
        if corpus is None:
            _rewrite_touched_shards(idx, graph, add)
            return
        raw = corpus.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).cast("array<double>").alias("cv"),
        )
        try:
            _rewrite_touched_shards(idx, graph, add, raw, idx.array("codebooks"))
        except Exception as exc:
            # surface the worker-side guard as the API's documented
            # ValueError (the failed commit left the index untouched)
            msg = str(exc)
            tag = "corpus is missing raw vectors"
            if tag in msg:
                raise ValueError(msg[msg.index(tag):].split("\n")[0]) from exc
            raise
    finally:
        add.unpersist()


def upsert_nsw_routed_index(
    new: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append new vectors to a saved ROUTED index: assignment against the
    PERSISTED centroids (spill-aware — the index's own spill_eps rides
    its manifest), then each touched cell CONTINUES its deterministic
    insertion sequence; only touched cells are rewritten, as a new index
    generation.

    Rebuild equivalence: ``ivf_centroids`` is the deterministic
    lowest-id rule, so if every new id is GREATER than every indexed id a
    full ``save_nsw_routed_index`` over the union picks the SAME
    centroids, the same cell membership, and the same per-cell insertion
    order — the upserted index is bit-identical to the rebuild (tested).
    Interleaved ids still yield a valid index against the frozen
    centroids; keep ingest id-monotone for replayable parity.

    REPLAY-IDEMPOTENT: (shard, vec_id) pairs already present are dropped
    before insertion, so retrying the same upsert (a crashed streaming
    batch, a double-scheduled job) converges to the once-applied index
    instead of duplicating nodes — the contract the streaming
    index-maintenance loop relies on."""
    _upsert_routed(new, path, "nsw_routed", id_col, vec_col)


def upsert_nsw_routed_pq_index(
    new: DataFrame,
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append new vectors to a saved routed-PQ index — DiskANN-style
    maintenance: the shards hold only codes + adjacency, so the touched
    cells' RAW vectors are recovered from ``corpus`` (the lake-resident
    table the exact re-rank already reads; it must contain the indexed
    vectors), insertion continues at FULL precision, and every node
    re-encodes against the FROZEN persisted codebooks (deterministic
    encode ⇒ old nodes' codes are reproduced bit-for-bit; new codes use
    the frozen books — the add-vs-retrain contract of ``upsert_pq_index``:
    codes stay cell-independent and valid, retraining is an explicit
    rebuild). With id-monotone ingest above the codebook train-sample
    window the upserted index equals a full rebuild over the union
    bit-for-bit (same centroids, same train slice, same insertion order —
    tested); below it, rebuild would retrain the books, which is exactly
    the retrain decision this function refuses to make silently.
    Replay-idempotent like :func:`upsert_nsw_routed_index` — retried
    upserts drop their already-indexed (shard, vec_id) pairs. A corpus
    missing an indexed vector raises ``ValueError`` (an inner join would
    silently drop those nodes and leave neighbor positions pointing at
    the wrong nodes) and the index stays as it was."""
    _upsert_routed(new, path, "nsw_routed_pq", id_col, vec_col, corpus)


def _shard_index_search(qids: np.ndarray, qmat: np.ndarray, ef_search: int):
    """Search worker over PREBUILT graph rows (pos/cv/nbrs) — identical
    beam to the inline path; the graph build was paid at save time."""

    def worker(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("pos").reset_index(drop=True)
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        V = np.array([np.asarray(v, dtype=np.float64) for v in pdf["cv"]])
        if len(V) == 0:
            return pd.DataFrame({"query_id": [], "neighbor_id": []})
        V = V / np.linalg.norm(V, axis=1, keepdims=True)
        nbrs = [list(map(int, x)) for x in pdf["nbrs"]]
        out_q, out_n = [], []
        for qi in range(len(qids)):
            res = nsw_beam_search(V, nbrs, qmat[qi], ef_search)
            for _, p in res:
                out_q.append(int(qids[qi]))
                out_n.append(int(ids[p]))
        return pd.DataFrame(
            {
                "query_id": pd.Series(out_q, dtype="int64"),
                "neighbor_id": pd.Series(out_n, dtype="int64"),
            }
        )

    return worker


def nsw_ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_shards: int = 4,
    m: int = 8,
    ef_build: int = 24,
    ef_search: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index: tuple[DataFrame, dict] | None = None,
) -> DataFrame:
    """Sharded-NSW graph ANN top-k (see module docstring for the spec
    and the 100 TB sharding story).

    The Python graph only NOMINATES candidates (≤ n_shards·ef_search
    per query); the returned ranking is exact JVM-side cosine over the
    nomination union with the family's rounded-cosine + id tiebreaks —
    so recall is the only approximation, never the scores. Query
    batches above QUERY_BATCH_LIMIT run in hash-chunked waves.
    ``index=(graph_df, params)`` from :func:`load_nsw_index` skips the
    per-call graph build (the mkdb-offline frame) — probing a saved
    index is bit-identical to the inline path over the same corpus.
    """
    q_sel = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )
    c_sel = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    ).withColumn("shard", F.col("neighbor_id") % F.lit(n_shards))

    # limit-probe instead of a count job: the common queries ≪ corpus
    # call collects its single wave directly (one driver job instead of
    # count + collect — measured ~0.2 s per declared-query call)
    q_head = q_sel.limit(QUERY_BATCH_LIMIT + 1).collect()
    if len(q_head) <= QUERY_BATCH_LIMIT:
        n_chunks = 1
    else:
        n_q = q_sel.count()
        n_chunks = max(1, -(-n_q // QUERY_BATCH_LIMIT))
    chunk_expr = F.pmod(F.xxhash64(F.col("query_id")), F.lit(n_chunks))
    cand_parts = []
    for ci in range(n_chunks):
        qc = q_sel if n_chunks == 1 else q_sel.filter(chunk_expr == ci)
        rows = q_head if n_chunks == 1 else qc.collect()
        if not rows:
            continue
        rows.sort(key=lambda r: r["query_id"])
        qids = np.array([r["query_id"] for r in rows], dtype=np.int64)
        qmat = np.array([r["qv"] for r in rows], dtype=np.float64)
        qmat = qmat / np.linalg.norm(qmat, axis=1, keepdims=True)
        if index is not None:
            graph_df, _params = index
            cand_parts.append(
                graph_df.groupBy("shard").applyInPandas(
                    _shard_index_search(qids, qmat, ef_search),
                    "query_id long, neighbor_id long",
                )
            )
        else:
            cand_parts.append(
                c_sel.groupBy("shard").applyInPandas(
                    _shard_candidates(qids, qmat, m, ef_build, ef_search),
                    "query_id long, neighbor_id long",
                )
            )
    cand = cand_parts[0]
    for extra in cand_parts[1:]:
        cand = cand.unionByName(extra)

    cos = F.round(
        _dot(F.col("qv"), F.col("cv")) / (_norm(F.col("qv")) * _norm(F.col("cv"))), 6
    )
    scored = (
        cand.filter(F.col("query_id") != F.col("neighbor_id"))
        .join(F.broadcast(q_sel), "query_id")
        .join(c_sel.select("neighbor_id", "cv"), "neighbor_id")
        .select("query_id", "neighbor_id", cos.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )
