"""query_mix: closed loop, one declared query at a time.

A fixed list of declared queries (``queries.QUERIES``) at sf0.1, each with a
DuckDB SQL oracle that is valid at that scale. It mixes work-bound
relational shapes with machinery shapes whose driver-side construction,
planning and job count dominate. The seed only permutes the order of the
mix; the tables are the repository's fixed sf0.1 test data
(``tables.DEFAULT_SF_DIR``, overridable with SPARK_GRAFT_SF_DIR).

Every query is checked against its oracle with ``tests/oracle.compare``.
A mismatch is a failed operation and is reported, never skipped.
"""

from __future__ import annotations

import os
import random
import sys
import time

from harness import noop
from stats import median

MIX = (
    # work-bound relational shapes
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q18_large_volume_orders",
    "j2_scoped_dedup",
    "j8_dim_join_revenue",
    "j10_range_join_attribution",
    "a3_group_stats",
    # machinery shapes: driver construction, planning and job count
    "graph_connected_components",
    "stream_interval_join",
    "stream_topk_per_key",
    "dedup_minhash_lsh",
    "ann_sq8_topk",
)


def run(r) -> None:
    spark = r.start_session()
    from bensp_suite_spark import queries as Q
    from bensp_suite_spark.tables import DEFAULT_SF_DIR as sf_dir

    sys.path.insert(0, os.path.join(r.root, "tests"))
    from oracle import compare

    order = list(MIX)
    random.Random(r.seed).shuffle(order)

    def one(name: str, rec: dict | None = None) -> float:
        """Construct, plan and execute one query: wall seconds."""
        t0 = time.perf_counter()
        df = Q.QUERIES[name](spark, sf_dir)
        t1 = time.perf_counter()
        df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        noop(df)
        t3 = time.perf_counter()
        if rec is not None:
            rec.update(construct=t1 - t0, plan=t2 - t1, execute=t3 - t2)
        return t3 - t0

    for name in order:  # warm-up pass: caches, JIT and first-time index builds
        r.ops.run(f"warm:{name}", lambda n=name: one(n))
    r.metric("setup_s", r.elapsed(), "s")
    r.log("warm-up pass done")

    per_query: dict[str, list[float]] = {n: [] for n in order}
    traced: dict[str, list[float]] = {n: [] for n in order}
    layers: dict[str, list[dict]] = {n: [] for n in order}
    t_end = time.perf_counter() + r.seconds
    passes = 0
    # a traced run alternates untraced and traced passes, so that it
    # measures its own tracing overhead
    while passes < (2 if r.trace else 1) or time.perf_counter() < t_end:
        for name in order:
            if r.trace and passes % 2 == 1:
                rec: dict = {}
                with r.job_group(f"queries.{name}") as jobs:
                    ok, res = r.ops.run(name, lambda n=name: one(n, rec))
                if ok:
                    layers[name].append({**rec, **jobs})
                    traced[name].append(res)
            else:
                ok, res = r.ops.run(name, lambda n=name: one(n))
                if ok:
                    per_query[name].append(res)
        passes += 1
    r.metric("peak_rss_mb", r.rss.stop(), "MB")
    timed = {n: median(v) for n, v in per_query.items() if v}
    if len(timed) == len(order):
        r.metric("op_p50_s", median(list(timed.values())), "s")
        r.note("mix_pass_s", sum(timed.values()), "s")
    r.note("passes", passes, "count")
    for name, secs in timed.items():
        r.note(f"{name}_s", secs, "s")
    r.log(f"{passes} measured passes")

    def oracle_check(name: str) -> str | None:
        ok, msg = compare(Q.QUERIES[name](spark, sf_dir), Q.ORACLES[name], sf_dir)
        return None if ok else msg

    for name in order:
        r.ops.verify(f"oracle:{name}", lambda n=name: oracle_check(n))
    r.log("oracle checks done")

    if r.trace:
        recs = [x for v in layers.values() for x in v]
        if recs:
            for key in ("construct", "plan", "execute"):
                r.layer(f"queries.{key}_s", sum(median([x[key] for x in layers[n]]) for n in order if layers[n]), "s")
            r.layer("queries.jobs", sum(median([x["jobs"] for x in layers[n]]) for n in order if layers[n]), "count")
            r.layer("queries.tasks", sum(median([x["tasks"] for x in layers[n]]) for n in order if layers[n]), "count")
        for name, secs in timed.items():
            r.layer(f"queries.{name}_s", secs, "s")
        if len(timed) == len(order) and all(traced.values()):
            traced_pass = sum(median(v) for v in traced.values())
            r.layer("trace.overhead_pct", 100 * (traced_pass / sum(timed.values()) - 1), "%")
