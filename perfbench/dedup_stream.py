"""dedup_stream: backlog drain, then an open loop at a fixed arrival rate.

The batch encoder's kernel on the same kind of corpus, cut into many small
parquet arrivals, through ``streaming.dedup_stream.stream_encode_merge``
called back to back (each call is one ``availableNow`` run). Per-trigger and
per-query-start fixed cost dominate here.

Phase 1 drains a pre-staged backlog at a fixed trigger size, each drain
into fresh state, in a closed loop for the run's measured seconds; the
timed operation is one drain. Phase 2 runs a single generator thread that
renames pre-generated arrival files into the source directory on a fixed
schedule while the main thread calls the stream back to back; an arrival's
latency runs from its scheduled time to the commit of the batch that holds
it.

Phase 2's calls are not the timed operation: each call takes whatever
arrived during the previous one, so a slow call makes the next one larger
and a host that slows down for a while stretches every later call. Over
ten seeds their median spread by more than half of itself; a drain does
the same work every time. The backlog fits one trigger: a trigger's cost
hardly depends on its size, so a one-trigger drain takes 1.0-1.7 s and a run
times several, where a two-trigger drain of 2 MB took ~3.8 s and a run
timed three.
"""

from __future__ import annotations

import datetime as dt
import os
import threading
import time

import pyarrow.parquet as pq

import inputs
from dedup_batch import kernel_layers
from stats import MB, arrival_latencies, mbps, median, percentile, tail

ROWS_PER_ARRIVAL = 2  # one pool file and one text file
ROW_BYTES = 65_536  # 128 KB per arrival
BACKLOG_ARRIVALS = 4  # 512 KB backlog
TRIGGER_BYTES = 1024 * 1024  # phase 1 drains the backlog in one trigger
#: Warm-up: the backlog is drained into fresh state this many times before
#: anything is timed; the first drain is cold. The JIT keeps cutting the
#: per-trigger cost for a number of stream runs, not bytes, so this is a
#: fixed count, not a time budget: with a 2 s budget a run did two or three
#: warm-up drains depending on the host's speed, and its timed drains
#: differed by a third accordingly.
WARM_DRAINS = 12
#: Arrivals per second in phase 2 (~1.5 MB/s). A phase-2 call takes
#: everything that arrived in one trigger, and a trigger's cost hardly
#: depends on its size, so the queue stays a call or two long.
RATE = 12.0
N_ARRIVALS = 100  # enough for a p90 with ten samples beyond it
PHASE2_ID0 = 1_000_000  # file ids of phase-2 arrivals start here


def _file_ids(arrival: int, base: int) -> list[int]:
    return [base + arrival * ROWS_PER_ARRIVAL + k for k in range(ROWS_PER_ARRIVAL)]


def _arrival_of(file_id: int, base: int) -> int:
    return (file_id - base) // ROWS_PER_ARRIVAL


class _Listener:
    """Collects the run id of every query started and per-trigger progress
    (batch id, trigger start, phase durations) from a
    StreamingQueryListener the benchmark registers."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        self.progress: list[dict] = []
        self.run_ids: list[str] = []
        outer = self

        class L(StreamingQueryListener):
            def onQueryStarted(self, event):
                outer.run_ids.append(str(event.runId))

            def onQueryProgress(self, event):
                p = event.progress
                outer.progress.append(
                    {
                        "batch_id": p.batchId,
                        "start": dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp(),
                        "ms": dict(p.durationMs),
                    }
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.spark = spark
        self.listener = L()
        spark.streams.addListener(self.listener)

    def remove(self) -> None:
        self.spark.streams.removeListener(self.listener)


def _read_batches(out_dir: str, commits_dir: str, base: int):
    """(batch id, commit time, arrival ids) for every committed batch."""
    out = []
    names = os.listdir(out_dir) if os.path.isdir(out_dir) else []
    for name in sorted(names):
        if not name.startswith("batch_id="):
            continue
        bid = int(name.split("=", 1)[1])
        marker = os.path.join(commits_dir, str(bid))
        if not os.path.exists(marker):
            continue  # never committed: its arrivals count as missing
        ids = pq.read_table(os.path.join(out_dir, name), columns=["file_id"]).column("file_id").to_pylist()
        out.append((bid, os.path.getmtime(marker), {_arrival_of(f, base) for f in ids}))
    return out


def _stream_uniques(out_dir: str) -> tuple[set[str], str | None]:
    """Non-dup digests over all committed output, and a description of any
    digest with other than exactly one non-dup row."""
    t = pq.read_table(out_dir, columns=["sha1", "is_dup"], partitioning=None).to_pydict()
    winners: dict[str, int] = {}
    seen: set[str] = set()
    for sha, dup in zip(t["sha1"], t["is_dup"]):
        seen.add(sha)
        if not dup:
            winners[sha] = winners.get(sha, 0) + 1
    multi = [s for s, n in winners.items() if n != 1]
    orphan = seen - set(winners)
    why = None
    if multi or orphan:
        why = f"{len(multi)} digests with several non-dup rows, {len(orphan)} with none"
    return set(winners), why


def _batch_uniques(spark, src_dir: str) -> set[str]:
    """The batch encoder's unique digests over the same bytes."""
    from pyspark.sql import functions as F

    from bensp_suite_spark.dedup import pipeline

    files = spark.read.parquet(src_dir).select("file_id", "content")
    rows = pipeline.encode(files).filter(F.col("rtype") != pipeline.TYPE_FINGERPRINT).select("sha1").collect()
    return {row.sha1 for row in rows}


def run(r) -> None:
    spark = r.start_session()
    from bensp_suite_spark.streaming.dedup_stream import files_source, stream_encode_merge

    pool = inputs.block_pool(r.seed)
    backlog = r.path("backlog")
    os.makedirs(backlog)
    backlog_bytes = sum(
        inputs.write_arrival(os.path.join(backlog, f"a{a:05d}.parquet"), r.seed, _file_ids(a, 0), ROW_BYTES, pool)
        for a in range(BACKLOG_ARRIVALS)
    )
    n_arrivals = N_ARRIVALS
    staged, src = r.path("staged"), r.path("source")
    os.makedirs(staged)
    os.makedirs(src)
    for a in range(n_arrivals):
        inputs.write_arrival(
            os.path.join(staged, f"a{a:05d}.parquet"), r.seed, _file_ids(a, PHASE2_ID0), ROW_BYTES, pool
        )

    def drain(tag: str) -> float:
        """Drain the backlog into fresh state: wall seconds."""
        t = time.perf_counter()
        stream_encode_merge(
            spark, files_source(spark, backlog, max_bytes_per_trigger=TRIGGER_BYTES),
            r.path(tag, "out"), r.path(tag, "ckpt"),
        )
        return time.perf_counter() - t

    warm = [r.ops.run("warm-up drain", lambda i=i: drain(f"drain-warm{i}"))[1] for i in range(WARM_DRAINS)]
    r.metric("setup_s", r.elapsed(), "s")
    r.log(f"warm-up drains {[w and round(w, 2) for w in warm]}")

    # --- phase 1: backlog drains, closed loop -----------------------------
    drains, traced_drains, drained = [], [], []
    listener = jobs = None
    t_end = time.perf_counter() + r.seconds
    while time.perf_counter() < t_end:
        tag = f"drain{len(drained)}"
        ok, res = r.ops.run("drain", lambda tag=tag: drain(tag))
        if ok:
            drains.append(res)
            drained.append(tag)
    if r.trace:
        listener = _Listener(spark)  # stays registered for phase 2
        with r.job_group("dedup.drain") as rec:
            ok, res = r.ops.run("drain", lambda: drain("drain-traced"))
        if ok:
            traced_drains.append(res)
            drained.append("drain-traced")
            jobs = {**rec, **dict(zip(("jobs", "tasks"), r.jobs_of(listener.run_ids)))}
    r.log(f"drains {[round(d, 2) for d in drains + traced_drains]}")
    if listener:
        listener.progress.clear()

    # --- phase 2: open loop -----------------------------------------------
    scheduled: dict[int, float] = {}
    renamed: dict[int, float] = {}
    t0 = time.time() + 0.2

    def generator() -> None:
        for a in range(n_arrivals):
            due = t0 + a / RATE
            pause = due - time.time()
            if pause > 0:
                time.sleep(pause)
            name = f"a{a:05d}.parquet"
            os.rename(os.path.join(staged, name), os.path.join(src, name))
            scheduled[a] = due
            renamed[a] = time.time()

    out, ckpt = r.path("phase2", "out"), r.path("phase2", "ckpt")
    gen = threading.Thread(target=generator, name="arrivals")
    commits = os.path.join(ckpt, "merge_commits")
    calls: list[float] = []
    gen.start()
    try:
        while True:
            finished = not gen.is_alive()
            calls.append(time.time())
            r.ops.run(
                "stream_encode_merge",
                # one trigger per call: everything that arrived so far
                lambda: stream_encode_merge(spark, files_source(spark, src), out, ckpt),
            )
            if finished:  # this call started after the last arrival
                break
    finally:
        gen.join()
    t_gen_end = renamed[n_arrivals - 1]
    r.metric("peak_rss_mb", r.rss.stop(), "MB")

    batches = _read_batches(out, commits, PHASE2_ID0)
    lat, missing, repeated = arrival_latencies(scheduled, batches)
    r.ops.record("arrivals", n_arrivals, len(missing), f"{len(missing)} never committed, e.g. {missing[:5]}")
    r.ops.verify("arrivals_once", lambda: f"arrivals in several batches: {repeated[:5]}" if repeated else None)
    lats = list(lat.values())
    if drains:
        r.metric("op_p50_s", median(drains), "s")
        r.note("stream_drain_mbps", mbps(backlog_bytes, median(drains)), "MB/s")
        r.note("drains", len(drains), "count")
    if lats:
        r.note("stream_latency_p50_s", median(lats), "s")
        p90 = percentile(lats, 90)
        if p90 is not None:
            r.note("stream_latency_p90_s", p90, "s")
        tl = tail(lats)
        if tl and tl[0] != 90:
            r.note(f"stream_latency_p{int(tl[0])}_s", tl[1], "s")
    late = max(renamed[a] - scheduled[a] for a in scheduled)
    commit_of = {a: t for _, t, ids in batches for a in ids}
    backlog_end = sum(1 for a in renamed if commit_of.get(a, float("inf")) > t_gen_end)
    r.note("arrivals", n_arrivals, "count")
    r.note("invocations", len(calls), "count")
    r.note("generator_late_s", late, "s")
    r.note("backlog_mb", backlog_bytes / MB, "MB")
    r.log(f"phase 2: {len(calls)} calls, {len(batches)} batches, p50 {median(lats) if lats else 'n/a'}")

    # --- checks -----------------------------------------------------------
    def check_out(out_dir: str, want: set[str]) -> str | None:
        got, why = _stream_uniques(out_dir)
        if why:
            return why
        return None if got == want else f"unique set differs: {len(got - want)} extra, {len(want - got)} missing"

    refs: dict[str, set[str]] = {}

    def batch_uniques(src_dir: str) -> set[str]:
        if src_dir not in refs:
            refs[src_dir] = _batch_uniques(spark, src_dir)
        return refs[src_dir]

    for tag in drained:
        r.ops.verify(f"{tag}_uniques", lambda tag=tag: check_out(r.path(tag, "out"), batch_uniques(backlog)))
    r.ops.verify("phase2_uniques", lambda: check_out(out, batch_uniques(src)))
    r.log("checks done")

    if listener:
        r.drain_listeners()
        listener.remove()
        _layers(r, listener.progress, calls, batches, scheduled, ckpt, late, backlog_end, drains, traced_drains)
        # the kernel layers the stream shares with the batch encoder, over
        # the backlog's bytes read as one batch; one traced drain's jobs
        _, t_kernel = kernel_layers(r, spark, spark.read.parquet(backlog).select("file_id", "content"), backlog_bytes)
        if drains:
            r.layer("op.beyond_kernel_s", median(drains) - t_kernel, "s")
        if jobs:
            r.layer("dedup.jobs", jobs["jobs"], "count")
            r.layer("dedup.tasks", jobs["tasks"], "count")
            r.layer("dedup.shuffle_mb", jobs["shuffle_mb"], "MB")


def _layers(r, progress, calls, batches, scheduled, ckpt, late, backlog_end, drains, traced_drains) -> None:
    ms = [p["ms"] for p in progress]

    def phase(key: str) -> float:
        vals = [m.get(key, 0) / 1000 for m in ms]
        return median(vals) if vals else 0.0

    starts = sorted(p["start"] for p in progress)
    # from each call to its first trigger (a call with no new data has none);
    # trigger timestamps have millisecond resolution
    waits = []
    for t_call, t_next in zip(calls, calls[1:] + [float("inf")]):
        mine = [s for s in starts if t_call - 0.001 <= s < t_next]
        if mine:
            waits.append(mine[0] - t_call)
    trigger_start = {p["batch_id"]: p["start"] for p in progress}
    queue = [trigger_start[b] - scheduled[a] for b, _, ids in batches for a in ids if b in trigger_start]
    winners = pq.read_table(os.path.join(ckpt, "winners"), columns=["sha1"], partitioning=None).num_rows
    r.layer("streaming.invocations", len(calls), "count")
    r.layer("streaming.start_s", median(waits) if waits else 0.0, "s")
    r.layer("streaming.triggers", len(progress), "count")
    r.layer("streaming.trigger_s", phase("triggerExecution"), "s")
    r.layer("streaming.planning_s", phase("queryPlanning"), "s")
    r.layer("streaming.add_batch_s", phase("addBatch"), "s")
    r.layer("streaming.wal_commit_s", phase("walCommit"), "s")
    r.layer("streaming.queue_wait_s", median(queue) if queue else 0.0, "s")
    r.layer("streaming.winners_rows", winners, "count")
    r.layer("streaming.backlog_end", backlog_end, "count")
    r.layer("streaming.generator_late_s", late, "s")
    if drains and traced_drains:
        r.layer("trace.overhead_pct", 100 * (median(traced_drains) / median(drains) - 1), "%")
