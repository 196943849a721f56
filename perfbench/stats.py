"""The benchmark's own arithmetic, free of Spark so it can be unit-tested.

Every reported timing goes through :func:`median`, :func:`percentile`
and :func:`tail`; every
rate through :func:`mbps` / :func:`per_second`; the stream latencies through
:func:`arrival_latencies`; the ferret quality figure through
:func:`recall_at_k`; and operation accounting through :class:`Ops`.
"""

from __future__ import annotations

import math
import statistics
from collections.abc import Callable, Iterable, Mapping, Sequence

MB = 1_000_000


def median(values: Sequence[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def percentile(values: Sequence[float], pct: float, beyond: int = 10) -> float | None:
    """Nearest-rank ``pct`` percentile, or None when fewer than ``beyond``
    samples lie above its rank (the sample cannot support it)."""
    n = len(values)
    rank = max(1, math.ceil(pct * n / 100))  # 1-based
    if n - rank < beyond:
        return None
    return float(sorted(values)[rank - 1])


def tail(values: Sequence[float], beyond: int = 10) -> tuple[float, float] | None:
    """The highest whole percentile above the median that still has at
    least ``beyond`` samples beyond it, as ``(percentile, value)``; None
    when the sample is too small (n = 100 gives p90, n = 1000 gives p99)."""
    n = len(values)
    pct = (100 * (n - beyond)) // n if n > beyond else 0
    if pct <= 50:
        return None
    return float(pct), percentile(values, pct, beyond)


def mbps(n_bytes: int, seconds: float) -> float:
    """Decimal megabytes per second."""
    if seconds <= 0:
        raise ValueError(f"non-positive duration {seconds!r}")
    return n_bytes / MB / seconds


def per_second(count: int, seconds: float) -> float:
    if seconds <= 0:
        raise ValueError(f"non-positive duration {seconds!r}")
    return count / seconds


def recall_at_k(
    approx: Mapping[int, Sequence[int]], exact: Mapping[int, Sequence[int]], k: int = 10
) -> float:
    """Mean over queries of |approx top-k ∩ exact top-k| / |exact top-k|.
    A query missing from ``approx`` scores 0; queries missing from
    ``exact`` are an error (the reference must cover every query)."""
    if not exact:
        raise ValueError("no reference results")
    missing = set(approx) - set(exact)
    if missing:
        raise ValueError(f"queries without reference results: {sorted(missing)[:5]}")
    total = 0.0
    for qid, ref in exact.items():
        want = set(list(ref)[:k])
        if not want:
            raise ValueError(f"empty reference top-{k} for query {qid}")
        got = set(list(approx.get(qid, ()))[:k])
        total += len(got & want) / len(want)
    return total / len(exact)


def arrival_latencies(
    scheduled: Mapping[int, float],
    batches: Iterable[tuple[int, float, Iterable[int]]],
) -> tuple[dict[int, float], list[int], list[int]]:
    """Map every arrival to the committed batch that holds it.

    ``scheduled`` is arrival id → the time it was due; ``batches`` yields
    (batch id, commit time, arrival ids seen in that batch's output). An
    arrival's latency is its batch's commit time minus its due time.
    Returns (latency per arrival, arrivals never committed, arrivals seen
    in more than one batch). An arrival id that no schedule knows about is
    an error: the output holds data nobody sent."""
    first: dict[int, float] = {}
    repeated: set[int] = set()
    for batch_id, commit_t, ids in batches:
        for a in set(ids):
            if a not in scheduled:
                raise ValueError(f"batch {batch_id} holds unknown arrival {a}")
            if a in first:
                repeated.add(a)
                first[a] = min(first[a], commit_t)
            else:
                first[a] = commit_t
    lat = {a: first[a] - scheduled[a] for a in first}
    missing = sorted(set(scheduled) - set(first))
    return lat, missing, sorted(repeated)


class Ops:
    """Attempted / failed operation accounting.

    ``run(fn)`` attempts one operation: an exception, or a check returning
    False, counts as a failure and is recorded, never raised, so one bad
    operation cannot abort the run. A failed operation contributes no
    latency sample: it misses any latency limit by definition."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def run(self, name: str, fn: Callable[[], object], check: Callable[[object], bool] | None = None):
        """Returns ``(ok, result)``; result is None when the call raised."""
        self.attempted += 1
        try:
            result = fn()
        except Exception as e:  # noqa: BLE001 - a failed operation is data here
            self.failed += 1
            self.errors.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
            return False, None
        if check is not None:
            try:
                ok = bool(check(result))
                why = "check failed"
            except Exception as e:  # noqa: BLE001
                ok, why = False, f"check raised {type(e).__name__}: {str(e)[:300]}"
            if not ok:
                self.failed += 1
                self.errors.append(f"{name}: {why}")
                return False, result
        return True, result

    def fail(self, name: str, why: str) -> None:
        """Count one attempted operation that failed outside ``run``."""
        self.record(name, 1, 1, why)

    def record(self, name: str, attempted: int, failed: int, why: str = "") -> None:
        """Count ``attempted`` operations made elsewhere, ``failed`` of them
        failed (``why`` describes the failures)."""
        self.attempted += attempted
        self.failed += failed
        if failed:
            self.errors.append(f"{name}: {why}")

    def verify(self, name: str, fn: Callable[[], str | None]) -> bool:
        """Count one verification step as an operation. ``fn`` returns None
        when the output is right and a description of the mismatch when it
        is not; an exception is a failure too."""
        self.attempted += 1
        try:
            why = fn()
        except Exception as e:  # noqa: BLE001
            why = f"raised {type(e).__name__}: {str(e)[:300]}"
        if why is None:
            return True
        self.failed += 1
        self.errors.append(f"{name}: {why}")
        return False
