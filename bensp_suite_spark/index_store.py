"""One crash-safe store for every persisted ANN index.

Layout of an index directory::

    <path>/manifest.json          the only file that ever changes
    <path>/g<N>/<artifact>/       immutable parquet artifact directories
    <path>/g<N>/<artifact>.npy    immutable numpy artifacts (codebooks)

The manifest names the family, its build params, the current generation
and, for each artifact, the generation directories that hold it. A
DataFrame artifact with a ``shard`` column is stored partitioned by it,
and its manifest entries record which shards each generation owns.

- :func:`commit` writes the artifacts into a fresh ``g<N>`` and only
  then swaps in the new manifest (temp file + ``os.replace``). A crash
  before the swap leaves the previous manifest in force and removes the
  partial ``g<N>``, so a reader never sees a half-written index. With
  ``base=`` (an upsert) the new generation holds only the delta: it is
  appended to each artifact it writes, and the shards it writes
  supersede the same shards of older generations.
- :func:`load` reads the manifest; artifact reads are memoised per
  ``(applicationId, artifact location)``. A committed location never
  changes, so the memo cannot serve stale data, and an upsert costs
  fresh reads only for the locations it wrote.
- :func:`remove` deletes the generation directories no manifest entry
  references any longer (called by every commit).

The layout follows DiskANN's and REPOSE's manifest-plus-shards frame:
metadata written last, every artifact directory immutable. One writer
per index at a time; local paths only.
"""

from __future__ import annotations

import json
import os
import re
import shutil
from functools import reduce
from urllib.parse import urlparse

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MANIFEST = "manifest.json"
SHARD = "shard"

#: (applicationId, artifact location) -> DataFrame handle or ndarray
_MEMO: dict[tuple[str, str], object] = {}


def _local(path: str) -> str:
    url = urlparse(path)
    if url.scheme == "file":
        return url.path
    if url.scheme:
        raise ValueError(f"index store needs a local path, got {path!r}")
    return path


def read_manifest(path: str) -> dict:
    """The committed manifest at ``path``; ``ValueError`` if there is none."""
    try:
        with open(os.path.join(_local(path), MANIFEST)) as fh:
            return json.load(fh)
    except FileNotFoundError:
        raise ValueError(
            f"no index manifest at {path!r}: not a committed index "
            "(rebuild it with mkdb or save_*)"
        ) from None


def committed(path: str) -> bool:
    return os.path.exists(os.path.join(_local(path), MANIFEST))


def _memo(spark, loc: str, read):
    app = spark.sparkContext.applicationId
    got = _MEMO.get((app, loc))
    if got is None:
        for stale in [k for k in _MEMO if k[0] != app]:
            del _MEMO[stale]
        got = _MEMO[(app, loc)] = read()
    return got


class Index:
    """A loaded manifest; artifacts are read on demand through the memo."""

    def __init__(self, spark, path: str, manifest: dict):
        self.spark = spark
        self.path = _local(path)
        self.manifest = manifest
        self.family = manifest["family"]
        self.params = manifest["params"]

    def _locs(self, name: str, suffix: str = ""):
        for entry in self.manifest["artifacts"][name]:
            yield entry, os.path.join(self.path, f"g{entry['gen']}", name + suffix)

    def frame(self, name: str) -> DataFrame:
        parts = []
        for entry, loc in self._locs(name):
            df = _memo(self.spark, loc, lambda loc=loc: self.spark.read.parquet(loc))
            if SHARD in entry:
                df = df.filter(F.col(SHARD).isin(entry[SHARD]))
            parts.append(df)
        return reduce(DataFrame.unionByName, parts)

    def array(self, name: str) -> np.ndarray:
        ((_entry, loc),) = self._locs(name, ".npy")
        return _memo(self.spark, loc, lambda: np.load(loc))


def load(spark, path: str, family: str) -> Index:
    manifest = read_manifest(path)
    if manifest["family"] != family:
        raise ValueError(
            f"index at {path!r} is a {manifest['family']} index, not {family}"
        )
    return Index(spark, path, manifest)


def _write_artifact(value, loc: str) -> dict:
    """Write one artifact; → the manifest entry fields it adds."""
    if isinstance(value, np.ndarray):
        os.makedirs(os.path.dirname(loc), exist_ok=True)
        np.save(loc + ".npy", value)
        return {}
    if SHARD not in value.columns:
        value.write.parquet(loc)
        return {}
    value.write.partitionBy(SHARD).parquet(loc)
    prefix = SHARD + "="
    return {
        SHARD: sorted(
            int(d[len(prefix):]) for d in os.listdir(loc) if d.startswith(prefix)
        )
    }


def commit(
    path: str,
    family: str,
    params: dict,
    artifacts: dict,
    base: Index | None = None,
) -> None:
    """Write ``artifacts`` (name → DataFrame or ndarray) as a new
    generation, then atomically publish the manifest. Without ``base``
    the new generation replaces the whole index; with ``base`` it is a
    delta on top of that loaded index."""
    path = _local(path)
    gen = read_manifest(path)["generation"] + 1 if committed(path) else 0
    entries = dict(base.manifest["artifacts"]) if base is not None else {}
    gdir = os.path.join(path, f"g{gen}")
    shutil.rmtree(gdir, ignore_errors=True)  # a crashed commit's leftovers
    try:
        for name, value in artifacts.items():
            entry = {"gen": gen, **_write_artifact(value, os.path.join(gdir, name))}
            kept = []
            for old in entries.get(name, []):
                if SHARD in entry and SHARD in old:
                    old = {**old, SHARD: [s for s in old[SHARD] if s not in entry[SHARD]]}
                    if not old[SHARD]:
                        continue
                kept.append(old)
            entries[name] = kept + [entry]
    except BaseException:
        shutil.rmtree(gdir, ignore_errors=True)
        raise
    manifest = {
        "family": family,
        "params": params,
        "generation": gen,
        "artifacts": entries,
    }
    tmp = os.path.join(path, f".{MANIFEST}.{os.getpid()}.tmp")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, indent=1)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, os.path.join(path, MANIFEST))
    remove(path)


def remove(path: str) -> None:
    """Delete generation directories the manifest no longer references."""
    path = _local(path)
    live = {
        f"g{e['gen']}"
        for es in read_manifest(path)["artifacts"].values()
        for e in es
    }
    for d in os.listdir(path):
        if re.fullmatch(r"g\d+", d) and d not in live:
            gdir = os.path.join(path, d)
            shutil.rmtree(gdir, ignore_errors=True)
            for key in [k for k in _MEMO if k[1].startswith(gdir + os.sep)]:
                del _MEMO[key]
