"""The one index store (bensp_suite_spark/index_store.py) under injected
crashes: for every ANN family, an exception raised right after the
store's first artifact write — during a save and during an upsert —
leaves either the previously committed generation (served row-for-row,
codebooks included) or no index at all (load raises), and no stray
generation directory behind."""

from __future__ import annotations

import glob
import os
import re
import subprocess
import sys
import tempfile

import numpy as np
import pytest

from bensp_suite_spark import index_store
from bensp_suite_spark.operators import graph_ann as GA
from bensp_suite_spark.operators import similarity as SIM

from .conftest import SF_CORRECT

# family -> (save(corpus, path), load(spark, path), upsert(new, corpus, path))
FAMILIES = {
    "pq": (
        lambda c, p: SIM.save_pq_index(c, p),
        SIM.load_pq_index,
        lambda n, c, p: SIM.upsert_pq_index(n.sparkSession, p, n),
    ),
    "ivf": (
        lambda c, p: SIM.save_ivf_index(c, p, n_cells=8),
        SIM.load_ivf_index,
        lambda n, c, p: SIM.upsert_ivf_index(n.sparkSession, p, n),
    ),
    "ivfpq": (
        lambda c, p: SIM.save_ivfpq_index(c, p, n_cells=8, n_centroids=16),
        SIM.load_ivfpq_index,
        lambda n, c, p: SIM.upsert_ivfpq_index(n.sparkSession, p, n),
    ),
    "lsh": (
        lambda c, p: SIM.save_lsh_index(c, p),
        SIM.load_lsh_index,
        lambda n, c, p: SIM.upsert_lsh_index(n.sparkSession, p, n),
    ),
    "nsw": (
        lambda c, p: GA.save_nsw_index(c, p, n_shards=2),
        GA.load_nsw_index,
        lambda n, c, p: GA.upsert_nsw_index(n, p),
    ),
    "nsw_routed": (
        lambda c, p: GA.save_nsw_routed_index(c, p, n_cells=4),
        GA.load_nsw_routed_index,
        lambda n, c, p: GA.upsert_nsw_routed_index(n, p),
    ),
    "nsw_routed_pq": (
        lambda c, p: GA.save_nsw_routed_pq_index(c, p, n_cells=4),
        GA.load_nsw_routed_pq_index,
        lambda n, c, p: GA.upsert_nsw_routed_pq_index(n, c, p),
    ),
}


def _snapshot(loaded) -> list:
    """Every part of a loaded index as plain values: sorted rows for
    tables, the raw float list for codebooks, params as they are."""
    out = []
    for part in loaded if isinstance(loaded, tuple) else (loaded,):
        if isinstance(part, np.ndarray):
            out.append(part.tolist())
        elif isinstance(part, dict):
            out.append(part)
        else:
            out.append(
                sorted(
                    tuple(tuple(v) if isinstance(v, list) else v for v in r)
                    for r in part.collect()
                )
            )
    return out


def _crash_after_first_artifact(monkeypatch):
    real = index_store._write_artifact

    def write(value, loc):
        real(value, loc)
        raise RuntimeError("injected crash after the first artifact write")

    monkeypatch.setattr(index_store, "_write_artifact", write)


def _generation_dirs(path: str) -> set[str]:
    return {os.path.basename(d) for d in glob.glob(os.path.join(path, "g*"))}


def _live_generations(path: str) -> set[str]:
    manifest = index_store.read_manifest(path)
    return {f"g{e['gen']}" for es in manifest["artifacts"].values() for e in es}


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_crash_mid_commit_serves_last_generation_or_raises(
    spark, tmp_path, monkeypatch, family
):
    save, load, upsert = FAMILIES[family]
    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    base, new = emb.filter("vec_id < 200"), emb.filter("vec_id >= 200 and vec_id < 260")
    roots = os.path.join(tempfile.gettempdir(), "bensp_ann_idx_*")
    tmp_before = set(glob.glob(roots))
    path = str(tmp_path / family)

    # a crashed first save: nothing was ever committed, so load raises
    with monkeypatch.context() as m:
        _crash_after_first_artifact(m)
        with pytest.raises(RuntimeError, match="injected crash"):
            save(base, path)
    with pytest.raises(ValueError, match="no index manifest"):
        load(spark, path)
    assert _generation_dirs(path) == set()

    save(base, path)
    committed = _snapshot(load(spark, path))

    # a crashed upsert: the committed generation is served row-for-row
    with monkeypatch.context() as m:
        _crash_after_first_artifact(m)
        with pytest.raises(RuntimeError, match="injected crash"):
            upsert(new, emb, path)
    assert _snapshot(load(spark, path)) == committed
    assert _generation_dirs(path) == _live_generations(path)

    # the index stays maintainable after the crash
    upsert(new, emb, path)
    assert _snapshot(load(spark, path)) != committed
    assert _generation_dirs(path) == _live_generations(path)
    assert set(glob.glob(roots)) == tmp_before


def test_upsert_keeps_frozen_artifacts_memoised(spark, tmp_path):
    """An upsert rewrites graph shards only: the frozen centroids and
    codebooks come back from the memo (the very same objects)."""
    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    path = str(tmp_path / "rpq")
    GA.save_nsw_routed_pq_index(emb.filter("vec_id < 200"), path, n_cells=4)
    cent, graph, books, _ = GA.load_nsw_routed_pq_index(spark, path)
    GA.upsert_nsw_routed_pq_index(emb.filter("vec_id >= 200"), emb, path)
    cent2, graph2, books2, _ = GA.load_nsw_routed_pq_index(spark, path)
    assert cent2 is cent and books2 is books
    assert graph2.count() == emb.count() > graph.count()


def test_store_rejects_remote_uris_and_unmanifested_dirs(spark, tmp_path):
    with pytest.raises(ValueError, match="hdfs://nn/idx"):
        index_store.read_manifest("hdfs://nn/idx")
    with pytest.raises(ValueError, match=re.escape(str(tmp_path))):
        SIM.load_ivf_index(spark, str(tmp_path))


def test_prebuilt_index_root_removed_at_exit():
    """The declared queries' process-scoped index root does not outlive
    the interpreter that made it."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r = subprocess.run(
        [sys.executable, "-c",
         "from bensp_suite_spark import queries as Q; print(Q._index_root())"],
        capture_output=True, text=True, cwd=repo,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    root = r.stdout.strip().splitlines()[-1]
    assert os.path.basename(root).startswith("bensp_ann_idx_")
    assert not os.path.exists(root)


@pytest.mark.parametrize(
    "argv",
    [
        ["bensp_suite_spark.ann_cli", "upsert", "{d}", "{d}"],
        ["bensp_suite_spark.ann_cli", "query", "{d}", "{d}", "5", "{d}/out",
         "--family", "ivf", "--index", "{d}"],
        ["bensp_suite_spark.ferret_cli", "query", "{d}", "{d}", "3", "{d}/out",
         "--index", "{d}"],
    ],
)
def test_clis_refuse_an_index_dir_without_manifest(tmp_path, argv):
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r = subprocess.run(
        [sys.executable, "-m", *(a.format(d=tmp_path) for a in argv)],
        capture_output=True, text=True, cwd=repo,
    )
    assert r.returncode == 2 and "rebuild it with" in r.stderr and "mkdb" in r.stderr
