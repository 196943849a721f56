"""Seeded input generators. The library only ever sees what these write.

Dedup corpus: files alternate between two content kinds so that both the
fingerprint path and the compress path carry weight:

- ``pool`` files concatenate random-byte blocks drawn with a Zipf-like
  preference from a small seeded pool (the block-reuse scheme of
  ``dedup.fixtures.synthetic_docs``): nearly all of their chunks are
  duplicates, and the bytes do not compress;
- ``text`` files are 61-byte lines laid out like the reference's
  ``aar`` / ``ffr`` / ``rff`` content classes (``dedup.fixtures.class_files``):
  unique chunks that gzip shrinks about threefold.

Ferret corpus: Gaussian-mixture region vectors (dim 14) around seeded
cluster centres; queries are jittered copies of known corpus images, so
each query's true top-1 is its source image.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

POOL_BLOCKS = 32
BLOCK_MIN, BLOCK_MAX = 16384, 65536
TEXT_CLASSES = ("aar", "ffr", "rff")
_CHARSET = np.frombuffer(
    b"abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789,.-#'?!@$%&*()+={}^~;:/|",
    dtype=np.uint8,
)

FILES_SCHEMA = pa.schema([("file_id", pa.int64()), ("content", pa.binary())])


def block_pool(seed: int) -> list[bytes]:
    rng = np.random.default_rng([seed, 0])
    return [
        rng.integers(0, 256, size=int(rng.integers(BLOCK_MIN, BLOCK_MAX + 1)), dtype=np.uint8).tobytes()
        for _ in range(POOL_BLOCKS)
    ]


def _pool_file(rng: np.random.Generator, pool: list[bytes], n_bytes: int) -> bytes:
    parts, total = [], 0
    while total < n_bytes:
        block = pool[min(int(rng.zipf(1.3)) - 1, len(pool) - 1)]
        parts.append(block)
        total += len(block)
    return b"".join(parts)[:n_bytes]


def _text_file(rng: np.random.Generator, kind: str, n_bytes: int) -> bytes:
    n_lines = -(-n_bytes // 61)
    rand = _CHARSET[rng.integers(0, len(_CHARSET), size=(n_lines, 20))]
    run = np.full((n_lines, 20), ord("a" if kind == "aar" else "f"), dtype=np.uint8)
    cols = {"aar": [run, run, rand], "ffr": [run, run, rand], "rff": [rand, run, run]}[kind]
    nl = np.full((n_lines, 1), 0x0A, dtype=np.uint8)
    return np.concatenate(cols + [nl], axis=1).tobytes()[:n_bytes]


def corpus_file(seed: int, file_id: int, n_bytes: int, pool: list[bytes], text_only: bool = False) -> bytes:
    """Content of one corpus file: a pure function of (seed, file_id, size,
    text_only), given ``pool = block_pool(seed)``. Even ids are ``pool``
    files and odd ids ``text`` files, or every id is a ``text`` file when
    ``text_only`` (a corpus without duplicate chunks)."""
    rng = np.random.default_rng([seed, 1, file_id])
    if file_id % 2 == 0 and not text_only:
        return _pool_file(rng, pool, n_bytes)
    return _text_file(rng, TEXT_CLASSES[(file_id // 2) % len(TEXT_CLASSES)], n_bytes)


def write_corpus_dir(out_dir: str, seed: int, n_files: int, file_bytes: int, text_only: bool = False) -> int:
    """One file per corpus entry, named so the path order is the id order
    (``binaryfiles.read_files`` assigns file_id by path rank). Returns the
    bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    pool = block_pool(seed)
    total = 0
    for i in range(n_files):
        data = corpus_file(seed, i, file_bytes, pool, text_only)
        with open(os.path.join(out_dir, f"f{i:05d}.bin"), "wb") as fh:
            fh.write(data)
        total += len(data)
    return total


def write_arrival(path: str, seed: int, file_ids: list[int], file_bytes: int, pool: list[bytes]) -> int:
    """One stream arrival: a parquet file of (file_id, content) rows."""
    contents = [corpus_file(seed, fid, file_bytes, pool) for fid in file_ids]
    table = pa.table({"file_id": file_ids, "content": contents}, schema=FILES_SCHEMA)
    pq.write_table(table, path, compression="none")
    return sum(len(c) for c in contents)


# --- ferret -----------------------------------------------------------------

VEC_DIM = 14

VECSET_SCHEMA = pa.schema(
    [
        ("image_id", pa.int64()),
        ("name", pa.string()),
        (
            "regions",
            pa.list_(pa.struct([("weight", pa.float32()), ("features", pa.list_(pa.float32()))])),
        ),
    ]
)


def _image(rng: np.random.Generator, centers: np.ndarray) -> list[dict]:
    n = int(rng.integers(1, 13))
    w = np.sqrt(rng.random(n) + 0.05)
    w /= w.sum()
    return [
        {
            "weight": float(w[r]),
            "features": (centers[int(rng.integers(0, len(centers)))] + rng.standard_normal(VEC_DIM) * 0.15)
            .astype(np.float32)
            .tolist(),
        }
        for r in range(n)
    ]


def ferret_inputs(
    corpus_path: str, queries_path: str, seed: int, n_images: int, n_queries: int, n_clusters: int = 64,
    jitter: float = 0.02,
) -> dict[int, int]:
    """Write the corpus and query vecsets as parquet. Returns query id →
    source image id (the expected top-1)."""
    rng = np.random.default_rng([seed, 2])
    centers = rng.standard_normal((n_clusters, VEC_DIM))
    images = [_image(np.random.default_rng([seed, 3, i]), centers) for i in range(n_images)]
    pq.write_table(
        pa.table(
            {
                "image_id": list(range(n_images)),
                "name": [f"img_{i:05d}.jpg" for i in range(n_images)],
                "regions": images,
            },
            schema=VECSET_SCHEMA,
        ),
        corpus_path,
    )
    sources = sorted(int(s) for s in rng.choice(n_images, size=n_queries, replace=False))
    qids, regions = [], []
    for k, src in enumerate(sources):
        qrng = np.random.default_rng([seed, 4, k])
        qids.append(1_000_000 + k)
        regions.append(
            [
                {
                    "weight": r["weight"],
                    "features": (np.asarray(r["features"], dtype=np.float64) + qrng.standard_normal(VEC_DIM) * jitter)
                    .astype(np.float32)
                    .tolist(),
                }
                for r in images[src]
            ]
        )
    pq.write_table(
        pa.table(
            {"image_id": qids, "name": [f"query_{q}.jpg" for q in qids], "regions": regions},
            schema=VECSET_SCHEMA,
        ),
        queries_path,
    )
    return dict(zip(qids, sources))
