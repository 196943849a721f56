"""dedup_unique: dedup_batch's closed loop of CLI encodes on a corpus
without duplicate chunks.

The same 16 × 1.5 MB as ``dedup_batch``, but every file is compressible
text, so every chunk is unique: the kernel compresses all of them, the
archive carries every payload, and no fingerprint record is written. It is
the bypass case for anything that handles duplicates, which should move
``dedup_batch`` and leave this workload unchanged; a change to compression
or to archive assembly moves both, this one more.
"""

from __future__ import annotations

import dedup_batch


def run(r) -> None:
    dedup_batch.run(r, text_only=True)
