"""Cache/checkpoint lifecycle: the one policy for releasing intermediates.

Operators persist small, multiply-consumed relations (value counts,
shingle sets, per-group moments) and must not leave them pinned in
executor storage once their result is built. The policy is the RDD
model's: materialize the (small) result with a reliable, lineage-
truncating checkpoint, then unpersist every cache it read.

- ``finish(result, deps, release)`` is the release point. With
  ``release=True`` it checkpoints ``result`` and unpersists ``deps`` in a
  ``finally`` — a failed checkpoint still frees them. With
  ``release=False`` the lazy ``result`` is returned carrying the caches
  on ``result._caches``, the one handover attribute; the caller owns
  them and frees them with ``unpersist(result)``.
- A dep (or any frame passed to ``unpersist``) that carries ``_caches``
  stands for that list — e.g. the filtered view over a persisted
  shingle projection, or a prefix-count frame over its two caches.
- ``checkpoint(df)`` writes under one directory per SparkContext,
  created on first use by ``temp_root``: below the first
  ``SPARK_LOCAL_DIRS`` entry (else the temp default), removed when the
  process exits. Queries that stage files of their own (pipeline roots,
  merge-sink tables) take their directories from ``temp_root`` too.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame


def temp_root(prefix: str) -> str:
    """A fresh directory below the first ``SPARK_LOCAL_DIRS`` entry (else
    the temp default), removed when the process exits — for files a
    lazy result still reads after the call that wrote them returns."""
    root = os.environ.get("SPARK_LOCAL_DIRS", "").split(",")[0] or None
    if root is not None:
        os.makedirs(root, exist_ok=True)
    path = tempfile.mkdtemp(prefix=prefix, dir=root)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def _ensure_checkpoint_dir(sc) -> None:
    if sc.getCheckpointDir() is None:
        sc.setCheckpointDir(temp_root("spark_ckpt_"))


def checkpoint(df: DataFrame) -> DataFrame:
    """Eager reliable checkpoint: materializes ``df`` and cuts its
    lineage, leaving nothing pinned in executor storage."""
    _ensure_checkpoint_dir(df.sparkSession.sparkContext)
    return df.checkpoint(eager=True)


def _expand(frames) -> list:
    return [c for f in frames for c in getattr(f, "_caches", [f])]


def unpersist(*frames) -> None:
    """Unpersist each frame, or the ``_caches`` it carries."""
    for c in _expand(frames):
        c.unpersist()


def finish(result: DataFrame, deps, release: bool = True) -> DataFrame:
    """Release point for an operator whose ``result`` read the persisted
    ``deps``: checkpoint-then-unpersist, or hand the caches over."""
    if not release:
        result._caches = _expand(deps)  # type: ignore[attr-defined]
        return result
    try:
        return checkpoint(result)
    finally:
        unpersist(*deps)
