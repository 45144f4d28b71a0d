"""Partitioning helpers shared by operator modules."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

# Below this many source bytes a light (not ``heavy``) spread is a no-op.
_MIN_BYTES = 64 << 20


def _input_bytes(df: DataFrame) -> int | None:
    """Total size of the DataFrame's source files (None if unknowable)."""
    try:
        files = df.inputFiles()
    except Exception:  # noqa: BLE001
        return None
    if not files:
        # No file scan behind this plan (in-memory, JDBC, derived source):
        # size is unknowable, NOT "zero bytes" — callers must not mistake
        # it for a small input and skip repartitioning a huge source.
        return None
    total = 0
    for f in files:
        path = f.removeprefix("file://").removeprefix("file:")
        try:
            total += os.path.getsize(path)
        except OSError:
            return None
    return total


def spread(df: DataFrame, heavy: bool = False) -> DataFrame:
    """Repartition to full parallelism before expensive per-row compute
    — ADAPTIVELY: a no-op whenever the shuffle cannot pay for itself.

    Input splits follow file sizes — a corpus arriving as a few small
    files would otherwise run per-row hashing / shingling / vector
    math on a few cores. But the repartition moves the raw projected
    columns (for text operators, the documents themselves), so it only
    pays when the downstream work dwarfs one extra pass over the data:

    * already parallel (>= half the target partitions): no-op — the
      100 TB case, where file splits provide the parallelism for free;
    * small source (< ``_MIN_BYTES``, 64 MiB) and not ``heavy``: no-op — a
      single-core scan of a few MB beats shuffling it (measured 2x on
      word_count/tf_idf at the bench scale);
    * ``heavy=True`` callers (per-shingle md5 pipelines and similar,
      where compute per byte is extreme AND downstream AQE would
      otherwise coalesce their small shuffles onto too few cores)
      repartition whenever under-parallel, regardless of size.
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    try:
        parts = df.rdd.getNumPartitions()
    except Exception:  # noqa: BLE001
        return df.repartition(n)
    if parts >= max(2, n // 2):
        return df
    if not heavy:
        total = _input_bytes(df)
        if total is not None and total < _MIN_BYTES:
            return df
    return df.repartition(n)
