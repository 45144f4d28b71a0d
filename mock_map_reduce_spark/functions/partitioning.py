"""Partitioning helpers shared by operator modules."""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread(df: DataFrame) -> DataFrame:
    """Repartition to full parallelism before per-row-heavy compute
    (md5 per shingle or token, vector folds, Arrow kernels).

    Input splits follow file sizes, so a corpus arriving as a few small
    files would otherwise run that work on a few cores, and downstream
    AQE would coalesce its small shuffles onto as few. One rule: a frame
    with fewer than half the target partitions (at least 2) is
    repartitioned round-robin to ``defaultParallelism``; any other frame
    is returned as is — the 100 TB case, where file splits provide the
    parallelism for free. Cheap per-row projections (tokenize, token
    stats, TF-IDF) do not call it: one pass over their split costs less
    than moving the text.
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    try:
        parts = df.rdd.getNumPartitions()
    except Exception:  # noqa: BLE001
        return df.repartition(n)
    if parts >= max(2, n // 2):
        return df
    return df.repartition(n)
