"""Pairs of an array column's elements, for the grouped similarity joins.

Every pair-emitting operator (LSH and SimHash buckets, n-gram and
prefix posting lists, embedding buckets, order baskets) groups ids by a
key into one array per key and then needs each unordered pair of that
array's elements: the MapReduce similarity-join pattern, with no
self-join. ``ordered_pairs`` is that second step.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def ordered_pairs(df: DataFrame, arr: str, a: str, b: str) -> DataFrame:
    """(a, b): each unordered pair of ``arr``'s elements once per row of
    ``df``, with ``a`` before ``b`` in array order.

    Element i is exploded with its position, then paired with the slice
    after it, so a task holds one array and its slices, never the
    O(size^2) pair array. On a sorted array ``a <= b`` holds by
    construction. Rows whose array is null or has fewer than two
    elements emit nothing.
    """
    return (
        df.filter(F.size(arr) > 1)
        .select(arr, F.posexplode(arr).alias("__i", a))
        .select(a, F.explode(F.expr(f"slice(`{arr}`, __i + 2, size(`{arr}`))")).alias(b))
    )
