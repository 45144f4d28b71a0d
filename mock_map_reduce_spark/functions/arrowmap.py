"""One Python-worker map over Arrow batches: every per-record kernel.

``arrow_map(kernel, df, columns, out_schema)`` runs ``kernel`` over
``df.select(*columns)`` with ``mapInArrow`` and owns where it runs:

* ``df`` is pinned (``cache()``, ``persist()`` and ``materialize``
  return the same object, so ``df.is_cached`` says so): in place.
  Spreading a pin would reshuffle its cached blocks.
* ``df`` is the very DataFrame an earlier ``arrow_map`` returned and
  ``columns`` are among its columns: fused with that map (below).
* Otherwise over ``spread(df.select(*columns))``: a kernel is per-row
  heavy work. Callers hand over their unspread projection: spread's
  probe over an earlier spread fires a Spark job.

Spark does not merge adjacent ``MapInArrow`` nodes, so two maps in a row
hold two Python workers per task and send the payload across the
JVM/Python boundary twice. A fused map reads the producer's source and
runs producer kernel -> schema check -> column selection -> consumer
kernel. The check is the one Spark makes between two maps: every
intermediate batch must have the producer's declared Arrow schema, or a
ValueError names the producer. Chains of any length compose the same way.
"""

from __future__ import annotations

import sys
from collections.abc import Callable, Iterable, Iterator, Sequence

import pyarrow as pa
from pyspark import cloudpickle
from pyspark.sql import DataFrame

from mock_map_reduce_spark.functions.arrowcols import schema as arrow_schema
from mock_map_reduce_spark.functions.partitioning import spread

Kernel = Callable[[Iterator[pa.RecordBatch]], Iterable[pa.RecordBatch]]

# Set on each DataFrame arrow_map returns: (source, stages), one stage
# per kernel: (kernel, the columns it reads from the previous stage's
# output or None for the first, declared output DDL).
_CHAIN = "_arrow_map_chain"


def arrow_map(
    kernel: Kernel, df: DataFrame, columns: Sequence[str], out_schema: str
) -> DataFrame:
    """``kernel`` over the Arrow batches of ``df``'s ``columns`` in a
    Python worker, returning ``out_schema`` (a Spark DDL string); see
    the module docstring for where it runs."""
    columns = list(columns)
    source, stages = vars(df).get(_CHAIN, (None, ()))
    if df.is_cached:
        source, stages = df.select(*columns), ((kernel, None, out_schema),)
    elif stages and set(columns) <= set(df.columns):
        stages += ((kernel, columns, out_schema),)
    else:
        source, stages = spread(df.select(*columns)), ((kernel, None, out_schema),)
    # only a producer's output is checked, so only its DDL must be flat
    checks = [arrow_schema(ddl) for _, _, ddl in stages[:-1]]

    def run(batches):
        out = stages[0][0](batches)
        for (producer, _, _), schema, (consumer, cols, _) in zip(stages, checks, stages[1:]):
            out = consumer(_handed_over(out, producer, schema, cols))
        yield from out

    result = source.mapInArrow(run, out_schema)
    setattr(result, _CHAIN, (source, stages))
    return result


def _handed_over(
    batches: Iterable[pa.RecordBatch], producer: Kernel, schema: pa.Schema, columns: list[str]
) -> Iterator[pa.RecordBatch]:
    """The producer's batches as the next kernel reads them, after the
    schema check Spark would make between the two maps."""
    for batch in batches:
        if not isinstance(batch, pa.RecordBatch) or batch.schema != schema:
            got = batch.schema if isinstance(batch, pa.RecordBatch) else type(batch).__name__
            raise ValueError(
                f"arrow_map producer {producer.__qualname__} returned {got!s},"
                f" not its declared schema {schema!s}"
            )
        yield batch.select(columns)


# Ship by value, like functions/arrowcols.py: a worker runs the fused map
# without the repo on its sys.path.
cloudpickle.register_pickle_by_value(sys.modules[__name__])
