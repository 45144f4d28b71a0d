"""One Python-worker map over Arrow batches, fused with the map before it.

``arrow_map(kernel, df, columns, out_schema)`` is
``spread(df.select(*columns), heavy=True).mapInArrow(kernel, out_schema)``,
the shape of every per-record media map. Spark does not merge adjacent
``MapInArrow`` nodes, so two such maps in a row hold two Python workers
per task and send the payload across the JVM/Python boundary twice.
``arrow_map`` therefore runs its kernel in the same worker as the map
that produced ``df`` when all of these hold:

* ``df`` is the very DataFrame an earlier ``arrow_map`` returned, so no
  transformation sits in between;
* ``df`` is not persisted (``cache()``, ``persist()`` and
  ``materialize`` return the same object, so this is checked here);
* ``columns`` are among that map's output columns.

The fused map reads the producer's spread source and runs producer
kernel -> schema check -> column selection -> consumer kernel. The check
is the one Spark makes between two maps: every intermediate batch must
have the producer's declared Arrow schema, or a ValueError names the
producer. Chains of any length compose the same way.
"""

from __future__ import annotations

import sys
from collections.abc import Callable, Iterable, Iterator, Sequence

import pyarrow as pa
from pyspark import cloudpickle
from pyspark.sql import DataFrame

from mock_map_reduce_spark.functions.arrowcols import schema as arrow_schema
from mock_map_reduce_spark.functions.partitioning import spread
from mock_map_reduce_spark.functions.zipimports import reuse_zip_directories

Kernel = Callable[[Iterator[pa.RecordBatch]], Iterable[pa.RecordBatch]]

# Set on each DataFrame arrow_map returns: (spread source, stages), one
# stage per kernel: (kernel, the columns it reads from the previous
# stage's output or None for the first, declared output schema).
_CHAIN = "_arrow_map_chain"


def arrow_map(
    kernel: Kernel, df: DataFrame, columns: Sequence[str], out_schema: str
) -> DataFrame:
    """``kernel`` over the Arrow batches of ``df``'s ``columns`` in a
    Python worker, returning ``out_schema`` (a flat Spark DDL string);
    fused with the ``arrow_map`` that produced ``df`` when it can be
    (see the module docstring)."""
    columns = list(columns)
    declared = arrow_schema(out_schema)
    source, stages = vars(df).get(_CHAIN, (None, ()))
    if stages and not df.is_cached and set(columns) <= set(stages[-1][2].names):
        stages += ((kernel, columns, declared),)
    else:
        source, stages = spread(df.select(*columns), heavy=True), ((kernel, None, declared),)

    def run(batches):
        reuse_zip_directories()
        out = stages[0][0](batches)
        for (producer, _, schema), (consumer, cols, _) in zip(stages, stages[1:]):
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
