"""Custom Python data source (Spark 4 ``pyspark.sql.datasource``):
a deterministic synthetic-documents source with real split planning
and filter pushdown.

This generalizes the reference's split enumeration (SURVEY §2.1 S2 —
master.cc byte-range chunking): the SOURCE decides its partitions,
and pushed-down predicates prune whole partitions before any task
launches — the Python-API twin of parquet's PartitionFilters.

Usage::

    spark.dataSource.register(SynthDocsDataSource)
    df = (spark.read.format("synthdocs")
          .option("n_docs", 10_000).option("n_shards", 32).load())

Pushdown contract: conjunctive ``doc_id`` range/equality filters
(``>=``, ``>``, ``<``, ``<=``, ``=``) narrow the planned shard set;
everything else is left for Spark to evaluate (returned un-consumed
from ``pushFilters``). Spark re-applies even the consumed filters,
so over-accepting can only prune, never corrupt.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)

from mock_map_reduce_spark.functions.zipimports import reuse_zip_directories

SCHEMA = "doc_id bigint, shard int, text string, n_chars int"


def synth_row(i: int) -> tuple[int, int, str, int]:
    """Deterministic row for doc id ``i`` (shard filled in by caller)."""
    h = hashlib.md5(str(i).encode()).hexdigest()
    text = f"doc {i} {h[:12]}"
    return (i, -1, text, len(text))


@dataclass
class Shard(InputPartition):
    start: int  # inclusive
    end: int  # exclusive
    index: int


class SynthDocsReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.n_docs = int(options.get("n_docs", 1000))
        self.n_shards = int(options.get("n_shards", 8))
        self.lo = 0  # inclusive pushed lower bound
        self.hi = self.n_docs  # exclusive pushed upper bound

    def pushFilters(self, filters: list[Filter]):  # noqa: N802 (API name)
        for f in filters:
            col = getattr(f, "attribute", None)
            if col == ("doc_id",):
                if isinstance(f, GreaterThanOrEqual):
                    self.lo = max(self.lo, int(f.value))
                    continue
                if isinstance(f, GreaterThan):
                    self.lo = max(self.lo, int(f.value) + 1)
                    continue
                if isinstance(f, LessThan):
                    self.hi = min(self.hi, int(f.value))
                    continue
                if isinstance(f, LessThanOrEqual):
                    self.hi = min(self.hi, int(f.value) + 1)
                    continue
                if isinstance(f, EqualTo):
                    self.lo = max(self.lo, int(f.value))
                    self.hi = min(self.hi, int(f.value) + 1)
                    continue
            yield f  # not handled here: Spark evaluates it post-scan

    def partitions(self) -> list[Shard]:
        """Equal-width shards intersected with the pushed [lo, hi) —
        shards fully outside the bound never become tasks."""
        width = max(1, -(-self.n_docs // self.n_shards))
        out = []
        for s in range(self.n_shards):
            a, b = s * width, min((s + 1) * width, self.n_docs)
            a2, b2 = max(a, self.lo), min(b, self.hi)
            if a2 < b2:
                out.append(Shard(a2, b2, s))
        # Spark requires >= 1 partition even for an empty result
        return out or [Shard(0, 0, 0)]

    def read(self, partition: Shard):
        reuse_zip_directories()
        for i in range(partition.start, partition.end):
            doc_id, _, text, n = synth_row(i)
            yield (doc_id, partition.index, text, n)


class SynthDocsDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "synthdocs"

    def schema(self) -> str:
        return SCHEMA

    def reader(self, schema) -> SynthDocsReader:  # noqa: ANN001
        return SynthDocsReader(self.options)

    def simpleStreamReader(self, schema):  # noqa: ANN001, N802
        return SynthDocsStreamReader(self.options)

    def writer(self, schema, overwrite):  # noqa: ANN001
        return JsonlDirWriter(self.options, overwrite)


class SynthDocsStreamReader:
    """Simple streaming reader over the same synthetic corpus: each
    micro-batch advances one shard, so a finite corpus streams shard
    by shard and then idles (offset stops advancing).

    ``pyspark.sql.datasource.SimpleDataSourceStreamReader`` contract:
    offsets are dicts; ``read(start)`` returns (rows, next_offset);
    replays between offsets are exact (``readBetweenOffsets``), which
    is what makes the source recoverable from a checkpoint.
    """

    def __init__(self, options: dict) -> None:
        self.n_docs = int(options.get("n_docs", 1000))
        self.n_shards = int(options.get("n_shards", 8))
        self.width = max(1, -(-self.n_docs // self.n_shards))

    def initialOffset(self) -> dict:  # noqa: N802
        return {"next_doc": 0}

    def _rows(self, a: int, b: int):
        # a LIST ITERATOR: the runtime requires an iterator (next())
        # yet also pickles it for prefetch replay — a generator fails
        # pickling, a bare list fails next(); iter(list) satisfies both
        return iter(
            [(i, a // self.width, *synth_row(i)[2:]) for i in range(a, b)]
        )

    def read(self, start: dict):  # noqa: N802
        a = int(start["next_doc"])
        b = min(a + self.width, self.n_docs)
        return self._rows(a, b), {"next_doc": b}

    def readBetweenOffsets(self, start: dict, end: dict):  # noqa: N802
        return self._rows(int(start["next_doc"]), int(end["next_doc"]))

    def commit(self, end: dict) -> None:
        pass




@dataclass
class _TaskFile(WriterCommitMessage):
    path: str
    n_rows: int


class JsonlDirWriter(DataSourceWriter):
    """Writer half of the custom source: JSON-lines files with the
    classic two-phase commit — each task writes a uniquely-named temp
    file and reports it in its commit message; only the DRIVER's
    ``commit`` renames the complete set into place (``abort`` deletes
    the temps). A re-executed task overwrites its own temp file, so
    speculative/retried attempts cannot double-count — the same
    rename-on-commit protocol as Spark's file sinks (and the
    reference's text sink, slave.cc append, made exactly-once).
    """

    def __init__(self, options: dict, overwrite: bool) -> None:
        self.path = options["path"]
        self.overwrite = overwrite

    def write(self, iterator) -> _TaskFile:  # noqa: ANN001
        reuse_zip_directories()
        import json
        import os

        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx else 0
        os.makedirs(os.path.join(self.path, "_tmp"), exist_ok=True)
        tmp = os.path.join(self.path, "_tmp", f"part-{pid:05d}.jsonl")
        n = 0
        with open(tmp, "w") as fh:
            for row in iterator:
                fh.write(json.dumps(row.asDict()) + "\n")
                n += 1
        return _TaskFile(path=tmp, n_rows=n)

    def commit(self, messages) -> None:  # noqa: ANN001
        import os

        for m in messages:
            final = os.path.join(self.path, os.path.basename(m.path))
            os.replace(m.path, final)
        try:
            os.rmdir(os.path.join(self.path, "_tmp"))
        except OSError:
            pass

    def abort(self, messages) -> None:  # noqa: ANN001
        import os
        import shutil

        shutil.rmtree(os.path.join(self.path, "_tmp"), ignore_errors=True)
