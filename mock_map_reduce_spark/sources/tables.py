"""Table loaders / sinks over the driver-provided parquet testdata.

Reference parity:
  * S1 HDFS text scan (slave.cc:207-253)  -> ``read_text`` /
    ``spark.read.text`` — record-aligned (SURVEY §1.4.1: we fix the
    reference's buffer-boundary word splitting by using real line
    records).
  * S2 byte-range chunking (master.cc:760-853, 100 KB chunks at
    master.cc:778) -> Spark input splits; ``spark.sql.files.
    maxPartitionBytes`` plays the role of chunk_size. No materialized
    chunk files.
  * S4 text/HDFS sink (master.cc:589-626) -> ``write_parquet`` /
    ``df.write`` — columnar by default.

Scale notes (100 TB): all readers take explicit paths a directory of
many files; parquet scans get predicate pushdown + column pruning from
Catalyst for free, so downstream operators must NOT defeat them
(no ``select("*")`` before filters, no UDF-wrapped predicates).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# Tables the driver generates at /root/testdata/sf*/ (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at ANY scale factor —
# TPC-H semantics fix region at 5 rows and nation at 25 rows, and
# supplier/part/customer grow ~linearly but stay far under the
# broadcast threshold relative to lineitem/orders. Join helpers use
# this to pick the broadcast side explicitly.
BROADCAST_SAFE = frozenset({"region", "nation", "supplier", "part"})


# WeakSet, not a set of id()s: CPython reuses addresses after GC, so
# an id-keyed guard could mistake a NEW session allocated at a freed
# session's address for an already-ensured one and silently skip the
# confs (round-10 ADVICE). Weak references track the live object
# itself and drop out when it is collected — collision-free and
# leak-free.
import weakref

_CONFS_ENSURED: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()


def ensure_session_confs(spark: SparkSession) -> None:
    """Make ANY session (including a vanilla driver-built one) able to
    read the testdata and produce deterministic timestamps.

    * ``events.parquet`` stores ``ts`` as TIMESTAMP(NANOS); Spark
      rejects that type outright unless
      ``spark.sql.legacy.parquet.nanosAsLong`` is set. The conf is
      runtime-settable, so we set it here — right before every read —
      rather than only at session-build time in ``session.get_spark``.
    * Pin the session time zone to UTC so timestamp formatting/
      extraction does not depend on the host JVM's zone.

    Set once per live session object: each conf.set is a py4j round
    trip, and load_table runs per table per query (register_views: 10
    tables). Nothing in the engine unsets these two confs, so the
    once-guard is safe; a NEW session re-ensures.
    """
    if spark in _CONFS_ENSURED:
        return
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    _CONFS_ENSURED.add(spark)


# Parquet SCHEMA cache (metadata, not results — the engine's stand-in
# for a catalog/metastore, which is what makes production scans skip
# footer inference). spark.read.parquet() runs a schema-inference JOB
# per call: ~40-70 ms × up to 10 tables per query invocation
# (register_views), on every bench rep. Keyed by (path, size, mtime)
# so a regenerated file re-infers; stores the DDL string only —
# every query still computes its RESULT from the parquet bytes.
_SCHEMA_CACHE: dict = {}


def _table_schema(spark: SparkSession, path: str):
    """StructType of ``path``, cached by (path, size, mtime)."""
    import os

    try:
        st = os.stat(path.removeprefix("file:"))
        # st_mtime_ns, not st_mtime: on filesystems with coarse mtime
        # granularity a same-size regeneration within the same second
        # would serve a stale schema (round-10 ADVICE). Nanosecond
        # resolution makes that window as small as the OS can see.
        key = (path, st.st_size, st.st_mtime_ns)
    except OSError:
        return None  # non-local path: let Spark infer
    if key not in _SCHEMA_CACHE:
        _SCHEMA_CACHE[key] = spark.read.parquet(path).schema
    return _SCHEMA_CACHE[key]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table as a DataFrame (columnar parquet scan).

    Side effect (via ``ensure_session_confs``): sets
    ``spark.sql.session.timeZone=UTC`` and
    ``spark.sql.legacy.parquet.nanosAsLong=true`` SESSION-WIDE on every
    call — any time zone a caller set intentionally is clobbered, and
    all parquet reads in the session (not just events) see nanos as
    long. Deliberate: matches the DuckDB oracle and survives
    vanilla driver-built sessions.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    ensure_session_confs(spark)
    path = f"{sf_dir}/{name}.parquet"
    schema = _table_schema(spark, path)
    if schema is not None:
        # Explicit schema skips the per-call footer-inference job; the
        # cached schema IS the inferred one, so plans are unchanged.
        df = spark.read.schema(schema).parquet(path)
    else:
        df = spark.read.parquet(path)
    return utc_ts(df) if name == "events" else df


def utc_ts(events: DataFrame) -> DataFrame:
    """``events`` (a batch or streaming frame) with ``ts`` as a real UTC
    TimestampType, whatever the file encodes — the generator has
    shipped BOTH of these:

    * TIMESTAMP(NANOS): with nanosAsLong it arrives as a long; truncate
      nanos -> micros (the truncation DuckDB's CAST(ts_ns AS TIMESTAMP)
      performs).
    * timestamp[us] isAdjustedToUTC=false: Spark 4 infers TIMESTAMP_NTZ,
      which unix_micros()/watermarks reject; with the session zone
      pinned to UTC (``ensure_session_confs``), a plain cast
      reinterprets the same wall-clock instant losslessly.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    ts_type = events.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        return events.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts_type, TimestampNTZType):
        return events.withColumn("ts", F.col("ts").cast("timestamp"))
    return events


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> tuple[DataFrame, ...]:
    """Read several tables at once: ``li, ords = load_tables(s, d, "lineitem", "orders")``."""
    return tuple(load_table(spark, sf_dir, n) for n in names)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for ``spark.sql``."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def read_text(spark: SparkSession, path: str) -> DataFrame:
    """Line-oriented text scan -> DataFrame[value: string].

    The Spark-native form of the reference's readfile()
    (slave.cc:207-253). Unlike the reference, records are real lines —
    a word can never straddle a record boundary (SURVEY §1.4.1).
    """
    return spark.read.text(path)


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite", partition_by: list[str] | None = None) -> None:
    """Columnar sink (replaces the reference's HDFS text sink, master.cc:623-626).

    ``partition_by`` enables partition pruning for downstream readers —
    at 100 TB, date/tenant partitioning is the difference between a
    full scan and a pruned one.
    """
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def read_csv(spark: SparkSession, path: str, schema: str | None = None, header: bool = True) -> DataFrame:
    """CSV scan with an EXPLICIT schema whenever the caller knows it.

    schema=None falls back to inference, which reads the data twice —
    never acceptable at 100 TB; pass the DDL string in production.
    Malformed rows land in PERMISSIVE-mode nulls rather than failing
    the job (a crawl shard with one bad line must not kill the stage).
    """
    r = spark.read.option("header", str(header).lower())
    if schema is not None:
        r = r.schema(schema)
    else:
        r = r.option("inferSchema", "true")
    return r.csv(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite", header: bool = True) -> None:
    df.write.mode(mode).option("header", str(header).lower()).csv(path)


def read_json(spark: SparkSession, path: str, schema: str | None = None) -> DataFrame:
    """JSON-lines scan; explicit schema skips the inference pass and
    keeps unknown fields out (schema-on-read column pruning still
    applies — Spark only parses the requested fields)."""
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    return r.json(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — same columnar pushdown/pruning contract as parquet."""
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).orc(path)


def compact_parquet(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    target_file_bytes: int = 128 << 20,
) -> int:
    """Compact a directory of small parquet files into ~target-sized
    ones; returns the output file count. The small-files maintenance
    job every streaming/incremental sink eventually needs: thousands
    of per-micro-batch or per-task files wreck scan planning (one
    split + one footer fetch each) long before they wreck storage.

    Sizing reads the real input bytes (not row counts), so the
    repartition width tracks compression ratio. A plain round-robin
    repartition balances output sizes; callers who also want
    cluster-key locality should instead write via layout.zorder_layout
    (operators/layout.py), which range-partitions on the Z-key.
    """
    import math
    import os

    df = spark.read.parquet(in_path)
    total = 0
    for f in df.inputFiles():
        p = f.removeprefix("file://").removeprefix("file:")
        try:
            total += os.path.getsize(p)
        except OSError:
            pass
    n = max(1, math.ceil(total / target_file_bytes))
    df.repartition(n).write.mode("overwrite").parquet(out_path)
    out = spark.read.parquet(out_path)
    return len(out.inputFiles())


class AuditFailed(RuntimeError):
    """Raised by write_audit_publish when an audit rejects the staged data."""


def write_audit_publish(
    df: DataFrame,
    table_dir: str,
    audits: "list[tuple[str, callable]]",
    partition_by: list[str] | None = None,
) -> str:
    """Write-Audit-Publish: stage the data invisibly, run audits
    against the STAGED files, and only then atomically promote — the
    load pattern that keeps a bad batch out of a 100 TB production
    table (Netflix's WAP / Iceberg's branch-commit workflow, built
    here from primitives: staging dir + audit pass + atomic rename).

    ``audits`` is [(name, fn)] where fn(staged_df) -> bool; any False
    aborts with AuditFailed, deletes the staging dir, and leaves the
    current published generation untouched — readers NEVER observe
    the rejected data. On success the staging dir renames to a new
    ``gen=<k>`` generation and ``_CURRENT`` (one tiny pointer file,
    written last) flips readers to it atomically: publish is one
    metadata operation regardless of data size, and a crash between
    rename and pointer write leaves the previous generation live.

    Audits re-read the staged PARQUET (not the input plan), so they
    check what readers would actually see — encode/serde defects
    included. Returns the published generation dir.
    """
    import os
    import shutil

    os.makedirs(table_dir, exist_ok=True)
    spark = df.sparkSession
    staging = os.path.join(table_dir, "_staging")
    if os.path.exists(staging):
        shutil.rmtree(staging)
    write_parquet(df, staging, partition_by=partition_by)

    staged = spark.read.parquet(staging)
    for name, fn in audits:
        if not fn(staged):
            shutil.rmtree(staging)
            raise AuditFailed(f"audit '{name}' rejected the staged batch")

    gens = [
        int(g.split("=", 1)[1])
        for g in os.listdir(table_dir)
        if g.startswith("gen=") and g.split("=", 1)[1].isdigit()
    ]
    new_gen = os.path.join(table_dir, f"gen={max(gens, default=-1) + 1}")
    os.rename(staging, new_gen)  # atomic on one filesystem
    tmp_ptr = os.path.join(table_dir, "_CURRENT.tmp")
    with open(tmp_ptr, "w") as f:
        f.write(os.path.basename(new_gen))
    os.replace(tmp_ptr, os.path.join(table_dir, "_CURRENT"))  # atomic flip
    return new_gen


def read_published(
    spark: SparkSession, table_dir: str, gen: int | None = None
) -> DataFrame:
    """Read the generation _CURRENT points at (see write_audit_publish),
    or time-travel to an explicit retained generation with ``gen=k`` —
    published generations are immutable, so any pinned reader
    (a reproducible training run, an incident investigation) keeps
    seeing exactly the data it started with."""
    import os

    if gen is not None:
        name = f"gen={gen}"
    else:
        with open(os.path.join(table_dir, "_CURRENT")) as f:
            name = f.read().strip()
    return spark.read.parquet(os.path.join(table_dir, name))


def read_xml(
    spark: SparkSession,
    path: str,
    row_tag: str = "row",
    schema: str | None = None,
) -> DataFrame:
    """XML scan (Spark 4 native `xml` source — the spark-xml package
    folded into core). Pass the DDL ``schema`` in production: like CSV,
    inference costs an extra full read. Malformed rows follow the same
    PERMISSIVE contract as the other text formats."""
    r = spark.read.format("xml").option("rowTag", row_tag)
    if schema is not None:
        r = r.schema(schema)
    return r.load(path)


def write_xml(
    df: DataFrame, path: str, row_tag: str = "row", mode: str = "overwrite"
) -> None:
    """XML sink (element-per-row); pairs with read_xml for the
    interchange-format round trip the serde functions cover at the
    row level."""
    df.write.format("xml").option("rowTag", row_tag).mode(mode).save(path)
