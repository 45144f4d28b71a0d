"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin
on DuckDB over the same parquet tables, then compares row count,
schema (column names), and an order-insensitive value hash. Use while
iterating so CORRECTNESS_r{N}.json holds no surprises.

Usage:
    python tools/check_oracle.py [--vanilla] [sf_dir] [query ...]

--vanilla builds the SparkSession the way the DRIVER does — bare
``SparkSession.builder.master("local[*]")`` with none of the repo's
engine confs — so session-portability breaks (e.g. round 1's
TIMESTAMP(NANOS) failures, invisible under get_spark()) surface
locally before the driver finds them.
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _norm_cell(v) -> str:
    """Normalize a cell for hashing, tolerant of engine representation drift."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # Round 7 shipped a flaky query because 9g swallowed a
        # cent-level divergence (digit 11 of a ~1e8 sum) that the
        # driver's gate caught; the local gate must be at least as
        # strict as the driver's. 15 significant digits catches that
        # class while tolerating the one class the driver also
        # tolerates (driver-green across r1-r7): last-ulp
        # decimal->double conversion skew, where Java's
        # BigDecimal.doubleValue (correctly rounded) and DuckDB's
        # int128/10^scale double division land on adjacent doubles
        # (e.g. ...5.55702698 vs ...5.55702704, identical through
        # digit 15). Full 17g/repr would flag every such cast.
        return f"{v:.15g}"
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    if hasattr(v, "isoformat"):  # datetime / date
        s = v.isoformat(sep=" ") if hasattr(v, "hour") else v.isoformat()
        return s.replace("+00:00", "")
    return str(v)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(_norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


# --- streaming (memory-bounded) gate -------------------------------
# MMR_STREAM_HASH=1 swaps the collect-then-sort hash above for a
# commutative multiset digest (sum of per-row sha256 mod 2^256)
# computed row-at-a-time, so the 30M-row pair-emitter results of an
# sf10 sweep never materialize as a Python list: the default path's
# list+sorted-lines peaked past 40 GB per process and the kernel
# OOM-killed three of four parallel sweep chunks. Both engines are
# digested with the SAME function, so PASS/FAIL semantics are
# unchanged; only the hash VALUE differs from the default path (it is
# never compared across modes). Mismatch diff samples are skipped in
# this mode — rerun the failing query without the flag on a smaller sf
# to see rows.

STREAM_HASH = os.environ.get("MMR_STREAM_HASH") == "1"
_DIGEST_MOD = 1 << 256


def stream_digest(cols: list[str], row_iter) -> tuple[int, str]:
    """(row_count, commutative value digest) over an iterable of row
    tuples, O(1) memory."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    total = 0
    n = 0
    for r in row_iter:
        line = "\x1f".join(_norm_cell(r[i]) for i in order) + "\n"
        total = (total + int.from_bytes(hashlib.sha256(line.encode()).digest())) % _DIGEST_MOD
        n += 1
    return n, f"{total:064x}"


def duck_rows(res, batch: int = 65536):
    while True:
        chunk = res.fetchmany(batch)
        if not chunk:
            return
        yield from chunk


def spark_rows_streaming(df):
    """Row tuples without a driver-side list-of-Rows.

    Fast path: one Arrow collect (tens of bytes/row instead of the ~1 KB
    a Python Row costs), converted to Python objects one 64k batch at a
    time. Map/struct/variant columns fall back to toLocalIterator —
    their Arrow as_py() representation (list-of-tuples / dict) diverges
    from what Row yields, and hash parity with the DuckDB side is
    calibrated against Row semantics.
    """
    dtypes_str = " ".join(t for _, t in df.dtypes)
    if any(k in dtypes_str for k in ("map<", "struct<", "variant")):
        yield from (tuple(r) for r in df.toLocalIterator(prefetchPartitions=True))
        return
    tbl = df.toArrow()
    for batch in tbl.to_batches(max_chunksize=65536):
        yield from zip(*(c.to_pylist() for c in batch.columns))


def main() -> int:
    argv = sys.argv[1:]
    vanilla = "--vanilla" in argv
    argv = [a for a in argv if a != "--vanilla"]
    sf_dir = argv[0] if argv and os.path.isdir(argv[0]) else "/root/testdata/sf0.01"
    only = set(argv[1:] if argv and os.path.isdir(argv[0]) else argv)

    import __spark_entry__ as e

    if vanilla:
        # Mirror the driver: a bare session, no repo confs. Queries must
        # self-provision anything they need (runtime conf.set in
        # load_table etc.) for this to stay green.
        # MMR_VANILLA_MASTER caps cores when several sweep CHUNKS share
        # the box (the sf10 full sweep runs 4 processes); the default
        # stays the driver's local[*].
        from pyspark.sql import SparkSession

        # A bare session does not get get_spark's worker PYTHONPATH, and
        # Python workers inherit cwd + PYTHONPATH, not the driver's
        # sys.path: keep the repo importable on executors when the tool
        # runs from another directory (pickled Python-data-source
        # classes need it).
        os.environ["PYTHONPATH"] = (
            REPO + os.pathsep + os.environ.get("PYTHONPATH", "")
        ).rstrip(os.pathsep)
        master = os.environ.get("MMR_VANILLA_MASTER", "local[*]")
        builder = SparkSession.builder.master(master)
        # GATE infrastructure, not an engine conf: the streaming-hash
        # path still materializes each result as one Arrow table on
        # the driver, so an sf10 pair-emitter result (~25M rows) trips
        # the default 1g maxResultSize before the digest ever runs.
        # Raising it only widens the gate's own collect; queries still
        # see a driver-default session. Unset = driver parity.
        maxres = os.environ.get("MMR_DRIVER_MAXRESULT")
        if maxres:
            builder = builder.config("spark.driver.maxResultSize", maxres)
        spark = builder.getOrCreate()
        print(f"session: VANILLA (driver-style, no engine confs, {master})")
    else:
        from mock_map_reduce_spark import get_spark

        spark = get_spark("oracle-check")
    con = duckdb.connect()
    # Bound the ORACLE's memory so a DuckDB blow-up (observed: the
    # unrolled-epoch hinge-training SQL at sf10 grew the process past
    # 65 GB and the kernel OOM-killed the whole sweep) degrades to a
    # spill or a per-query OutOfMemoryException instead of killing the
    # gate. Overridable for boxes of other sizes.
    con.execute(
        f"SET memory_limit='{os.environ.get('MMR_DUCKDB_MEMLIMIT', '24GB')}'"
    )
    # Bound the oracle's SPILL too: at sf10 a pair-emitting oracle
    # (dedup_clusters' recursive components) spilled >70 GB and nearly
    # filled the sandbox disk (the round-10 sweep died exactly this
    # way). With a cap the query fails cleanly as gate-infra instead of
    # taking the machine down.
    con.execute(
        "SET max_temp_directory_size="
        f"'{os.environ.get('MMR_DUCKDB_TEMPLIMIT', '40GB')}'"
    )
    # Per-process spill dir: DuckDB's default temp_directory is the
    # RELATIVE '.tmp', so parallel sweep chunks running from the same
    # cwd share it — one process cleaning up removed another's spill
    # file mid-query and DuckDB aborted the whole process with a C++
    # terminate (IOException in a destructor), killing the chunk.
    tmpdir = f"/tmp/mmr_duckdb_tmp_{os.getpid()}"
    os.makedirs(tmpdir, exist_ok=True)
    con.execute(f"SET temp_directory='{tmpdir}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = e.queries(), e.oracle_sql()
    n_pass = n_fail = n_rowsonly = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            cols = df.columns
            if STREAM_HASH:
                rows = None
                n_rows, s_digest = stream_digest(cols, spark_rows_streaming(df))
            else:
                rows = [tuple(r) for r in df.collect()]
                n_rows, s_digest = len(rows), None
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {ex}")
            n_fail += 1
            continue
        finally:
            # Sweep hygiene: the result is fully local once collected,
            # so any materialize() pins the query created are dead —
            # drop them here or the 250-query session accumulates
            # MEMORY_AND_DISK blocks for the whole sweep (round-9
            # ADVICE on materialize lifecycle).
            try:
                spark.catalog.clearCache()
            except Exception:  # noqa: BLE001
                pass
        dt = time.time() - t0
        if name not in oracles:
            print(f"rows-only  {name}: {n_rows} rows  [{dt:.1f}s]")
            n_rowsonly += 1
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            if STREAM_HASH:
                orows = None
                n_orows, o_digest = stream_digest(ocols, duck_rows(res))
            else:
                orows = res.fetchall()
                n_orows, o_digest = len(orows), None
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {ex}")
            n_fail += 1
            continue
        problems = []
        if n_rows != n_orows:
            problems.append(f"rowcount spark={n_rows} duck={n_orows}")
        if sorted(cols) != sorted(ocols):
            problems.append(f"schema spark={sorted(cols)} duck={sorted(ocols)}")
        else:
            # logical type alignment (DuckDB type -> Spark dtype)
            # HUGEINT deliberately has no Spark twin: DuckDB widens
            # SUM(INTEGER) to int128, which driver-side pandas/Arrow
            # materialization renders as float64 and hash-diverges from
            # Spark's bigint (r3 sql_q12 failure). Oracles must CAST
            # integer sums to BIGINT.
            type_map = {
                "BIGINT": "bigint", "HUGEINT": "hugeint (CAST oracle SUM to BIGINT)",
                "INTEGER": "int",
                "DOUBLE": "double", "VARCHAR": "string", "FLOAT": "float",
                "BOOLEAN": "boolean",
            }
            rel = con.sql(oracles[name])
            sdt = dict(zip(cols, [t for _, t in df.dtypes]))
            for col, dtype in zip(rel.columns, rel.types):
                want = type_map.get(str(dtype), str(dtype).lower())
                if sdt.get(col) != want:
                    problems.append(f"type {col}: spark={sdt.get(col)} duck={want}")
        if not problems:
            if STREAM_HASH:
                if s_digest != o_digest:
                    problems.append(
                        "value-digest mismatch (streaming mode: rerun "
                        "without MMR_STREAM_HASH at a smaller sf for a "
                        "row diff)"
                    )
            elif value_hash(cols, rows) != value_hash(ocols, orows):
                problems.append("value-hash mismatch")
                # show a diff sample
                s = {"\x1f".join(_norm_cell(r[i]) for i in sorted(range(len(cols)), key=lambda i: cols[i])) for r in rows}
                o = {"\x1f".join(_norm_cell(r[i]) for i in sorted(range(len(ocols)), key=lambda i: ocols[i])) for r in orows}
                for x in list(s - o)[:3]:
                    problems.append(f"  spark-only: {x!r}")
                for x in list(o - s)[:3]:
                    problems.append(f"  duck-only:  {x!r}")
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems))
            n_fail += 1
        else:
            print(f"PASS  {name}: {n_rows} rows  [{dt:.1f}s]")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
