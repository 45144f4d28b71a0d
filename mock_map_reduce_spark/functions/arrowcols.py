"""Pandas-free Arrow columns for the Python-worker kernels.

pyarrow 16 imports pandas the first time a process calls ``pa.array``,
``Array.to_numpy`` (and so ``np.asarray`` on an Arrow array),
``pa.scalar``, ``pa.table`` over Python lists,
``RecordBatch.from_pydict``/``from_pylist`` or ``Schema.empty_table``:
about 39 MB of RSS and 0.35 CPU-s in every Python worker that does.
``pa.Array.from_buffers``, ``RecordBatch.from_arrays``,
``Table.from_arrays``, ``to_pylist``, ``cast``, ``take`` with an Arrow
index, ``concat_arrays`` and the ``pyarrow.compute``
string kernels do not.

The engine's kernels build and read their columns with the helpers
below, so a worker that runs only engine kernels never loads pandas
(``tests/test_arrowcols.py`` runs each kernel in a fresh interpreter
and checks):

* builders: ``numeric`` (NumPy array or list of numbers), ``strings``
  (``str``/``bytes`` items, string or binary type), ``fixed_width``
  (a byte matrix, one row per string), ``decimals`` (unscaled ints),
  and ``column``/``rows_batch`` for Python values with ``None`` as null
  (``rows_batch([], schema)`` is the typed empty batch);
* readers: ``numbers`` (a NumPy view of a primitive column) and
  ``fixed_dim`` (the (rows, dim) view of a list column, and the one
  dense-layout guard);
* ``schema``: a flat Spark DDL string as an Arrow schema.
"""

from __future__ import annotations

import re
import sys
from collections.abc import Sequence

import numpy as np
import pyarrow as pa

from pyspark import cloudpickle

# Largest byte offset a string/binary column (int32 offsets) can hold.
MAX_OFFSET = 2**31 - 1


def _np_dtype(type: pa.DataType) -> np.dtype:
    if pa.types.is_floating(type):
        kind = "f"
    elif pa.types.is_signed_integer(type):
        kind = "i"
    elif pa.types.is_unsigned_integer(type):
        kind = "u"
    else:
        raise TypeError(f"no NumPy view of Arrow type {type}")
    return np.dtype(f"<{kind}{type.bit_width // 8}")


def _validity(valid, n: int) -> tuple[pa.Buffer | None, int]:
    """(validity bitmap or None, null count) for a per-row bool mask."""
    if valid is None:
        return None, 0
    valid = np.asarray(valid, dtype=bool)
    if valid.shape != (n,):
        raise ValueError(f"validity mask of shape {valid.shape} for {n} rows")
    nulls = n - int(np.count_nonzero(valid))
    if nulls == 0:
        return None, 0
    return pa.py_buffer(np.packbits(valid, bitorder="little")), nulls


def numeric(values, type: pa.DataType, valid=None) -> pa.Array:
    """Integer or floating column from a NumPy array or a list of
    numbers. ``valid`` (one bool per row, False = null) adds a validity
    bitmap; the value under a null is ignored."""
    data = np.ascontiguousarray(values, dtype=_np_dtype(type))
    bitmap, nulls = _validity(valid, len(data))
    return pa.Array.from_buffers(
        type, len(data), [bitmap, pa.py_buffer(data)], null_count=nulls
    )


def _check_size(nbytes: int, rows: int, type: pa.DataType) -> None:
    if nbytes > MAX_OFFSET:
        raise ValueError(
            f"a {type} column of {rows} rows holds {nbytes} bytes, more than"
            f" the {MAX_OFFSET} its int32 offsets can address; emit it in"
            " smaller batches"
        )


def _offsets(lengths: np.ndarray, type: pa.DataType) -> pa.Buffer:
    offsets = np.zeros(len(lengths) + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    _check_size(int(offsets[-1]), len(lengths), type)
    return pa.py_buffer(offsets.astype(np.int32))


def strings(values: Sequence[str | bytes | None], type: pa.DataType = pa.string()) -> pa.Array:
    """String or binary column; ``str`` items are UTF-8 encoded and
    ``None`` is null. Raises ValueError when the bytes overflow the
    int32 offsets."""
    if not (pa.types.is_string(type) or pa.types.is_binary(type)):
        raise TypeError(f"strings() builds string or binary columns, not {type}")
    items = [b"" if v is None else v.encode() if isinstance(v, str) else v for v in values]
    bitmap, nulls = _validity([v is not None for v in values], len(items))
    lengths = np.fromiter(map(len, items), dtype=np.int64, count=len(items))
    offsets = _offsets(lengths, type)  # before the join: fail without copying
    return pa.Array.from_buffers(
        type,
        len(items),
        [bitmap, offsets, pa.py_buffer(b"".join(items))],
        null_count=nulls,
    )


def fixed_width(chars: np.ndarray, type: pa.DataType = pa.string()) -> pa.Array:
    """String or binary column whose row i is the bytes of ``chars[i]``,
    a (rows, width) uint8 matrix, e.g. a block of hex digits."""
    rows, width = chars.shape
    _check_size(rows * width, rows, type)
    offsets = (np.arange(rows + 1, dtype=np.int64) * width).astype(np.int32)
    data = np.ascontiguousarray(chars, dtype=np.uint8)
    return pa.Array.from_buffers(
        type, rows, [None, pa.py_buffer(offsets), pa.py_buffer(data)]
    )


def decimals(values: Sequence[int | None], type: pa.Decimal128Type) -> pa.Array:
    """decimal128 column from unscaled integers (value x 10**scale);
    ``None`` is null."""
    zero = bytes(16)
    data = b"".join(
        zero if v is None else int(v).to_bytes(16, "little", signed=True) for v in values
    )
    bitmap, nulls = _validity([v is not None for v in values], len(values))
    return pa.Array.from_buffers(
        type, len(values), [bitmap, pa.py_buffer(data)], null_count=nulls
    )


def column(values: Sequence, type: pa.DataType) -> pa.Array:
    """Column of ``type`` from Python values, ``None`` as null: the
    pandas-free stand-in for ``pa.array(values, type=type)`` over the
    numeric, string, binary and decimal types the kernels emit."""
    if pa.types.is_string(type) or pa.types.is_binary(type):
        return strings(values, type)
    if pa.types.is_decimal(type):
        return decimals(values, type)
    return numeric(
        [0 if v is None else v for v in values], type, [v is not None for v in values]
    )


def rows_batch(rows: Sequence[tuple], schema: pa.Schema) -> pa.RecordBatch:
    """RecordBatch from row tuples in ``schema``'s field order; no rows
    give a typed empty batch (the one empty-result helper)."""
    cols = list(zip(*rows)) if rows else [()] * len(schema)
    return pa.RecordBatch.from_arrays(
        [column(c, f.type) for c, f in zip(cols, schema)], schema=schema
    )


_DDL_TYPES = {
    "int": pa.int32(),
    "bigint": pa.int64(),
    "long": pa.int64(),
    "double": pa.float64(),
    "string": pa.string(),
    "binary": pa.binary(),
}
_DDL_FIELD = re.compile(r"\s*(\w+)\s+(decimal\(\s*(\d+)\s*,\s*(\d+)\s*\)|\w+)\s*(?:,|$)")


def schema(ddl: str) -> pa.Schema:
    """Arrow schema of a flat Spark DDL string such as ``"doc_id long,
    payload binary"`` (int, bigint/long, double, string, binary and
    decimal(p,s) columns)."""
    fields, pos = [], 0
    while pos < len(ddl):
        m = _DDL_FIELD.match(ddl, pos)
        if m is None:
            raise ValueError(f"cannot read a column at {ddl[pos:]!r}")
        name, tname, prec, scale = m.groups()
        if prec is not None:
            fields.append(pa.field(name, pa.decimal128(int(prec), int(scale))))
        elif tname.lower() in _DDL_TYPES:
            fields.append(pa.field(name, _DDL_TYPES[tname.lower()]))
        else:
            raise ValueError(f"no Arrow type for DDL type {tname!r}")
        pos = m.end()
    return pa.schema(fields)


def _whole(col: pa.Array | pa.ChunkedArray) -> pa.Array:
    return col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col


def numbers(col: pa.Array | pa.ChunkedArray) -> np.ndarray:
    """Read-only NumPy view of a null-free integer or floating column
    (a copy only when ``col`` is chunked)."""
    col = _whole(col)
    dtype = _np_dtype(col.type)
    if col.null_count:
        raise ValueError(f"a {col.type} column with {col.null_count} nulls has no NumPy view")
    if len(col) == 0:
        return np.empty(0, dtype=dtype)
    return np.frombuffer(
        col.buffers()[1], dtype=dtype, count=len(col), offset=col.offset * dtype.itemsize
    )


def fixed_dim(
    col: pa.Array | pa.ChunkedArray,
    kernel: str,
    noun: str = "embedding",
    dim: int | None = None,
) -> np.ndarray:
    """(rows, dim) read-only NumPy view of a list<number> column.

    ``dim`` defaults to the first row's length. The dense-layout guard:
    a null row, a null element or a row of another length raises
    ValueError naming ``kernel``, because a dense reshape would silently
    shift every later row.
    """
    col = _whole(col)
    n = len(col)
    if n == 0:
        return np.empty((0, dim or 0), dtype=_np_dtype(col.type.value_type))
    offs = np.frombuffer(col.buffers()[1], dtype=np.int32, count=n + 1, offset=col.offset * 4)
    if dim is None:
        dim = int(offs[1] - offs[0])
    vals = col.values.slice(int(offs[0]), n * dim)
    if (
        col.null_count
        or np.any(np.diff(offs) != dim)
        or len(vals) != n * dim
        or vals.null_count
    ):
        raise ValueError(
            f"{kernel} kernel requires dense fixed-dim null-free {noun} lists"
            f" (dim {dim}); got ragged or null rows"
        )
    return numbers(vals).reshape(n, dim)


# Ship by value, like functions/zipimports.py: a worker runs the helpers
# without the repo on its sys.path.
cloudpickle.register_pickle_by_value(sys.modules[__name__])
