"""The pandas-free Arrow column helpers (functions/arrowcols.py) and the
kernels built on them: typed empty results, nulls, the shared
dense-layout guard, offset overflow, null media payloads, and a fresh
interpreter per kernel showing that no engine kernel imports pandas."""

from __future__ import annotations

import ast
import json
import os
import subprocess
import sys
from decimal import Decimal
from pathlib import Path

import numpy as np
import pyarrow as pa
import pytest
from pyspark import cloudpickle
from pyspark.sql import Row

from mock_map_reduce_spark.catalog import scale
from mock_map_reduce_spark.functions import arrowcols as ac
from mock_map_reduce_spark.operators import clustering as cl
from mock_map_reduce_spark.operators import dedup as dd
from mock_map_reduce_spark.operators import multimodal as mm
from mock_map_reduce_spark.operators import similarity as sim

ENGINE = Path(__file__).resolve().parent.parent / "mock_map_reduce_spark"

# Every output type a kernel emits.
ALL_TYPES = "i int, l bigint, d double, s string, b binary, m decimal(38,0)"


def test_schema_reads_flat_ddl():
    assert ac.schema(ALL_TYPES) == pa.schema(
        [
            ("i", pa.int32()),
            ("l", pa.int64()),
            ("d", pa.float64()),
            ("s", pa.string()),
            ("b", pa.binary()),
            ("m", pa.decimal128(38, 0)),
        ]
    )
    assert ac.schema("doc_id long, payload binary").names == ["doc_id", "payload"]
    for ddl in ("e array<double>", "x float"):
        with pytest.raises(ValueError):
            ac.schema(ddl)


def test_zero_rows_give_typed_empty_batches():
    schema = ac.schema(ALL_TYPES)
    batch = ac.rows_batch([], schema)
    assert batch.num_rows == 0
    assert batch.schema == schema
    batch.validate(full=True)
    for field in schema:
        col = ac.column([], field.type)
        assert (len(col), col.type) == (0, field.type)
    assert ac.numeric(np.empty(0), pa.float64()).type == pa.float64()
    assert ac.strings([], pa.binary()).type == pa.binary()
    assert ac.fixed_width(np.empty((0, 8), dtype=np.uint8)).to_pylist() == []
    assert ac.decimals([], pa.decimal128(38, 0)).type == pa.decimal128(38, 0)


def test_nulls_survive_the_round_trip():
    schema = ac.schema(ALL_TYPES)
    rows = [
        (1, 2**40, 0.5, "é", b"\x00\xff", -(10**30)),
        (None, None, None, None, None, None),
        (-3, None, float("inf"), "", b"", 0),
    ]
    batch = ac.rows_batch(rows, schema)
    batch.validate(full=True)
    assert batch.to_pylist() == [
        {"i": 1, "l": 2**40, "d": 0.5, "s": "é", "b": b"\x00\xff", "m": Decimal(-(10**30))},
        dict.fromkeys(schema.names),
        {"i": -3, "l": None, "d": float("inf"), "s": "", "b": b"", "m": Decimal(0)},
    ]
    assert [batch.column(i).null_count for i in range(len(schema))] == [1, 2, 1, 1, 1, 1]
    masked = ac.numeric(np.array([7, 8, 9]), pa.int64(), valid=[True, False, True])
    assert masked.to_pylist() == [7, None, 9]


def test_readers_are_views_of_the_buffers():
    arr = ac.numeric(np.arange(6, dtype=np.int64), pa.int64()).slice(2)
    assert ac.numbers(arr).tolist() == [2, 3, 4, 5]
    assert ac.numbers(pa.chunked_array([arr, arr])).tolist() == [2, 3, 4, 5] * 2
    lists = pa.ListArray.from_arrays(
        ac.numeric([0, 2, 4, 6], pa.int32()), ac.numeric(np.arange(6.0), pa.float64())
    ).slice(1)
    assert ac.fixed_dim(lists, "test").tolist() == [[2.0, 3.0], [4.0, 5.0]]
    assert ac.fixed_dim(lists.slice(0, 0), "test", dim=2).shape == (0, 2)
    with pytest.raises(ValueError, match="nulls"):
        ac.numbers(ac.column([1, None], pa.int64()))


@pytest.mark.parametrize(
    "rows, dim",
    [
        ([[1.0, 0.0], [0.0]], None),  # ragged
        ([[1.0, 0.0], None], None),  # null row
        ([[1.0, 0.0], [0.0, None]], None),  # null element
        ([[1.0, 0.0], [0.0, 1.0]], 3),  # not the expected dim
    ],
)
def test_the_shared_guard_rejects_ragged_or_null_rows(rows, dim):
    offs, vals, valid, row_ok = [0], [], [], []
    for r in rows:
        row_ok.append(r is not None)
        for x in r or []:
            vals.append(0.0 if x is None else x)
            valid.append(x is not None)
        offs.append(len(vals))
    col = pa.ListArray.from_arrays(
        ac.numeric(offs, pa.int32()),
        ac.numeric(vals, pa.float64(), valid=valid),
        mask=ac.column([not ok for ok in row_ok], pa.int8()).cast(pa.bool_()),
    )
    with pytest.raises(ValueError) as ei:
        ac.fixed_dim(col, "assignment", dim=dim)
    assert str(ei.value).startswith(
        "assignment kernel requires dense fixed-dim null-free embedding lists (dim"
    )
    assert str(ei.value).endswith("got ragged or null rows")


def test_offsets_past_int32_raise_a_clear_error():
    big = b"x" * (1 << 20)  # 2048 references to one 1 MiB object: 2 GiB of rows
    with pytest.raises(ValueError, match="int32 offsets"):
        ac.strings([big] * 2048, pa.binary())
    with pytest.raises(ValueError, match="int32 offsets"):
        ac.strings([big.decode()] * 2048)
    rows = np.broadcast_to(np.zeros(8, dtype=np.uint8), (1 << 28, 8))  # a view
    with pytest.raises(ValueError, match="int32 offsets"):
        ac.fixed_width(rows)
    assert len(ac.strings([big] * 2047, pa.binary())) == 2047  # 1 MiB short: fits


# -- the kernels -------------------------------------------------------


def _kernel(spark, monkeypatch, outer: str, run):
    """Call ``run()`` and return the function an operator defined in
    ``outer`` handed to mapInArrow, applyInArrow or arrow_map."""
    df = spark.range(1)
    seen = []

    def capture(m, owner, name):
        real = getattr(owner, name)

        def wrapper(*args, **kwargs):
            seen.append(args[0] if owner is mm else args[1])  # arrow_map(kernel, ...)
            return real(*args, **kwargs)

        m.setattr(owner, name, wrapper)

    with monkeypatch.context() as m:
        capture(m, type(df), "mapInArrow")  # the session's DataFrame class
        capture(m, type(df.groupBy("id")), "applyInArrow")
        capture(m, mm, "arrow_map")
        run()
    mine = [f for f in seen if f.__qualname__.split(".<locals>.")[0] == outer]
    assert mine, f"{outer} handed no function to mapInArrow/applyInArrow"
    return mine[0]


def _batch(**cols) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays(list(cols.values()), names=list(cols))


def _lists(rows, value_type=pa.float64()) -> pa.Array:
    offs = np.cumsum([0] + [len(r) for r in rows])
    return pa.ListArray.from_arrays(
        ac.numeric(offs, pa.int32()), ac.numeric([x for r in rows for x in r], value_type)
    )


TEXT = "the quick brown fox jumps over the lazy dog"
TEXTS = [TEXT, TEXT.upper(), "a b", None]
VECS = [[1.0, 0.0, 0.0, 0.0], [0.9, 0.1, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0], [0.0, 0.0, 1.0, 0.5]]


def _docs(spark):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(TEXTS)], "doc_id long, text string"
    )


def _vecs(spark):
    return spark.createDataFrame(
        [Row(vec_id=i, embedding=v) for i, v in enumerate(VECS)],
        "vec_id long, embedding array<double>",
    )


def _media(spark, synth):
    return spark.createDataFrame(
        [Row(doc_id=i, payload=synth(i)) for i in range(3)], "doc_id long, payload binary"
    )


def _doc_batch():
    return _batch(
        doc_id=ac.numeric(range(len(TEXTS)), pa.int64()), text=ac.column(TEXTS, pa.string())
    )


def _id_batch():
    return _batch(doc_id=ac.numeric([1, 2, 3], pa.int64()))


def _payload_batch(synth):
    return lambda: _batch(
        doc_id=ac.numeric([1, 2, 3], pa.int64()),
        payload=ac.strings([synth(i) for i in (1, 2, 3)], pa.binary()),
    )


# (file, operator) -> (how to make the operator hand over its kernel,
# the Arrow input a worker would get, grouped?). The coverage test
# below requires one entry per mapInArrow/applyInArrow site.
KERNELS = {
    ("operators/dedup.py", "shingles"): (lambda s, f: dd.shingles(_docs(s)), _doc_batch, False),
    ("operators/dedup.py", "minhash_signatures"): (
        lambda s, f: dd.minhash_signatures(_docs(s)), _doc_batch, False
    ),
    ("operators/dedup.py", "simhash"): (lambda s, f: dd.simhash(_docs(s)), _doc_batch, False),
    ("operators/clustering.py", "_assign_arrow"): (
        lambda s, f: cl._assign_arrow(
            _vecs(s).withColumnRenamed("embedding", "e"), [(0, VECS[0]), (2, VECS[2])]
        ),
        lambda: _batch(vec_id=ac.numeric(range(4), pa.int64()), e=_lists(VECS)),
        False,
    ),
    ("operators/clustering.py", "semdedup"): (
        lambda s, f: cl.semdedup(_vecs(s), threshold=0.9, k=2, n_iter=1),
        lambda: _batch(
            cell=ac.numeric([0] * 4, pa.int64()),
            vec_id=ac.numeric(range(4), pa.int64()),
            e=_lists(VECS),
        ),
        True,
    ),
    ("operators/clustering.py", "power_iteration_pc1"): (
        lambda s, f: cl.power_iteration_pc1(_vecs(s)),
        lambda: _batch(aq=_lists([[1, 2], [3, 4], [5, -6]], pa.int64())),
        False,
    ),
    ("operators/similarity.py", "pq_codes"): (
        lambda s, f: sim.pq_codes(_vecs(s), dim=4, m=2, k=2),
        lambda: _batch(vec_id=ac.numeric(range(4), pa.int64()), e=_lists(VECS)),
        False,
    ),
    ("operators/multimodal.py", "image_features"): (
        lambda s, f: mm.image_features(_media(s, mm.synthesize_image)),
        _payload_batch(mm.synthesize_image),
        False,
    ),
    ("operators/multimodal.py", "synthesize_image_table"): (
        lambda s, f: mm.synthesize_image_table(_docs(s)), _id_batch, False
    ),
    ("operators/multimodal.py", "audio_features"): (
        lambda s, f: mm.audio_features(_media(s, mm.synthesize_audio)),
        _payload_batch(mm.synthesize_audio),
        False,
    ),
    ("operators/multimodal.py", "synthesize_audio_table"): (
        lambda s, f: mm.synthesize_audio_table(_docs(s)), _id_batch, False
    ),
    ("operators/multimodal.py", "video_frame_features"): (
        lambda s, f: mm.video_frame_features(_media(s, mm.synthesize_video)),
        _payload_batch(mm.synthesize_video),
        False,
    ),
    ("operators/multimodal.py", "synthesize_video_table"): (
        lambda s, f: mm.synthesize_video_table(_docs(s)), _id_batch, False
    ),
    ("operators/multimodal.py", "byte_features"): (
        lambda s, f: mm.byte_features(_media(s, mm.synthesize_audio)),
        _payload_batch(mm.synthesize_audio),
        False,
    ),
    ("operators/multimodal.py", "frame_sample"): (
        lambda s, f: mm.frame_sample(_media(s, mm.synthesize_video)),
        _payload_batch(mm.synthesize_video),
        False,
    ),
    ("operators/multimodal.py", "resize_payload"): (
        lambda s, f: mm.resize_payload(_media(s, mm.synthesize_image)),
        _payload_batch(mm.synthesize_image),
        False,
    ),
    ("catalog/scale.py", "q_arrow_weighted_mean"): (
        lambda s, f: scale.q_arrow_weighted_mean(s, f),
        lambda: _batch(
            event_type=ac.column(["click"] * 3, pa.string()),
            user_id=ac.numeric([1, 2, 7], pa.int64()),
            value=ac.numeric([0.5, 1.25, 3.0], pa.float64()),
        ),
        True,
    ),
    ("catalog/scale.py", "q_arrow_map_doc_stats"): (
        lambda s, f: scale.q_arrow_map_doc_stats(s, f),
        lambda: _batch(
            lang=ac.column(["en", "de"], pa.string()), text=ac.column(["a b c", "xy"], pa.string())
        ),
        False,
    ),
}


def test_every_arrow_kernel_is_in_the_pandas_free_list():
    """(file, enclosing top-level def) of every mapInArrow, applyInArrow
    and arrow_map call under operators/ and in catalog/scale.py."""
    calls = {"mapInArrow", "applyInArrow", "arrow_map"}
    sites = set()
    paths = sorted((ENGINE / "operators").glob("*.py")) + [ENGINE / "catalog" / "scale.py"]
    for path in paths:
        for top in ast.parse(path.read_text()).body:
            for node in ast.walk(top):
                if isinstance(node, ast.Call) and (
                    getattr(node.func, "attr", None) or getattr(node.func, "id", None)
                ) in calls:
                    where = top.name if isinstance(top, ast.FunctionDef) else node.lineno
                    sites.add((str(path.relative_to(ENGINE)), where))
    assert len(sites) >= 18
    assert sites == set(KERNELS)


# Runs one pickled kernel the way a Python worker does, in a fresh
# interpreter without the repo on sys.path.
_FRESH = """
import inspect, json, pickle, sys
import pyarrow as pa
fn, grouped, ipc = pickle.loads(sys.stdin.buffer.read())
loaded = "pandas" in sys.modules
batches = list(pa.ipc.open_stream(ipc))
if grouped:
    table = pa.Table.from_batches(batches)
    args = ((), table) if len(inspect.signature(fn).parameters) == 2 else (table,)
    out = [fn(*args)]
else:
    out = list(fn(iter(batches)))
print(json.dumps({"loaded": loaded, "pandas": "pandas" in sys.modules,
                  "rows": sum(o.num_rows for o in out)}))
"""


def _run_fresh(fn, grouped: bool, batch: pa.RecordBatch, tmp_path) -> dict:
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, batch.schema) as w:
        w.write_batch(batch)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", _FRESH],
        input=cloudpickle.dumps((fn, grouped, sink.getvalue().to_pybytes())),
        capture_output=True,
        cwd=tmp_path,
        env=env,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr.decode()[-2000:]
    got = json.loads(proc.stdout)
    assert not got["loaded"], "unpickling the kernel imported pandas"
    assert got["rows"] > 0
    return got


@pytest.mark.parametrize("site", sorted(KERNELS), ids=lambda s: s[1])
def test_kernel_runs_without_pandas(spark, sf_dir, monkeypatch, tmp_path, site):
    build, make_input, grouped = KERNELS[site]
    fn = _kernel(spark, monkeypatch, site[1], lambda: build(spark, sf_dir))
    got = _run_fresh(fn, grouped, make_input(), tmp_path)
    assert not got["pandas"], f"{site[1]}'s kernel imported pandas"


def test_fused_chain_runs_without_pandas(spark, monkeypatch, tmp_path):
    """The one function a fused image chain hands to mapInArrow
    (synthesize, schema check, select, decode) ships and runs alone."""
    maps = []
    cls = type(spark.range(1))
    real = cls.mapInArrow
    monkeypatch.setattr(cls, "mapInArrow", lambda df, fn, *a: maps.append(fn) or real(df, fn, *a))
    mm.image_features(mm.synthesize_image_table(_docs(spark)))
    got = _run_fresh(maps[-1], False, _id_batch(), tmp_path)  # the consumer's map
    assert got["rows"] == 3
    assert not got["pandas"], "the fused image chain imported pandas"


@pytest.mark.parametrize(
    "operator, synth, kind",
    [
        (mm.image_features, mm.synthesize_image, "image"),
        (mm.audio_features, mm.synthesize_audio, "audio"),
        (mm.video_frame_features, mm.synthesize_video, "video"),
        (mm.byte_features, mm.synthesize_audio, "media"),
    ],
)
def test_null_payload_names_its_id(spark, monkeypatch, operator, synth, kind):
    fn = _kernel(spark, monkeypatch, operator.__name__, lambda: operator(_media(spark, synth)))
    batch = _batch(
        doc_id=ac.numeric([4, 5], pa.int64()),
        payload=ac.column([synth(4), None], pa.binary()),
    )
    with pytest.raises(ValueError, match=f"^{kind} payload of doc_id 5 is null$"):
        list(fn([batch]))


@pytest.mark.parametrize(
    "synthesizer, kind",
    [
        (mm.synthesize_image_table, "image"),
        (mm.synthesize_audio_table, "audio"),
        (mm.synthesize_video_table, "video"),
    ],
)
def test_null_id_names_its_column(spark, monkeypatch, synthesizer, kind):
    fn = _kernel(spark, monkeypatch, synthesizer.__name__, lambda: synthesizer(_docs(spark)))
    batch = _batch(doc_id=ac.numeric([4, 0], pa.int64(), valid=[True, False]))
    with pytest.raises(ValueError, match=f"^null doc_id: no {kind} payload to synthesize$"):
        list(fn([batch]))
