"""Multimodal plumbing tests: binary payloads, Arrow batching, stub decode."""

from __future__ import annotations

import math
import os
import uuid

import pyarrow as pa
import pytest
from pyspark.sql import Row, functions as F

from mock_map_reduce_spark import registry
from mock_map_reduce_spark.functions.arrowmap import arrow_map
from mock_map_reduce_spark.functions.materialize import materialize, release
from mock_map_reduce_spark.operators import multimodal as mm
from mock_map_reduce_spark.plans import executed_plan
from mock_map_reduce_spark.sources import load_table


@pytest.fixture(scope="module")
def media(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="abc"), Row(doc_id=2, text=""), Row(doc_id=3, text="aaaa")]
    )
    return mm.attach_binary_payload(docs)


def test_payload_schema(media):
    schema = dict(media.dtypes)
    assert schema["payload"] == "binary"
    assert "media_type" in schema["meta"] and "n_bytes" in schema["meta"]


def test_byte_features_hand_computed(media):
    rows = {r.doc_id: r for r in mm.byte_features(media).collect()}
    # "abc" = bytes 97,98,99: mean 98, std sqrt(2/3), entropy log2(3)
    assert rows[1].n_bytes == 3
    assert rows[1].mean_byte == 98.0
    assert rows[1].std_byte == round(math.sqrt(2.0 / 3.0), 6)
    assert rows[1].entropy_proxy == round(math.log2(3), 6)
    # empty payload: zeros, no crash
    assert (rows[2].n_bytes, rows[2].mean_byte) == (0, 0.0)
    # uniform payload: zero std, zero entropy
    assert (rows[3].std_byte, rows[3].entropy_proxy) == (0.0, 0.0)


def test_decode_image_unknown_magic_raises():
    with pytest.raises(NotImplementedError, match="PPM"):
        mm.decode_image(b"\x89PNG\r\n")


def test_ppm_round_trip_and_comment_parsing():
    rgb = bytes(range(2 * 3 * 3))  # 3x2 image
    payload = mm.encode_ppm(3, 2, rgb, comment="hello 42")
    assert payload.startswith(b"P6\n# hello 42\n3 2\n255\n")
    assert mm.decode_ppm(payload) == (3, 2, rgb)
    assert mm.decode_image(payload) == (3, 2, rgb)


def test_ppm_golden_bytes():
    # hand-built payload through neither encoder: parser-only check
    payload = b"P6\n2 1\n255\n" + bytes([10, 20, 30, 40, 50, 60])
    assert mm.decode_ppm(payload) == (2, 1, bytes([10, 20, 30, 40, 50, 60]))


def test_bmp_round_trip_padding_and_row_order():
    # width 3 -> 9-byte rows padded to 12; two distinct rows catch a
    # missing bottom-up flip, asymmetric channels catch BGR confusion
    top = bytes([1, 2, 3, 4, 5, 6, 7, 8, 9])
    bottom = bytes([91, 92, 93, 94, 95, 96, 97, 98, 99])
    payload = mm.encode_bmp(3, 2, top + bottom)
    w, h, rgb = mm.decode_bmp(payload)
    assert (w, h) == (3, 2)
    assert rgb == top + bottom
    assert mm.decode_image(payload) == (3, 2, top + bottom)


def test_bmp_golden_layout():
    # encoder writes bottom-up BGR with padding: verify raw raster bytes
    payload = mm.encode_bmp(1, 2, bytes([10, 20, 30, 40, 50, 60]))
    offset = 54
    # bottom row (40,50,60) first, as BGR, padded to 4
    assert payload[offset : offset + 8] == bytes([60, 50, 40, 0, 30, 20, 10, 0])


def _bmp_raster_per_pixel(width: int, height: int, rgb: bytes) -> bytes:
    """Reference raster, one pixel at a time: rows bottom-up, each pixel
    RGB -> BGR, each row zero-padded to a 4-byte boundary."""
    out = bytearray()
    for y in range(height - 1, -1, -1):
        for x in range(width):
            i = (y * width + x) * 3
            out += bytes([rgb[i + 2], rgb[i + 1], rgb[i]])
        out += bytes(-width * 3 % 4)
    return bytes(out)


def test_bmp_raster_matches_per_pixel_reference():
    for w in (1, 2, 3, 4, 5):  # every row padding, 0 to 3 bytes
        rgb = bytes((7 * i + w) % 256 for i in range(w * 3 * 3))
        payload = mm.encode_bmp(w, 3, rgb)
        assert payload[54:] == _bmp_raster_per_pixel(w, 3, rgb)
        assert mm.decode_bmp(payload) == (w, 3, rgb)


def test_bmp_top_down_rows():
    # a negative height marks a top-down raster: the first stored row
    # is the top row, so no flip
    import struct

    top = bytes([1, 2, 3, 4, 5, 6, 7, 8, 9])
    bottom = bytes([91, 92, 93, 94, 95, 96, 97, 98, 99])
    payload = bytearray(mm.encode_bmp(3, 2, bottom + top))  # stores top first
    struct.pack_into("<i", payload, 22, -2)
    assert mm.decode_bmp(bytes(payload)) == (3, 2, top + bottom)


def test_bmp_truncated_raster_raises():
    payload = mm.encode_bmp(3, 2, bytes(range(18)))
    assert len(payload) == 54 + 2 * 12
    with pytest.raises(ValueError, match="truncated BMP raster"):
        mm.decode_bmp(payload[:-1])  # last row's padding missing
    with pytest.raises(ValueError, match="truncated BMP raster"):
        mm.decode_bmp(payload[:54])


def test_synthesize_image_formats_and_pixel_law():
    import numpy as np

    for doc_id in (0, 1, 17, 64, 123):
        payload = mm.synthesize_image(doc_id)
        assert payload[:2] == (b"P6" if doc_id % 2 == 0 else b"BM")
        w, h, rgb = mm.decode_image(payload)
        assert (w, h) == (8 + doc_id % 9, 8 + doc_id % 5)
        px = np.frombuffer(rgb, dtype=np.uint8).reshape(h, w, 3)
        assert px[0, 0].tolist() == [doc_id % 64, doc_id % 32, 0]
        assert math.isclose(px[..., 0].mean(), doc_id % 64 + (w - 1) / 2)
        assert math.isclose(px[..., 1].mean(), doc_id % 32 + (h - 1) / 2)
        assert math.isclose(px[..., 2].mean(), (w - 1) / 2 + (h - 1) / 2)
        assert math.isclose(px[0, :, 1].mean(), doc_id % 32)


def test_image_features_catches_planted_decode_bug(spark):
    """image_features over synthesized payloads reproduces the closed
    form; a deliberately row-flipped BMP payload flips top_row_g."""
    docs = spark.createDataFrame([Row(doc_id=6), Row(doc_id=7)])
    rows = {r.doc_id: r for r in mm.image_features(mm.synthesize_image_table(docs)).collect()}
    for doc_id in (6, 7):
        r = rows[doc_id]
        w, h = 8 + doc_id % 9, 8 + doc_id % 5
        assert (r.width, r.height) == (w, h)
        assert math.isclose(r.mean_r, doc_id % 64 + (w - 1) / 2)
        assert math.isclose(r.top_row_g, doc_id % 32)
    # planted bug: re-encode doc 7's pixels with rows reversed — means
    # survive but the row-order-sensitive feature must move
    w, h, rgb = mm.decode_image(mm.synthesize_image(7))
    flipped = b"".join(
        rgb[y * w * 3 : (y + 1) * w * 3] for y in range(h - 1, -1, -1)
    )
    bad = spark.createDataFrame([Row(doc_id=7, payload=mm.encode_bmp(w, h, flipped))])
    r = mm.image_features(bad).collect()[0]
    assert math.isclose(r.mean_g, 7 % 32 + (h - 1) / 2)  # mean unchanged
    assert math.isclose(r.top_row_g, 7 % 32 + (h - 1))  # flip detected


def test_frame_sample_one_to_many(spark):
    from pyspark.sql import Row

    docs = spark.createDataFrame(
        [Row(doc_id=1, text="a" * 1000), Row(doc_id=2, text="xy")]
    )
    media = mm.attach_binary_payload(docs)
    frames = mm.frame_sample(media, frame_size=256, stride=2).collect()
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r.doc_id, []).append(r)
    # doc 1: 1000 bytes -> 4 frames, stride 2 -> indices 0, 2
    assert sorted(r.frame_idx for r in by_doc[1]) == [0, 2]
    assert by_doc[1][0].frame_mean == 97.0  # all "a" bytes
    # doc 2: 2 bytes -> 1 frame
    assert [r.frame_idx for r in by_doc[2]] == [0]


def test_resize_payload(spark):
    from pyspark.sql import Row

    docs = spark.createDataFrame([Row(doc_id=1, text="abcdefgh"), Row(doc_id=2, text="")])
    media = mm.attach_binary_payload(docs)
    rows = {r.doc_id: r for r in mm.resize_payload(media, factor=4).collect()}
    assert bytes(rows[1].payload) == b"ae"  # every 4th byte
    assert rows[1].n_bytes == 2
    assert (bytes(rows[2].payload), rows[2].n_bytes) == (b"", 0)


def test_wav_round_trip_and_chunk_walk():
    samples = [0, 100, -100, 32767, -32768, 7]
    for extra in (False, True):
        payload = mm.encode_wav(16000, samples, extra_chunk=extra)
        assert payload[:4] == b"RIFF" and payload[8:12] == b"WAVE"
        rate, out = mm.decode_wav(payload)
        assert (rate, out) == (16000, samples)
    # odd-length data chunk gets a RIFF pad byte; decode must not trip
    rate, out = mm.decode_wav(mm.encode_wav(8000, [5]))
    assert (rate, out) == (8000, [5])


def test_wav_golden_header_layout():
    import struct

    payload = mm.encode_wav(8000, [1, -2])
    # fmt chunk at offset 12: PCM(1), mono(1), rate, byterate, align, bits
    assert struct.unpack_from("<4sIHHIIHH", payload, 12) == (
        b"fmt ", 16, 1, 1, 8000, 16000, 2, 16)
    # data chunk follows: little-endian int16 samples
    assert struct.unpack_from("<4sI", payload, 36) == (b"data", 4)
    assert payload[44:48] == struct.pack("<hh", 1, -2)


def test_wav_rejects_unsupported():
    import struct

    stereo = bytearray(mm.encode_wav(8000, [1, 2]))
    struct.pack_into("<H", stereo, 12 + 8 + 2, 2)  # channels=2
    with pytest.raises(ValueError, match="mono"):
        mm.decode_wav(bytes(stereo))
    with pytest.raises(ValueError, match="RIFF"):
        mm.decode_wav(b"OggS\x00\x00")


def test_synthesize_audio_closed_form():
    import numpy as np

    for doc_id in (0, 3, 17, 999, 1234):
        rate, samples = mm.decode_wav(mm.synthesize_audio(doc_id))
        base = doc_id % 1000 - 500
        arr = np.asarray(samples, dtype=np.float64)
        assert rate == 8000 + (doc_id % 5) * 1000
        assert arr.size == 32 * (8 + doc_id % 9)
        assert math.isclose(arr.mean(), base + 15.5)
        assert int(arr.max()) == base + 31
        assert math.isclose((arr * arr).mean(), base * base + 31 * base + 325.5)


def test_ppm_stream_boundaries_and_comments():
    f0 = mm.encode_ppm(2, 1, bytes([1, 2, 3, 4, 5, 6]))
    f1 = mm.encode_ppm(1, 2, bytes([7, 8, 9, 10, 11, 12]), comment="mid frame")
    frames = mm.decode_ppm_stream(f0 + f1)
    assert frames == [
        (2, 1, bytes([1, 2, 3, 4, 5, 6])),
        (1, 2, bytes([7, 8, 9, 10, 11, 12])),
    ]
    with pytest.raises(ValueError, match="magic"):
        mm.decode_ppm_stream(f0 + b"garbage")


def test_video_frame_features_law(spark):
    import numpy as np

    doc_id = 14  # 4 + 14%5 = 8 frames, stride 2 -> t in {0, 2, 4, 6}
    frames = mm.decode_ppm_stream(mm.synthesize_video(doc_id))
    assert len(frames) == 4 + doc_id % 5
    w, h = 8 + doc_id % 9, 8 + doc_id % 5
    for t, (fw, fh, rgb) in enumerate(frames):
        assert (fw, fh) == (w, h)
        px = np.frombuffer(rgb, dtype=np.uint8).reshape(h, w, 3)
        assert math.isclose(px[..., 2].mean(), (w - 1) / 2 + (h - 1) / 2 + t)
    docs = spark.createDataFrame([Row(doc_id=doc_id)])
    rows = mm.video_frame_features(mm.synthesize_video_table(docs)).collect()
    assert sorted(r.t for r in rows) == [0, 2, 4, 6]
    for r in rows:
        assert math.isclose(r.frame_mean_b, (w - 1) / 2 + (h - 1) / 2 + r.t)


def test_media_payloads_survive_parquet_round_trip(spark, tmp_path):
    """Binary media columns through real storage: write the synthetic
    image/audio/video payload tables to parquet, read back, and the
    decoded features must be byte-identical — pins that the media
    pipeline composes with at-rest parquet (the 100 TB reality), not
    just in-memory exchange."""
    docs = spark.createDataFrame([Row(doc_id=i) for i in (3, 6, 14)])
    for name, synth, feats in (
        ("img", mm.synthesize_image_table, mm.image_features),
        ("vid", mm.synthesize_video_table, mm.video_frame_features),
    ):
        out = str(tmp_path / name)
        synth(docs).write.mode("overwrite").parquet(out)
        stored = spark.read.parquet(out)
        direct = sorted(map(tuple, feats(synth(docs)).collect()))
        reread = sorted(map(tuple, feats(stored).collect()))
        assert direct == reread, name


# -- back-to-back maps share one Python worker (functions/arrowmap.py) --

# Each chain entry, rebuilt with a transformation between its two maps,
# which keeps them apart: the JVM round trip between two workers.
UNFUSED = {
    "multimodal_image_features": lambda docs: mm.image_features(
        mm.synthesize_image_table(docs).filter(F.lit(True))
    ),
    "multimodal_audio_features": lambda docs: mm.audio_features(
        mm.synthesize_audio_table(docs).filter(F.lit(True))
    ),
    "multimodal_video_frames": lambda docs: mm.video_frame_features(
        mm.synthesize_video_table(docs).filter(F.lit(True))
    ),
    "multimodal_resize_features": lambda docs: mm.byte_features(
        mm.resize_payload(mm.attach_binary_payload(docs), factor=4).filter(F.lit(True))
    ),
}


def _maps(df) -> int:
    """MapInArrow nodes in the plan that runs (AQE prints its initial
    plan after the final one once the query ran)."""
    return executed_plan(df).split("== Initial Plan ==")[0].count("MapInArrow")


@pytest.fixture(scope="module")
def sf001(sf_dir):
    path = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    if not os.path.isdir(path):
        pytest.skip(f"{path} not present")
    return path


def _built(spark, build):
    """The DataFrame ``build()`` returns and the Spark jobs it fired."""
    sc = spark.sparkContext
    group = f"build-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "build only")
    try:
        df = build()
    finally:
        sc._jsc.clearJobGroup()
    return df, list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", sorted(UNFUSED))
def test_chain_entry_runs_both_maps_in_one_worker(spark, sf001, name):
    """The entry's two maps are one MapInArrow, building it runs no
    Spark job, and its rows equal those of the two maps kept apart."""
    registry.load_all()
    build = registry.QUERIES[name]
    build(spark, sf001)  # the first load of a table infers its schema in a job
    fused, jobs = _built(spark, lambda: build(spark, sf001))
    assert jobs == []
    got = sorted(map(tuple, fused.collect()))
    assert _maps(fused) == 1

    unfused = UNFUSED[name](load_table(spark, sf001, "documents"))
    want = sorted(map(tuple, unfused.collect()))
    assert _maps(unfused) == 2
    assert got == want


def test_cached_producer_is_not_fused(spark):
    docs = spark.createDataFrame([Row(doc_id=i) for i in (3, 6, 7)])
    produced = mm.synthesize_image_table(docs).cache()
    try:
        consumer = mm.image_features(produced)
        rows = sorted(map(tuple, consumer.collect()))
        assert "InMemoryTableScan" in executed_plan(consumer)
    finally:
        produced.unpersist()
    assert rows == sorted(map(tuple, mm.image_features(mm.synthesize_image_table(docs)).collect()))


def test_arrow_map_reads_a_pin_in_place(spark, sf_dir):
    """Over a pinned frame arrow_map maps the cached blocks where they
    are: no RoundRobin exchange, and no Spark job while building (no
    spread probe). The same single-split scan unpinned is spread."""

    def ids(batches):
        yield from batches

    docs = load_table(spark, sf_dir, "documents")
    n = spark.sparkContext.defaultParallelism
    assert docs.rdd.getNumPartitions() < max(2, n // 2)  # under-parallel here
    spread_map = arrow_map(ids, docs, ["doc_id"], "doc_id bigint")
    assert "RoundRobinPartitioning" in executed_plan(spread_map)

    pinned = materialize(docs.select("doc_id", "text"))
    try:
        mapped, jobs = _built(spark, lambda: arrow_map(ids, pinned, ["doc_id"], "doc_id bigint"))
        assert jobs == []
        plan = executed_plan(mapped)
        assert "InMemoryTableScan" in plan
        assert "RoundRobinPartitioning" not in plan
        assert sorted(mapped.collect()) == sorted(spread_map.collect())
    finally:
        release(pinned)


def test_pq_codes_build_fires_at_most_one_job(spark, sf_dir):
    """Building similarity_pq_codes collects its k-row codebook straight
    from the scan (one job) and leaves the spread to its arrow_map, so
    no RoundRobin exchange runs at build time."""
    registry.load_all()
    build = registry.QUERIES["similarity_pq_codes"]
    build(spark, sf_dir)  # the first load of a table infers its schema in a job
    assert len(_built(spark, lambda: build(spark, sf_dir))[1]) <= 1


def test_fused_map_checks_the_producer_schema(spark):
    """Between two fused maps, a batch that is not the producer's
    declared schema raises the ValueError Spark's boundary check would,
    naming the producer, even when the consumer could read it."""

    def narrow_ids(batches):
        for batch in batches:
            yield pa.RecordBatch.from_arrays([batch.column(0).cast(pa.int32())], names=["id"])

    def widen_ids(batches):
        for batch in batches:
            yield pa.RecordBatch.from_arrays([batch.column(0).cast(pa.int64())], names=["id"])

    producer = arrow_map(narrow_ids, spark.range(4), ["id"], "id long")
    consumer = arrow_map(widen_ids, producer, ["id"], "id long")
    assert _maps(consumer) == 1
    with pytest.raises(Exception, match=r"arrow_map producer \S*narrow_ids returned id: int32"):
        consumer.collect()
