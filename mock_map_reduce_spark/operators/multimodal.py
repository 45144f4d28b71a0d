"""Multimodal columns — opaque binary payloads, typed metadata, and
REAL pure-stdlib media codecs on the decode seam.

Media columns (image/audio/video) are carried as ``binary`` payloads
with a typed metadata struct; decode / feature-extraction runs as
Arrow-batched kernels through ``functions/arrowmap.arrow_map``, one
``mapInArrow`` each. A map applied straight to another map's output
(synthesize -> decode, resize -> features) runs in the same Python
worker as that map: one ``MapInArrow``, so the payload is made and
read without crossing back to the JVM in between. Decoding is
real, with zero codec dependencies: netpbm PPM(P6) + 24-bit BMP
images, RIFF/WAVE PCM audio, and concatenated-PPM-stream video
(ffmpeg's image2pipe shape); exotic codecs (JPEG/PNG) plug into the
same ``decode_image`` seam via PIL when present. ``byte_features``
remains the codec-free extractor (byte-histogram moments).

Scale notes (100 TB of media): payloads dominate row size — they may
move at most ONCE through the ``spread`` round-robin when the
source is under-parallel (the same tradeoff as every heavy operator),
and must NEVER enter a keyed shuffle (select metadata before groupBy /
join; feature-extract first, then drop the payload). ``mapInArrow``
processes Arrow batches, so executor memory is bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch`` x payload size —
size that down for video-scale blobs.

Worker memory: the kernels read payloads with ``to_pylist`` and build
their output with ``functions/arrowcols``, so a Python worker that
runs them never imports pandas (about 39 MB of RSS per worker that
``mapInPandas`` would load), and a fused chain holds one worker per
task, not one per map. A null payload raises ValueError naming its id;
a null id given to a synthesizer raises ValueError naming the id
column.
"""

from __future__ import annotations

import sys

from pyspark.sql import DataFrame, functions as F

from mock_map_reduce_spark.functions.arrowcols import rows_batch, schema as arrow_schema
from mock_map_reduce_spark.functions.arrowmap import arrow_map


def _ship_module_by_value() -> None:
    """Pickle this module's functions BY VALUE into worker closures.

    ``image_features``' mapInArrow closure calls the module-level
    codec functions (decode_image & co). cloudpickle serializes
    module-level functions by REFERENCE, so executors would need the
    repo on their sys.path — true when the driver process happens to
    run from /root/repo (cwd import), silently broken from anywhere
    else, and never true on a real cluster without --py-files.
    Registering the module by value embeds the ~100 lines of codec
    code in the serialized task instead, making the operators
    location-independent (same effect as shipping a py-files zip,
    without requiring session-build cooperation).
    """
    try:
        from pyspark import cloudpickle

        cloudpickle.register_pickle_by_value(sys.modules[__name__])
    except Exception:  # noqa: BLE001 - best-effort; cwd import still works
        pass


def _payloads(batch, id_col: str, kind: str) -> tuple[list, list[bytes]]:
    """(ids, payloads) of one Arrow batch as Python values. A null
    payload raises ValueError naming its id."""
    ids = batch.column(batch.schema.get_field_index(id_col)).to_pylist()
    payloads = batch.column(batch.schema.get_field_index("payload")).to_pylist()
    for doc_id, payload in zip(ids, payloads):
        if payload is None:
            raise ValueError(f"{kind} payload of {id_col} {doc_id} is null")
    return ids, payloads


def _ids(batch, id_col: str, kind: str) -> list:
    """The ids of one Arrow batch as Python values. A null id raises
    ValueError naming the id column."""
    ids = batch.column(batch.schema.get_field_index(id_col))
    if ids.null_count:
        raise ValueError(f"null {id_col}: no {kind} payload to synthesize")
    return ids.to_pylist()


PAYLOAD_SCHEMA = "doc_id long, payload binary"

FEATURE_SCHEMA = (
    "doc_id long, n_bytes long, mean_byte double, std_byte double, "
    "entropy_proxy double"
)


def attach_binary_payload(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Simulate a media table: utf-8 payload bytes + typed metadata struct."""
    return docs.select(
        F.col(id_col),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.struct(
            F.lit("text/plain").alias("media_type"),
            F.length(F.encode(F.col(text_col), "UTF-8")).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


def decode_image(payload: bytes):
    """Decode an image payload to ``(width, height, rgb_bytes)``.

    REAL decode path, zero dependencies: dispatches on magic bytes to
    the pure-stdlib PPM (P6) and BMP (24-bit) parsers below. Exotic
    codecs (JPEG/PNG/video) would plug into this same seam via PIL /
    ffmpeg when present; the try-import fallback keeps that seam
    documented without making the engine depend on codec libraries.
    """
    if payload[:2] == b"P6":
        return decode_ppm(payload)
    if payload[:2] == b"BM":
        return decode_bmp(payload)
    try:  # pragma: no cover - container has no PIL
        import io

        from PIL import Image

        img = Image.open(io.BytesIO(payload)).convert("RGB")
        return img.width, img.height, img.tobytes()
    except ImportError as exc:
        raise NotImplementedError(
            f"unrecognized image magic {payload[:2]!r} and no codec "
            "library (PIL) present; built-in formats are PPM(P6) and "
            "24-bit BMP"
        ) from exc


# ---------------------------------------------------------------------------
# Pure-stdlib image codecs (public formats: netpbm PPM P6, Windows BMP v3).
# Encoders exist so tests and the catalog can synthesize payloads through a
# DIFFERENT code path than the decoders parse — a header-offset or row-order
# bug breaks the oracle-checked pixel statistics, not just a round-trip.
# ---------------------------------------------------------------------------


def encode_ppm(width: int, height: int, rgb: bytes, comment: str | None = None) -> bytes:
    """Binary netpbm P6: 'P6 <w> <h> <maxval>' header + raw RGB rows."""
    if len(rgb) != width * height * 3:
        raise ValueError("rgb length != width*height*3")
    c = f"# {comment}\n" if comment else ""
    return f"P6\n{c}{width} {height}\n255\n".encode("ascii") + rgb


def decode_ppm(payload: bytes) -> tuple[int, int, bytes]:
    """Parse binary PPM (P6): whitespace-separated header tokens with
    '#' comments, then width*height*3 raw RGB bytes."""
    width, height, rgb, _end = _decode_ppm_at(payload, 0)
    return width, height, rgb


def _decode_ppm_at(payload: bytes, pos: int) -> tuple[int, int, bytes, int]:
    """Parse one P6 frame starting at ``pos``; also return end offset
    (the primitive behind PPM stream/video decode)."""
    if payload[pos : pos + 2] != b"P6":
        raise ValueError(f"no P6 magic at offset {pos}")
    pos += 2
    tokens: list[int] = []
    while len(tokens) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":
            while pos < len(payload) and payload[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        tokens.append(int(payload[start:pos]))
    width, height, maxval = tokens
    if maxval != 255:
        raise ValueError(f"only maxval 255 supported, got {maxval}")
    pos += 1
    end = pos + width * height * 3
    rgb = payload[pos:end]
    if len(rgb) != width * height * 3:
        raise ValueError("truncated PPM raster")
    return width, height, rgb, end


def decode_ppm_stream(payload: bytes) -> list[tuple[int, int, bytes]]:
    """Decode a concatenated-P6 stream (netpbm animation / ffmpeg
    image2pipe format): back-to-back P6 frames in one payload — the
    simplest public 'video' container."""
    frames, pos = [], 0
    while pos < len(payload):
        w, h, rgb, pos = _decode_ppm_at(payload, pos)
        frames.append((w, h, rgb))
    return frames


def encode_bmp(width: int, height: int, rgb: bytes) -> bytes:
    """Uncompressed 24-bit BMP (BITMAPINFOHEADER): BGR pixel order,
    rows bottom-up, each row padded to a 4-byte boundary."""
    import struct

    import numpy as np

    if len(rgb) != width * height * 3:
        raise ValueError("rgb length != width*height*3")
    stride = (width * 3 + 3) // 4 * 4
    raster = np.zeros((height, stride), dtype=np.uint8)
    # bottom-up rows, RGB -> BGR
    px = np.frombuffer(rgb, dtype=np.uint8).reshape(height, width, 3)
    raster[:, : width * 3] = px[::-1, :, ::-1].reshape(height, width * 3)
    offset = 14 + 40
    return (
        struct.pack("<2sIHHI", b"BM", offset + raster.nbytes, 0, 0, offset)
        + struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, raster.nbytes, 2835, 2835, 0, 0)
        + raster.tobytes()
    )


def decode_bmp(payload: bytes) -> tuple[int, int, bytes]:
    """Parse uncompressed 24-bit BMP into top-down RGB bytes."""
    import struct

    import numpy as np

    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (offset,) = struct.unpack_from("<I", payload, 10)
    width, height = struct.unpack_from("<ii", payload, 18)
    bpp, = struct.unpack_from("<H", payload, 28)
    compression, = struct.unpack_from("<I", payload, 30)
    if bpp != 24 or compression != 0:
        raise ValueError(f"only uncompressed 24-bit BMP supported (bpp={bpp})")
    bottom_up = height > 0
    height = abs(height)
    stride = (width * 3 + 3) // 4 * 4
    if len(payload) < offset + height * stride:
        raise ValueError("truncated BMP raster")
    rows = np.frombuffer(payload, dtype=np.uint8, count=height * stride, offset=offset)
    px = rows.reshape(height, stride)[:, : width * 3].reshape(height, width, 3)
    if bottom_up:
        px = px[::-1]
    return width, height, px[..., ::-1].tobytes()  # BGR -> RGB


def synthesize_image(doc_id: int) -> bytes:
    """Deterministic synthetic image for ``doc_id`` — PPM for even ids,
    BMP for odd, so BOTH decoders sit on the oracle-checked path.

    Pixel law (kept wrap-free so per-channel means are closed-form and
    a SQL oracle can state them exactly):
        width  = 8 + doc_id % 9          (8..16)
        height = 8 + doc_id % 5          (8..12)
        r(x,y) = doc_id % 64 + x         (max 63+15 < 256)
        g(x,y) = doc_id % 32 + y         (max 31+11 < 256)
        b(x,y) = x + y                   (max 15+11 < 256)
    Hence mean_r = doc_id%64 + (w-1)/2, mean_g = doc_id%32 + (h-1)/2,
    mean_b = (w-1)/2 + (h-1)/2, and the top row's g mean is exactly
    doc_id%32 — which catches a forgotten BMP bottom-up flip that
    whole-image means cannot see.
    """
    rgb = _pixel_law_rgb(doc_id, frame_t=None)
    w, h = 8 + doc_id % 9, 8 + doc_id % 5
    if doc_id % 2 == 0:
        return encode_ppm(w, h, rgb, comment=f"doc {doc_id}")
    return encode_bmp(w, h, rgb)


def _pixel_law_rgb(doc_id: int, frame_t: int | None) -> bytes:
    """Vectorized synthetic raster for ``doc_id`` (+frame_t on blue
    for video frames) — the wrap-free law documented above."""
    import numpy as np

    w, h = 8 + doc_id % 9, 8 + doc_id % 5
    x = np.arange(w, dtype=np.uint16)
    y = np.arange(h, dtype=np.uint16)
    r = np.broadcast_to(doc_id % 64 + x, (h, w))
    g = np.broadcast_to((doc_id % 32 + y)[:, None], (h, w))
    b = y[:, None] + x[None, :] + (frame_t or 0)
    return np.stack([r, g, np.broadcast_to(b, (h, w))], axis=2).astype(np.uint8).tobytes()


IMAGE_FEATURE_SCHEMA = (
    "doc_id long, width int, height int, mean_r double, mean_g double, "
    "mean_b double, top_row_g double"
)


def image_features(media: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Decode image payloads (PPM/BMP via ``decode_image``) and emit
    per-image pixel statistics — the real decode path exercised end to
    end, Arrow-batched (``mapInArrow``, no pandas in the worker),
    payload dropped before anything shuffles."""
    out = arrow_schema(IMAGE_FEATURE_SCHEMA)

    def extract(batches):
        import numpy as np

        for batch in batches:
            rows = []
            for doc_id, payload in zip(*_payloads(batch, id_col, "image")):
                w, h, rgb = decode_image(payload)
                px = np.frombuffer(rgb, dtype=np.uint8).reshape(h, w, 3).astype(np.float64)
                means = px.mean(axis=(0, 1))
                rows.append(
                    (
                        doc_id,
                        w,
                        h,
                        float(means[0]),
                        float(means[1]),
                        float(means[2]),
                        float(px[0, :, 1].mean()),
                    )
                )
            yield rows_batch(rows, out)

    return arrow_map(extract, media, [id_col, "payload"], IMAGE_FEATURE_SCHEMA)


def synthesize_image_table(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Attach a deterministic image payload per doc id (the encoder
    side of the codec pair; ``image_features`` decodes it back)."""

    out = arrow_schema(PAYLOAD_SCHEMA)

    def build(batches):
        for batch in batches:
            yield rows_batch([(i, synthesize_image(i)) for i in _ids(batch, id_col, "image")], out)

    return arrow_map(build, docs, [id_col], PAYLOAD_SCHEMA)


# ---------------------------------------------------------------------------
# Audio: RIFF/WAVE PCM codec (public format), synthetic waveforms with
# closed-form statistics, and an Arrow-batched feature extractor.
# ---------------------------------------------------------------------------


def encode_wav(sample_rate: int, samples, extra_chunk: bool = False) -> bytes:
    """Mono 16-bit PCM WAV (RIFF): 'fmt ' chunk + optional junk 'LIST'
    chunk (so decoders must actually WALK chunks) + 'data' chunk."""
    import struct

    # bytes fast path: callers may pre-pack little-endian int16 PCM
    # (e.g. numpy .astype('<i2').tobytes()) to skip per-sample packing
    if isinstance(samples, (bytes, bytearray)):
        data = bytes(samples)
    else:
        data = b"".join(struct.pack("<h", int(s)) for s in samples)
    chunks = struct.pack(
        "<4sIHHIIHH", b"fmt ", 16, 1, 1, sample_rate, sample_rate * 2, 2, 16
    )
    if extra_chunk:  # unrelated metadata chunk decoders must skip
        chunks += struct.pack("<4sI", b"LIST", 8) + b"INFOmeta"
    chunks += struct.pack("<4sI", b"data", len(data)) + data
    if len(data) % 2:  # RIFF chunks are word-aligned
        chunks += b"\x00"
    return struct.pack("<4sI4s", b"RIFF", 4 + len(chunks), b"WAVE") + chunks


def decode_wav(payload: bytes) -> tuple[int, list[int]]:
    """Parse RIFF/WAVE: walk chunks, require PCM mono 16-bit, return
    (sample_rate, samples)."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, rate, samples = 12, None, None
    while pos + 8 <= len(payload):
        cid, size = struct.unpack_from("<4sI", payload, pos)
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt, channels, rate, _br, _ba, bits = struct.unpack_from("<HHIIHH", body, 0)
            if (fmt, channels, bits) != (1, 1, 16):
                raise ValueError(
                    f"only PCM mono 16-bit supported (fmt={fmt}, ch={channels}, bits={bits})"
                )
        elif cid == b"data":
            samples = list(struct.unpack(f"<{size // 2}h", body[: size // 2 * 2]))
        pos += 8 + size + (size % 2)  # chunks are word-aligned
    if rate is None or samples is None:
        raise ValueError("missing fmt or data chunk")
    return rate, samples


def synthesize_audio(doc_id: int) -> bytes:
    """Deterministic synthetic waveform with closed-form statistics.

    Sawtooth: s(i) = base + (i mod 32) with base = doc_id%1000 - 500
    over n = 32*(8 + doc_id%9) samples at rate 8000 + (doc_id%5)*1000.
    n is a multiple of the period, so over the whole clip:
        mean   = base + 15.5
        peak   = base + 31
        energy = mean(s^2) = base^2 + 31*base + 325.5
    (sum u^2 for u=0..31 is 10416; /32 = 325.5 — all exact in float.)
    Every third doc carries a junk LIST chunk before data.
    """
    import numpy as np

    base = doc_id % 1000 - 500
    n = 32 * (8 + doc_id % 9)
    pcm = (base + np.arange(n, dtype=np.int64) % 32).astype("<i2").tobytes()
    return encode_wav(
        8000 + (doc_id % 5) * 1000, pcm, extra_chunk=doc_id % 3 == 0
    )


AUDIO_FEATURE_SCHEMA = (
    "doc_id long, sample_rate int, n_samples long, mean_sample double, "
    "peak int, energy double"
)


def audio_features(media: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Decode WAV payloads and emit per-clip statistics (rate from the
    fmt chunk, moments from the PCM data) — payload never shuffles."""
    out = arrow_schema(AUDIO_FEATURE_SCHEMA)

    def extract(batches):
        import numpy as np

        for batch in batches:
            rows = []
            for doc_id, payload in zip(*_payloads(batch, id_col, "audio")):
                rate, samples = decode_wav(payload)
                arr = np.array(samples, dtype=np.float64)
                rows.append(
                    (
                        doc_id,
                        rate,
                        int(arr.size),
                        float(arr.mean()),
                        int(arr.max()),
                        float((arr * arr).mean()),
                    )
                )
            yield rows_batch(rows, out)

    return arrow_map(extract, media, [id_col, "payload"], AUDIO_FEATURE_SCHEMA)


def synthesize_audio_table(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Attach a deterministic WAV payload per doc id."""

    out = arrow_schema(PAYLOAD_SCHEMA)

    def build(batches):
        for batch in batches:
            yield rows_batch([(i, synthesize_audio(i)) for i in _ids(batch, id_col, "audio")], out)

    return arrow_map(build, docs, [id_col], PAYLOAD_SCHEMA)


# ---------------------------------------------------------------------------
# Video: concatenated-PPM stream (netpbm / ffmpeg image2pipe), frame
# sampling with a REAL frame decoder (vs frame_sample's byte chunking).
# ---------------------------------------------------------------------------


def synthesize_video(doc_id: int) -> bytes:
    """Deterministic PPM-stream clip: F = 4 + doc_id%5 frames sharing
    the image pixel law, plus +t on the blue channel per frame t —
    so frame identity (and hence stream-boundary parsing) is
    observable in the statistics. Wrap-free: b <= 15+11+8 < 256."""
    w, h = 8 + doc_id % 9, 8 + doc_id % 5
    frames = []
    for t in range(4 + doc_id % 5):
        rgb = _pixel_law_rgb(doc_id, frame_t=t)
        frames.append(encode_ppm(w, h, rgb, comment=f"frame {t}" if t % 2 else None))
    return b"".join(frames)


VIDEO_FRAME_SCHEMA = "doc_id long, t int, width int, height int, frame_mean_b double"


def video_frame_features(
    media: DataFrame, stride: int = 2, id_col: str = "doc_id"
) -> DataFrame:
    """Decode a PPM-stream payload, keep every ``stride``-th frame,
    emit one row per sampled frame (the 1-to-N video primitive with a
    REAL frame decoder). Payloads are dropped at the operator edge;
    only per-frame feature rows flow on."""
    out = arrow_schema(VIDEO_FRAME_SCHEMA)

    def extract(batches):
        import numpy as np

        for batch in batches:
            rows = []
            for doc_id, payload in zip(*_payloads(batch, id_col, "video")):
                for t, (w, h, rgb) in enumerate(decode_ppm_stream(payload)):
                    if t % stride:
                        continue
                    px = np.frombuffer(rgb, dtype=np.uint8).reshape(h, w, 3)
                    rows.append((doc_id, t, w, h, float(px[..., 2].mean())))
            yield rows_batch(rows, out)

    return arrow_map(extract, media, [id_col, "payload"], VIDEO_FRAME_SCHEMA)


def synthesize_video_table(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Attach a deterministic PPM-stream payload per doc id."""

    out = arrow_schema(PAYLOAD_SCHEMA)

    def build(batches):
        for batch in batches:
            yield rows_batch([(i, synthesize_video(i)) for i in _ids(batch, id_col, "video")], out)

    return arrow_map(build, docs, [id_col], PAYLOAD_SCHEMA)


_ship_module_by_value()


def byte_features(media: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic stand-in feature extractor over raw payload bytes.

    mapInArrow: one Arrow batch in, one out — the exact plumbing a
    real decoder uses (same schema contract, same batch shape), with
    byte-histogram moments standing in for pixel statistics.
    """
    out = arrow_schema(FEATURE_SCHEMA)

    def extract(batches):
        import math

        import numpy as np

        def r6(x: float) -> float:
            # round-half-away for non-negative x — matches SQL round()
            return math.floor(x * 1e6 + 0.5) / 1e6

        for batch in batches:
            rows = []
            for doc_id, payload in zip(*_payloads(batch, id_col, "media")):
                arr = np.frombuffer(payload, dtype=np.uint8)
                n = int(arr.size)
                if n == 0:
                    rows.append((doc_id, 0, 0.0, 0.0, 0.0))
                    continue
                # EXACT integer sums -> the float expressions below are
                # order-proof and mirror the DuckDB oracle tree exactly
                # (catalog/multimodal.py): mean = s/n,
                # std = sqrt(sq/n - (s/n)^2),
                # entropy = log2(n) - sum(c*log2 c)/n.
                s = int(arr.sum(dtype=np.int64))
                sq = int((arr.astype(np.int64) ** 2).sum())
                r = s / n
                counts = np.bincount(arr)
                t = sum(int(c) * math.log2(int(c)) for c in counts if c)
                rows.append(
                    (
                        doc_id,
                        n,
                        r6(s / n),
                        r6(math.sqrt(sq / n - r * r)),
                        r6(math.log2(n) - t / n),
                    )
                )
            yield rows_batch(rows, out)

    return arrow_map(extract, media, [id_col, "payload"], FEATURE_SCHEMA)


FRAME_SCHEMA = "doc_id long, frame_idx long, frame_mean double"


def frame_sample(media: DataFrame, frame_size: int = 256, stride: int = 2, id_col: str = "doc_id") -> DataFrame:
    """Frame sampling: one payload row -> N frame rows (UDTF shape).

    The video-pipeline primitive: chunk the payload into fixed-size
    "frames", keep every ``stride``-th, emit per-frame features. Real
    codecs plug into the same mapInArrow seam (decode_image); the
    chunking stand-in keeps batch shapes and the 1-to-N contract real.

    100 TB note: output fan-out is rows x frames — select/filter frame
    features BEFORE any join or shuffle; never carry the payload past
    this operator.
    """
    out = arrow_schema(FRAME_SCHEMA)

    def sample(batches):
        import numpy as np

        for batch in batches:
            rows = []
            for doc_id, payload in zip(*_payloads(batch, id_col, "media")):
                arr = np.frombuffer(payload, dtype=np.uint8)
                n_frames = max((len(arr) + frame_size - 1) // frame_size, 0)
                for fi in range(0, n_frames, stride):
                    chunk = arr[fi * frame_size : (fi + 1) * frame_size]
                    mean = float(np.round(chunk.mean(), 6)) if len(chunk) else 0.0
                    rows.append((doc_id, fi, mean))
            yield rows_batch(rows, out)

    return arrow_map(sample, media, [id_col, "payload"], FRAME_SCHEMA)


RESIZE_SCHEMA = "doc_id long, payload binary, n_bytes long"


def resize_payload(media: DataFrame, factor: int = 4, id_col: str = "doc_id") -> DataFrame:
    """Resize/downsample: keep every ``factor``-th payload byte.

    Deterministic stand-in for media resize (image downscale / audio
    resample) — the real transform plugs into the same batch contract.
    Output payload is 1/factor the size; metadata is recomputed, and
    the ORIGINAL payload is dropped from the plan immediately (at
    100 TB the resize exists precisely to shrink what flows onward).
    """
    out = arrow_schema(RESIZE_SCHEMA)

    def shrink(batches):
        for batch in batches:
            rows = []
            for doc_id, payload in zip(*_payloads(batch, id_col, "media")):
                b = payload[::factor]
                rows.append((doc_id, b, len(b)))
            yield rows_batch(rows, out)

    return arrow_map(shrink, media, [id_col, "payload"], RESIZE_SCHEMA)
