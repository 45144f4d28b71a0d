"""Multimodal catalog: binary payload plumbing + REAL image decode.

binary_stats is oracle-checked (byte lengths + base64 prefix are
deterministic in both engines); byte_features' mapInArrow extractor
is Python-side (no SQL twin) -> rows-only, pinned by pytest;
image_features is the oracle-checked core: pure-stdlib PPM/BMP
decoders run inside mapInArrow and the synthetic pixel law makes the
expected statistics closed-form in SQL, so a decoder bug (header
offset, BGR order, bottom-up flip) fails the value hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from mock_map_reduce_spark.operators import multimodal as mm
from mock_map_reduce_spark.registry import query
from mock_map_reduce_spark.sources import load_table


@query(
    "multimodal_binary_stats",
    oracle="""
SELECT doc_id,
       octet_length(CAST(text AS BLOB)) AS n_bytes,
       to_base64(CAST(substring(text, 1, 8) AS BLOB)) AS prefix_b64,
       'text/plain' AS media_type
FROM documents
""",
)
def q_multimodal_binary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed-metadata plumbing over an opaque binary payload column."""
    docs = load_table(spark, sf_dir, "documents")
    media = mm.attach_binary_payload(docs)
    return media.select(
        "doc_id",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.base64(F.encode(F.substring(F.col("payload").cast("string"), 1, 8), "UTF-8")).alias("prefix_b64"),
        F.col("meta.media_type").alias("media_type"),
    )


@query(
    "multimodal_byte_features",
    oracle="""
WITH b AS (
  SELECT doc_id,
         unnest(list_transform(range(1, length(text) + 1),
                               i -> ord(substring(text, i, 1)))) AS v
  FROM documents
),
per AS (SELECT doc_id, COUNT(*) AS n, SUM(v) AS s, SUM(v * v) AS sq FROM b GROUP BY doc_id),
cnts AS (SELECT doc_id, v, COUNT(*) AS c FROM b GROUP BY doc_id, v),
ent AS (SELECT doc_id, SUM(c * log2(c)) AS t FROM cnts GROUP BY doc_id)
SELECT d.doc_id,
       CAST(COALESCE(p.n, 0) AS BIGINT) AS n_bytes,
       COALESCE(round(CAST(p.s AS DOUBLE) / p.n, 6), 0.0) AS mean_byte,
       COALESCE(round(sqrt(CAST(p.sq AS DOUBLE) / p.n
                           - (CAST(p.s AS DOUBLE) / p.n) * (CAST(p.s AS DOUBLE) / p.n)), 6),
                0.0) AS std_byte,
       COALESCE(round(log2(p.n) - e.t / p.n, 6), 0.0) AS entropy_proxy
FROM documents d
LEFT JOIN per p USING (doc_id)
LEFT JOIN ent e USING (doc_id)
""",
)
def q_multimodal_byte_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched byte-feature extraction via mapInArrow — NOW
    oracle-checked (formerly the registry's one rows-only entry).

    The payload is the doc's UTF-8 bytes and the corpus is pure ASCII,
    so DuckDB re-derives every byte as a code point and states the
    identical closed forms the UDF computes from exact integer sums:
    mean = s/n, std = sqrt(sq/n - (s/n)^2) — order-proof — and the
    histogram entropy via the log2(n) - sum(c*log2 c)/n identity (the
    text_entropy_by_source convention; both engines round to 6).
    """
    docs = load_table(spark, sf_dir, "documents")
    return mm.byte_features(mm.attach_binary_payload(docs))


@query(
    "multimodal_image_features",
    oracle="""
SELECT doc_id,
       CAST(8 + doc_id % 9 AS INT) AS width,
       CAST(8 + doc_id % 5 AS INT) AS height,
       CAST(doc_id % 64 + (7 + doc_id % 9) / 2.0 AS DOUBLE) AS mean_r,
       CAST(doc_id % 32 + (7 + doc_id % 5) / 2.0 AS DOUBLE) AS mean_g,
       CAST((7 + doc_id % 9) / 2.0 + (7 + doc_id % 5) / 2.0 AS DOUBLE) AS mean_b,
       CAST(doc_id % 32 AS DOUBLE) AS top_row_g
FROM documents
""",
)
def q_multimodal_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode, oracle-checked end to end.

    Each doc gets a deterministic synthetic image — encoded as netpbm
    PPM (even ids) or 24-bit BMP (odd ids) by the ENCODER half of the
    pure-stdlib codec pair — and ``image_features`` decodes it back
    inside mapInArrow and reduces pixels to per-channel means. The
    pixel law is wrap-free (operators/multimodal.synthesize_image), so
    the oracle states the expected statistics in closed form: any
    decoder defect (PPM header/comment parsing, BMP BGR order, row
    padding, the bottom-up flip — caught by top_row_g) lands as a
    value-hash mismatch, not a silent drift.

    Scale: encode+decode ride one Arrow-batched pass; only (id,
    7 doubles) survive the operator, the payload never shuffles.
    """
    docs = load_table(spark, sf_dir, "documents")
    media = mm.synthesize_image_table(docs)
    return mm.image_features(media)


@query(
    "multimodal_audio_features",
    oracle="""
SELECT doc_id,
       CAST(8000 + (doc_id % 5) * 1000 AS INT) AS sample_rate,
       CAST(32 * (8 + doc_id % 9) AS BIGINT) AS n_samples,
       CAST(doc_id % 1000 - 500 + 15.5 AS DOUBLE) AS mean_sample,
       CAST(doc_id % 1000 - 500 + 31 AS INT) AS peak,
       CAST((doc_id % 1000 - 500) * (doc_id % 1000 - 500)
            + 31 * (doc_id % 1000 - 500) + 325.5 AS DOUBLE) AS energy
FROM documents
""",
)
def q_multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode, oracle-checked end to end.

    Each doc gets a deterministic mono 16-bit PCM WAV (RIFF) clip —
    every third with a junk LIST chunk, so the decoder must genuinely
    walk the chunk list — and ``audio_features`` parses the fmt/data
    chunks back inside mapInArrow. The sawtooth sample law spans
    whole periods, so mean/peak/energy are closed-form
    (operators/multimodal.synthesize_audio): a header-offset,
    chunk-walk, or endianness bug fails the value hash.
    """
    docs = load_table(spark, sf_dir, "documents")
    media = mm.synthesize_audio_table(docs)
    return mm.audio_features(media)


@query(
    "multimodal_video_frames",
    oracle="""
SELECT doc_id,
       CAST(u.t AS INT) AS t,
       CAST(8 + doc_id % 9 AS INT) AS width,
       CAST(8 + doc_id % 5 AS INT) AS height,
       CAST((7 + doc_id % 9) / 2.0 + (7 + doc_id % 5) / 2.0 + u.t AS DOUBLE)
           AS frame_mean_b
FROM documents,
     UNNEST(range(0, CAST(4 + doc_id % 5 AS BIGINT), 2)) AS u(t)
""",
)
def q_multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video-frame decode + sampling, oracle-checked end to end.

    Each doc gets a concatenated-P6 PPM stream (the public netpbm /
    ffmpeg image2pipe 'video' container) of 4..8 frames; the blue
    channel carries +t per frame t, so the per-frame rows prove the
    stream parser found each frame boundary. video_frame_features
    keeps every 2nd frame (1-to-N UDTF shape with a real decoder; the
    byte-chunking frame_sample stays as the codec-free primitive) and
    the oracle enumerates the same (doc, t) lattice with the
    closed-form blue mean.

    Scale: fan-out is rows x frames of FEATURE rows — the payload is
    dropped at the operator edge and never shuffles.
    """
    docs = load_table(spark, sf_dir, "documents")
    media = mm.synthesize_video_table(docs)
    return mm.video_frame_features(media)


@query(
    "multimodal_resize_features",
    oracle="""
WITH b AS (
  SELECT doc_id,
         unnest(list_transform(range(1, length(text) + 1, 4),
                               i -> ord(substring(text, i, 1)))) AS v
  FROM documents
),
per AS (SELECT doc_id, COUNT(*) AS n, SUM(v) AS s, SUM(v * v) AS sq FROM b GROUP BY doc_id),
cnts AS (SELECT doc_id, v, COUNT(*) AS c FROM b GROUP BY doc_id, v),
ent AS (SELECT doc_id, SUM(c * log2(c)) AS t FROM cnts GROUP BY doc_id)
SELECT d.doc_id,
       CAST(COALESCE(p.n, 0) AS BIGINT) AS n_bytes,
       COALESCE(round(CAST(p.s AS DOUBLE) / p.n, 6), 0.0) AS mean_byte,
       COALESCE(round(sqrt(CAST(p.sq AS DOUBLE) / p.n
                           - (CAST(p.s AS DOUBLE) / p.n) * (CAST(p.s AS DOUBLE) / p.n)), 6),
                0.0) AS std_byte,
       COALESCE(round(log2(p.n) - e.t / p.n, 6), 0.0) AS entropy_proxy
FROM documents d
LEFT JOIN per p USING (doc_id)
LEFT JOIN ent e USING (doc_id)
""",
)
def q_multimodal_resize_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The resize → feature-extract CHAIN: two Arrow-batched kernels
    composed — resize_payload keeps every 4th payload byte (the
    media-downscale stand-in), byte_features reduces the RESIZED
    payload to moments — with the oracle stating the same statistics
    over positions 1, 5, 9, … of the source bytes. Both kernels run in
    ONE Python worker (``arrow_map`` fuses them into one mapInArrow),
    which checks the resized batches against the declared resize
    schema before byte_features reads them; the JVM round trip between
    two separate maps (binary column back through Spark) is covered by
    ``tests/test_multimodal.py``, which rebuilds the chain with a
    filter in between and compares rows.

    Scale: the resize exists to shrink what flows onward — payload
    drops to 1/4 before features, and only (id, 4 scalars) survive
    the second stage; nothing keyed ever sees bytes.
    """
    docs = load_table(spark, sf_dir, "documents")
    resized = mm.resize_payload(mm.attach_binary_payload(docs), factor=4)
    return mm.byte_features(resized)
