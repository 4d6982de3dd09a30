"""Multimodal-column queries ([EXT] north star): binary payload metadata ops
(JVM-side — sha256/hex/length agree across engines) and the Arrow-batched
feature-extraction and media-decode paths.  Every entry is gated by an exact
DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_etl_fiap_spark.operators.multimodal import (
    attach_payload_metadata,
    documents_as_media,
    extract_features,
    frame_sample,
    resize_media,
)
from aws_etl_fiap_spark.queries.registry import query
from aws_etl_fiap_spark.sources.readers import load_table


@query(
    "media_payload_metadata",
    oracle="""
SELECT doc_id AS media_id,
       'fake/text' AS mime,
       octet_length(encode(text)) AS n_bytes,
       sha256(text) AS digest,
       substr(hex(encode(text)), 1, 16) AS head_hex
FROM documents
""",
)
def media_payload_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary metadata, all JVM-side: byte length, SHA-256 digest,
    head bytes — the dedup/routing columns that let 100 TB of media be
    organized without ever decoding it."""
    media = documents_as_media(load_table(spark, sf_dir, "documents"))
    out = attach_payload_metadata(media)
    return out.select(
        "media_id",
        "mime",
        "n_bytes",
        "digest",
        F.hex(F.substring(F.col("payload"), 1, 8)).alias("head_hex"),
    )


@query(
    "media_dedup_by_digest",
    oracle="""
SELECT sha256(text) AS digest,
       COUNT(*) AS n_copies,
       MIN(doc_id) AS canonical_id
FROM documents
GROUP BY sha256(text)
""",
)
def media_dedup_by_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact media dedup on content digest: the shuffle carries 32-byte
    digests, never payloads."""
    media = attach_payload_metadata(documents_as_media(load_table(spark, sf_dir, "documents")))
    return media.groupBy("digest").agg(
        F.count(F.lit(1)).alias("n_copies"), F.min("media_id").alias("canonical_id")
    )


@query(
    "media_frame_sample",
    oracle="""
WITH f AS (
    SELECT doc_id, text,
           unnest(range(0, CAST(length(text) // 16 AS INT), 4)) AS frame_idx
    FROM documents
)
SELECT doc_id AS media_id,
       CAST(frame_idx AS INT) AS frame_idx,
       sha256(substring(text, CAST(frame_idx * 16 + 1 AS BIGINT), 16)) AS frame_digest
FROM f
""",
)
def media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every-4th-frame sampling over video-like payloads (16-byte fake
    frames): the one-to-many media fan-out, emitting per-frame digests so the
    payload never travels past the sampler. Oracle-exact because the
    documents' payload bytes are ASCII (VARCHAR slicing == byte slicing)."""
    media = documents_as_media(load_table(spark, sf_dir, "documents"))
    return frame_sample(media, every_n=4)


@query(
    "media_resize",
    oracle="""
SELECT doc_id AS media_id,
       'fake/text' AS mime,
       8 AS width,
       8 AS height,
       TRUE AS ok,
       upper(sha256(text || '|8x8') || sha256(text || '|8x8')) AS payload_hex
FROM documents
""",
)
def media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize to 8x8 thumbnails via the stubbed codec: payload-in/payload-out
    mapInPandas (output stays binary for the next stage); per-row failures
    degrade to ok=false instead of failing the job.

    Oracle-exact: the fake resize emits sha256(payload||'|8x8') bytes cycled
    to 64 = digest||digest, and the payload is the document's UTF-8 text, so
    DuckDB's varchar sha256 reproduces the exact output bytes; the query
    projects them as hex for the driver's canonicalizer (full-content check,
    stronger than a digest)."""
    media = documents_as_media(load_table(spark, sf_dir, "documents"))
    return resize_media(media, width=8, height=8).select(
        "media_id", "mime", "width", "height", "ok", F.hex("payload").alias("payload_hex")
    )


_FEATURE_ORACLE_COLS = ",\n".join(
    "       CAST(CAST('0x' || substr(sha256(text), {lo}, 2) AS INT) AS DOUBLE)"
    " / CAST(255 AS DOUBLE) AS f{i}".format(lo=2 * i + 1, i=i)
    for i in range(8)
)


@query(
    "media_extract_features",
    oracle=f"""
SELECT doc_id AS media_id,
       'fake/text' AS mime,
       TRUE AS ok,
{_FEATURE_ORACLE_COLS}
FROM documents
""",
)
def media_extract_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched decode/featurize via mapInPandas: deterministic fake
    features for fake/* payloads; ok=false rows mark undecodable media
    instead of failing the job. Schema/batching seams tested in
    tests/test_multimodal.py.

    The registered projection explodes the 8-dim feature array into scalar
    f0..f7 doubles: array cells crash the driver's canonicalizer (round-1
    err), and the fake feature (digest byte / 255.0) is one exact IEEE
    division per element, so DuckDB reproduces it bit-for-bit from
    sha256(text) hex pairs."""
    media = documents_as_media(load_table(spark, sf_dir, "documents"))
    feats = extract_features(media)
    return feats.select(
        "media_id",
        "mime",
        "ok",
        *[F.element_at("feature", i + 1).alias(f"f{i}") for i in range(8)],
    )


@query(
    "media_binaryfile_ingest",
    oracle="""
SELECT doc_id AS media_id,
       octet_length(encode(text)) AS n_bytes,
       sha256(text) AS digest
FROM documents
""",
)
def media_binaryfile_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT S5 edge] Native ``binaryFile`` blob ingest under the exact gate:
    every payload is written as its own .bin object (distributed, Arrow-
    batched — operators/multimodal.write_payload_files), read back through
    ``spark.read.format("binaryFile")``, and the recovered (id, byte
    length, sha256) must hash-equal an oracle computed from the source
    table — so the file sink, the distributed listing, and the content
    bytes are all inside the verified loop.  Mirrors the formats_q
    roundtrip pattern (``scratch_sink``, eager checkpoint)."""
    import os

    from aws_etl_fiap_spark.operators.multimodal import (
        documents_as_media,
        read_payload_files,
        write_payload_files,
    )
    from aws_etl_fiap_spark.sources.writers import scratch_sink

    with scratch_sink("blob_rt_") as tmp:
        path = os.path.join(tmp, "blobs")
        media = documents_as_media(load_table(spark, sf_dir, "documents"))
        write_payload_files(media, path)
        got = read_payload_files(spark, path).select(
            "media_id",
            "n_bytes",
            F.sha2(F.col("payload"), 256).alias("digest"),
        )
        return got.localCheckpoint(eager=True)


@query(
    "media_avi_meta",
    oracle="""
SELECT doc_id AS media_id, TRUE AS ok,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 8 ELSE 6 END AS INTEGER) AS width,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 8 ELSE 10 END AS INTEGER) AS height,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 4 ELSE 3 END AS BIGINT) AS n_frames,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 10 ELSE 25 END AS INTEGER) AS fps,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 1024 ELSE 848 END AS BIGINT) AS n_bytes
FROM documents
""",
)
def media_avi_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT north star] VIDEO CONTAINER round-trip under the exact gate
    (registered in r10 — the r9 verdict's "AVI tier is pytest-only" item):
    each document synthesizes a genuine rawvideo AVI
    (operators/multimodal.documents_as_avi) in one of TWO geometries keyed
    on doc_id parity — 4 frames of 8x8 @ 10 fps vs 3 frames of 6x10 @ 25
    fps — and the engine parses the headers back with the dependency-free
    RIFF/hdrl walker (operators/video.avi_meta).  The oracle pins every
    parsed field AND the exact encoder output size (1024 / 848 bytes —
    fixed RIFF+hdrl overhead plus stride-padded frame chunks, so the
    odd-geometry branch also proves the 4-byte DIB stride math: 6*3=18
    pads to 20).  Header-only parse: frame data is never touched, the
    planning tier a 100 TB video corpus routes on."""
    from aws_etl_fiap_spark.operators.multimodal import documents_as_avi, video_meta

    docs = load_table(spark, sf_dir, "documents")
    even = documents_as_avi(
        docs.filter(F.col("doc_id") % 2 == 0),
        n_frames=4, height=8, width=8, fps=10,
    )
    odd = documents_as_avi(
        docs.filter(F.col("doc_id") % 2 == 1),
        n_frames=3, height=10, width=6, fps=25,
    )
    return video_meta(even.unionByName(odd))


@query(
    "media_avi_frame_features",
    oracle="""
WITH px AS (
    SELECT doc_id,
           CAST(i // 192 AS INTEGER) AS frame_idx,
           i % 192 AS j,
           (CASE WHEN L = 0 THEN 0
                 ELSE CAST('0x' || substr(hx, CAST(2 * (i % L) + 1 AS BIGINT), 2)
                           AS BIGINT)
            END * 31 + (i // 192) * 17 + i * 7) % 256 AS p
    FROM (SELECT doc_id,
                 hex(encode(text)) AS hx,
                 octet_length(encode(text)) AS L,
                 unnest(range(0, 768)) AS i
          FROM documents)
)
SELECT doc_id AS media_id, frame_idx,
       CAST(SUM(p) AS BIGINT) AS sum_px,
       CAST(MAX(p) AS BIGINT) AS max_px,
       CAST(MIN(p) AS BIGINT) AS min_px,
       CAST(SUM(p * (j + 1)) AS BIGINT) AS pos_checksum
FROM px
GROUP BY doc_id, frame_idx
""",
)
def media_avi_frame_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT north star] FULL video decode under the exact gate (registered
    in r10): synthesize a real 4-frame 8x8 AVI per document (pixel
    (f, i) = (b_{i mod L} * 31 + f*17 + i*7) mod 256 over the text bytes),
    decode it with the complete RIFF/DIB walk (operators/video.avi_decode
    — BGR undo, bottom-up undo, stride-padding strip), and emit per-frame
    exact integer stats.  pos_checksum = sum(p_i * (i+1)) over the frame's
    flat RGB index makes the gate ORDER-sensitive: a BGR swap, a row flip,
    or a stride leak each breaks the hash where plain sums would cancel.
    The DuckDB oracle re-derives every pixel from hex(encode(text)), so
    encoder, container walk, and pixel layout are all hash-verified —
    completing the PNG/WAV/AVI media trio's oracle coverage."""
    from aws_etl_fiap_spark.operators.multimodal import (
        documents_as_avi,
        video_frame_stats,
    )

    media = documents_as_avi(load_table(spark, sf_dir, "documents"))
    return video_frame_stats(media)


@query(
    "media_wav_stats",
    oracle="""
WITH bytes AS (
    SELECT doc_id, i,
           CAST('0x' || substr(hex(encode(text)), 2 * i - 1, 2) AS BIGINT) AS b
    FROM (SELECT doc_id, text,
                 unnest(range(1, octet_length(encode(text)) + 1)) AS i
          FROM documents)
),
pcm AS (
    SELECT doc_id, i, ((b * 37 + i * 11) % 256 - 128) * 256 AS s
    FROM bytes
),
stats AS (
    SELECT p.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           CAST(MAX(abs(s)) AS BIGINT) AS peak,
           CAST(SUM(s * s) AS BIGINT) AS sum_sq,
           CAST(SUM(CASE WHEN s * nxt < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS zero_cross
    FROM (SELECT doc_id, i, s,
                 LEAD(s) OVER (PARTITION BY doc_id ORDER BY i) AS nxt
          FROM pcm) p
    GROUP BY p.doc_id
)
SELECT doc_id AS media_id, TRUE AS ok,
       CAST(8000 AS INTEGER) AS sample_rate, CAST(1 AS INTEGER) AS channels,
       n_frames,
       CAST(n_frames * 1000 // 8000 AS BIGINT) AS duration_ms,
       peak, zero_cross,
       FLOOR(sqrt(CAST(sum_sq AS DOUBLE) / CAST(n_frames AS DOUBLE))
             * 1000000.0 + 0.5) / 1000000.0 AS rms
FROM stats
""",
)
def media_wav_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT north star] REAL AUDIO CODEC under the exact gate: each
    document's bytes synthesize a genuine RIFF/WAVE PCM16 payload
    (operators/multimodal.documents_as_wav — a real 44-byte header any
    audio tool opens), the engine parses it back with the dependency-free
    chunk-walking decoder (operators/audio.wav_decode) and computes the
    classic PCM stats; the DuckDB oracle re-derives every sample from
    hex(encode(text)) with the same formula, so container round-trip AND
    sample math are hash-verified.  RMS = one correctly-rounded
    sqrt(exact_int / exact_int) per row, 6dp both sides."""
    from aws_etl_fiap_spark.functions.parity import round_half_up
    from aws_etl_fiap_spark.operators.multimodal import audio_stats, documents_as_wav

    media = documents_as_wav(load_table(spark, sf_dir, "documents"))
    st = audio_stats(media)
    return st.select(
        "media_id",
        "ok",
        "sample_rate",
        "channels",
        "n_frames",
        "duration_ms",
        "peak",
        "zero_cross",
        round_half_up(
            F.sqrt(F.col("sum_sq").cast("double") / F.col("n_frames").cast("double")),
            6,
        ).alias("rms"),
    )


@query(
    "media_wav_resample",
    oracle="""
WITH bytes AS (
    SELECT doc_id, i,
           CAST('0x' || substr(hex(encode(text)), 2 * i - 1, 2) AS BIGINT) AS b
    FROM (SELECT doc_id, text,
                 unnest(range(1, octet_length(encode(text)) + 1)) AS i
          FROM documents)
),
pcm AS (
    SELECT doc_id, i, ((b * 37 + i * 11) % 256 - 128) * 256 AS s
    FROM bytes
    WHERE i % 2 = 1
),
stats AS (
    SELECT p.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           CAST(MAX(abs(s)) AS BIGINT) AS peak,
           CAST(SUM(s * s) AS BIGINT) AS sum_sq,
           CAST(SUM(CASE WHEN s * nxt < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS zero_cross
    FROM (SELECT doc_id, i, s,
                 LEAD(s) OVER (PARTITION BY doc_id ORDER BY i) AS nxt
          FROM pcm) p
    GROUP BY p.doc_id
)
SELECT doc_id AS media_id, TRUE AS ok,
       CAST(4000 AS INTEGER) AS sample_rate, CAST(1 AS INTEGER) AS channels,
       n_frames,
       CAST(n_frames * 1000 // 4000 AS BIGINT) AS duration_ms,
       peak, zero_cross,
       FLOOR(sqrt(CAST(sum_sq AS DOUBLE) / CAST(n_frames AS DOUBLE))
             * 1000000.0 + 0.5) / 1000000.0 AS rms
FROM stats
""",
)
def media_wav_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT north star] Audio PROCESSING through the real codec: the WAV
    corpus decimates 8 kHz -> 4 kHz (operators/audio.wav_decimate: decode,
    keep every 2nd frame, RE-ENCODE a genuine lower-rate WAV), then the
    stats pass decodes the NEW payloads — two full container round-trips
    per row, all hash-verified against the SQL re-derivation of the kept
    samples (1-based odd byte positions).  The decode->transform->encode
    ->decode chain is exactly what a media curation pipeline runs per
    clip at 100 TB; payloads stay inside the two Arrow stages, only
    fixed-width stats shuffle."""
    from aws_etl_fiap_spark.functions.parity import round_half_up
    from aws_etl_fiap_spark.operators.multimodal import (
        audio_stats,
        decimate_audio,
        documents_as_wav,
    )

    media = documents_as_wav(load_table(spark, sf_dir, "documents"))
    halved = decimate_audio(media, factor=2).filter(F.col("ok")).drop("ok")
    st = audio_stats(halved)
    return st.select(
        "media_id",
        "ok",
        "sample_rate",
        "channels",
        "n_frames",
        "duration_ms",
        "peak",
        "zero_cross",
        round_half_up(
            F.sqrt(F.col("sum_sq").cast("double") / F.col("n_frames").cast("double")),
            6,
        ).alias("rms"),
    )


@query(
    "media_wav_energy_windows",
    oracle="""
WITH bytes AS (
    SELECT doc_id, i,
           CAST('0x' || substr(hex(encode(text)), 2 * i - 1, 2) AS BIGINT) AS b
    FROM (SELECT doc_id, text,
                 unnest(range(1, octet_length(encode(text)) + 1)) AS i
          FROM documents)
),
pcm AS (
    SELECT doc_id, i, ((b * 37 + i * 11) % 256 - 128) * 256 AS s
    FROM bytes
)
SELECT doc_id AS media_id,
       CAST((i - 1) // 256 AS INTEGER) AS window_idx,
       CAST(COUNT(*) AS BIGINT) AS n_frames,
       CAST(MAX(abs(s)) AS BIGINT) AS peak,
       CAST(SUM(s * s) AS BIGINT) AS sum_sq,
       FLOOR(sqrt(CAST(SUM(s * s) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
             * 1000000.0 + 0.5) / 1000000.0 AS rms
FROM pcm
GROUP BY doc_id, (i - 1) // 256
""",
)
def media_wav_energy_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT north star] Windowed audio energy profile through the real
    codec (operators/multimodal.audio_energy_windows): decode each WAV
    payload once, emit one row per 256-frame window with frame count,
    peak, exact sum of squares, and 6dp RMS — the VAD/loudness shape; the
    oracle re-derives every window from the byte formula with
    (i-1)//256 grouping, so window boundaries AND per-window math are
    hash-verified."""
    from aws_etl_fiap_spark.functions.parity import round_half_up
    from aws_etl_fiap_spark.operators.multimodal import (
        audio_energy_windows,
        documents_as_wav,
    )

    media = documents_as_wav(load_table(spark, sf_dir, "documents"))
    win = audio_energy_windows(media, window_frames=256)
    return win.select(
        "media_id",
        "window_idx",
        "n_frames",
        "peak",
        "sum_sq",
        round_half_up(
            F.sqrt(F.col("sum_sq").cast("double") / F.col("n_frames").cast("double")),
            6,
        ).alias("rms"),
    )
