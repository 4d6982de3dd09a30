"""Multimodal column plumbing ([EXT] north star): images/audio/video as
opaque ``binary`` columns with typed metadata, decoded/feature-extracted via
Arrow-batched Pandas functions.

Design for 100 TB of media:
- the payload column is ``binary`` and ONLY the Python stages that truly
  need bytes touch it — projections/filters/joins run on the (tiny)
  metadata struct, so Catalyst prunes the heavy column out of every scan
  that doesn't decode;
- decode/resize/frame-sample run in ``mapInPandas``: Arrow ships each
  partition's payloads to Python in batches (no per-row pickling), and the
  UDF yields small fixed-width feature frames, never re-emitting the bytes;
- the codec boundary is TIERED (``decode_payload``): ``image/png``,
  ``audio/wav`` and rawvideo ``video/avi`` have real zero-dependency
  codecs (operators/imaging, operators/audio, operators/video — stdlib
  zlib/struct + numpy), other ``image/*`` mimes use Pillow when
  importable (production clusters), the synthetic ``fake/*`` mimes keep
  the deterministic digest codec that the oracle-gated driver queries
  hash against, and compressed audio/video fail loudly (ffmpeg/librosa
  are not installed) with per-row ok=false degradation instead of job
  death;
- every per-payload Arrow stage runs through ONE batch loop,
  :func:`_map_payloads` / :func:`_payload_batches`: an operator states only
  its output schema and a per-row function that returns zero or more
  output tuples for one row.  The poison rule lives there once: a NULL
  payload, a NULL mime (the loop checks every selected column after the
  leading id), or a row whose function raises one of ``_POISON``
  (``ValueError`` — the Png/Wav/AviFormatError family subclasses it — or
  ``NotImplementedError`` for codecs behind the tiered boundary), yields
  the operator's own poison outcome — a degraded ``ok=false`` row with
  NULLs, or no rows for the one-to-many operators.  Poison rows degrade;
  they never kill the job.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "media_id bigint, mime string, width int, height int, n_bytes bigint, payload binary"
)

FEATURE_DIM = 8
FEATURE_SCHEMA = f"media_id bigint, mime string, ok boolean, feature array<double>"


def attach_payload_metadata(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Typed metadata columns computed JVM-side (no Python, no decode):
    size + content digest — enough for dedup/routing without touching codecs."""
    return df.withColumn("n_bytes", F.octet_length(F.col(payload_col)).cast("bigint")).withColumn(
        "digest", F.sha2(F.col(payload_col), 256)
    )


def decode_stub(mime: str, payload: bytes) -> list[float]:
    """Codec boundary for the ORACLE-GATED tier: ``fake/*`` payloads
    produce a deterministic 8-dim feature from the sha256 digest (so the
    driver-graded queries and tests have stable expected values).  Real
    mime types route through :func:`decode_payload` instead."""
    if mime.startswith("fake/"):
        digest = hashlib.sha256(payload).digest()
        return [b / 255.0 for b in digest[:FEATURE_DIM]]
    raise NotImplementedError(
        f"decode_stub only handles fake/* payloads, got {mime!r}; "
        "use decode_payload for real formats"
    )


def decode_payload(mime: str, payload: bytes) -> list[float]:
    """Codec front door, tiered by what is actually importable:

    1. ``fake/*``   -> deterministic digest feature (oracle tier, above);
    2. ``image/png``-> the zero-dependency real codec in operators/imaging
                       (stdlib zlib + numpy — always available here), real
                       pixels -> dims/moments feature vector;
    3. other image/* -> Pillow if importable (production clusters);
    4. ``video/avi``-> the zero-dependency rawvideo AVI codec in
                       operators/video (RIFF chunk walk + DIB pixel math,
                       the PNG/WAV pattern completed for video);
    5. ``audio/wav``-> the RIFF/PCM16 codec in operators/audio;
    6. everything else (compressed audio/video) -> loud
       NotImplementedError — callers degrade the row to ok=false rather
       than pretending.
    """
    if mime.startswith("fake/"):
        return decode_stub(mime, payload)
    if mime == "image/png":
        from aws_etl_fiap_spark.operators import imaging

        return imaging.image_features(imaging.decode_png(payload), FEATURE_DIM)
    if mime.startswith("image/"):
        try:
            import io

            from PIL import Image  # optional: present on real clusters

            import numpy as np

            from aws_etl_fiap_spark.operators import imaging

            arr = np.asarray(Image.open(io.BytesIO(payload)).convert("RGB"))
            return imaging.image_features(arr, FEATURE_DIM)
        except ImportError:
            raise NotImplementedError(
                f"decoder for {mime!r} requires Pillow, which is not "
                "installed in this environment (PNG works without it)"
            ) from None
    if mime in ("video/avi", "video/x-msvideo"):
        from aws_etl_fiap_spark.operators import video

        return video.video_features(payload, FEATURE_DIM)
    if mime in ("audio/wav", "audio/x-wav"):
        import math

        from aws_etl_fiap_spark.operators import audio as wav

        st = wav.wav_stats(payload)
        n = max(st["n_frames"], 1)
        return [
            st["sample_rate"] / 48000.0,
            st["channels"] / 8.0,
            min(n / 1_000_000.0, 1.0),
            min(st["duration_ms"] / 60000.0, 1.0),
            st["peak"] / 32768.0,
            st["zero_cross"] / n,
            math.sqrt(st["sum_sq"] / n) / 32768.0,
            0.0,
        ][:FEATURE_DIM]
    raise NotImplementedError(
        f"decoder for {mime!r} requires codec libraries (ffmpeg/librosa) "
        "not present in this environment (PNG, WAV/PCM16 and rawvideo AVI "
        "decode natively above; compressed audio/video stays behind this "
        "boundary)"
    )


_POISON = (ValueError, NotImplementedError)


def _payload_batches(batches, schema: str, row_fn, poison, catch=_POISON):
    """The Arrow batch loop behind every per-payload operator.

    Each row of a non-empty batch arrives as its selected columns in order,
    the FIRST being the id and the LAST the binary payload: a NULL in any
    column after the id yields ``poison(*row)``; otherwise ``row_fn(*row)``
    (payload as ``bytes``) yields the row's output tuples, and an exception
    in ``catch`` yields ``poison(*row)`` instead.  One pandas frame per
    batch, named after the flat DDL ``schema`` (no nested types, so its
    fields split on commas)."""
    names = [field.split()[0] for field in schema.split(",")]
    for pdf in batches:
        if not len(pdf):
            continue
        rows = []
        for row in zip(*(pdf[c] for c in pdf.columns)):
            *key, payload = row
            if any(v is None for v in row[1:]):
                rows.extend(poison(*row))
                continue
            try:
                rows.extend(row_fn(*key, bytes(payload)))
            except catch:
                rows.extend(poison(*row))
        yield pd.DataFrame(rows, columns=names)


def _map_payloads(
    df: DataFrame, cols, schema: str, row_fn, *, poison, catch=_POISON
) -> DataFrame:
    """``df.select(*cols)`` through :func:`_payload_batches` as one
    ``mapInPandas`` stage with output ``schema``; ``cols`` ends with the
    payload column."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return _payload_batches(batches, schema, row_fn, poison, catch)

    return df.select(*cols).mapInPandas(run, schema=schema)


def extract_features(df: DataFrame) -> DataFrame:
    """Decode + featurize every payload through :func:`decode_payload`;
    poison rows are ok=false with a NULL feature."""

    def row(mid, mime, payload):
        return [(mid, mime, True, decode_payload(mime, payload))]

    return _map_payloads(
        df, ["media_id", "mime", "payload"], FEATURE_SCHEMA, row,
        poison=lambda mid, mime, _: [(mid, mime, False, None)],
    )


FRAME_BYTES = 16
FRAME_SCHEMA = "media_id bigint, frame_idx int, frame_digest string"
RESIZE_SCHEMA = "media_id bigint, mime string, width int, height int, ok boolean, payload binary"


def frame_sample(df: DataFrame, every_n: int = 4) -> DataFrame:
    """Sample every ``every_n``-th frame from video-like payloads — the
    one-to-MANY media shape (a row fans out to a row per kept frame).

    ``fake/*`` payloads model a video as consecutive FRAME_BYTES-sized
    frames; real codecs would seek keyframes instead (same dataflow, stubbed
    codec), so other mimes are routed away with no rows. Emitted rows carry
    a per-frame digest, never the frame bytes: downstream dedup/indexing
    works on fixed-width rows while the heavy payload column dies at this
    operator's input, which is what keeps the shuffle volume sane at 100 TB
    of video.
    """

    def row(mid, mime, raw):
        if not mime.startswith("fake/"):
            return []  # real codecs unavailable; route, don't crash
        return [
            (mid, i, hashlib.sha256(raw[i * FRAME_BYTES : (i + 1) * FRAME_BYTES]).hexdigest())
            for i in range(0, len(raw) // FRAME_BYTES, every_n)
        ]

    return _map_payloads(
        df, ["media_id", "mime", "payload"], FRAME_SCHEMA, row,
        poison=lambda *_: [], catch=(),
    )


def resize_media(df: DataFrame, width: int, height: int) -> DataFrame:
    """Resize payloads to ``width x height`` — the payload-in/payload-out
    shape (output stays binary for the next pipeline stage).

    ``fake/*`` resize is deterministic: the output payload is the sha256
    digest stream of (payload, width, height) truncated/cycled to
    width*height bytes, so tests can assert exact output sizes and content
    stability.  ``image/png`` payloads take the REAL path: decode
    (operators/imaging, zero-dependency), nearest-neighbor resample with a
    deterministic integer index map, re-encode PNG — the output is a valid
    PNG of the requested dimensions.  Unsupported mimes and poison rows are
    ok=false with a NULL payload."""
    from aws_etl_fiap_spark.operators import imaging

    def poison(mid, mime, _):
        return [(mid, mime, width, height, False, None)]

    def row(mid, mime, raw):
        if mime.startswith("fake/"):
            seed = hashlib.sha256(raw + f"|{width}x{height}".encode()).digest()
            need = width * height
            out = (seed * (need // len(seed) + 1))[:need]
        elif mime == "image/png":
            small = imaging.resize_nearest(imaging.decode_png(raw), width, height)
            out = imaging.encode_png(small)
        else:
            return poison(mid, mime, raw)
        return [(mid, mime, width, height, True, out)]

    return _map_payloads(df, ["media_id", "mime", "payload"], RESIZE_SCHEMA, row, poison=poison)


def documents_as_media(df: DataFrame) -> DataFrame:
    """Adapter for the testdata: treat each document's UTF-8 bytes as an
    opaque ``fake/text`` payload — realistic plumbing (binary column, mime
    routing, metadata) without needing media files in the fixture set."""
    return df.select(
        F.col("doc_id").alias("media_id"),
        F.lit("fake/text").alias("mime"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )


def write_payload_files(df: DataFrame, path: str, id_col: str = "media_id",
                        payload_col: str = "payload") -> int:
    """Materialize each binary payload as its own ``<id>.bin`` file under
    ``path`` — the on-disk shape real media corpora arrive in (one object
    per image/audio clip), written distributed via Arrow batches (no
    driver collect, no per-row pickling).  Returns the file count; a NULL
    payload writes no file.

    Executors must share ``path``'s filesystem (true on local[*] and on any
    cluster writing to a mounted object store/NFS — same assumption as the
    writers.py sinks).
    """
    import os

    os.makedirs(path, exist_ok=True)

    def dump(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n = 0
        for pdf in batches:
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                if payload is None:
                    continue
                with open(os.path.join(path, f"{int(mid):012d}.bin"), "wb") as fh:
                    fh.write(bytes(payload))
                n += 1
        yield pd.DataFrame({"n": [n]})

    counts = df.select(id_col, payload_col).mapInPandas(dump, "n long")
    return int(counts.agg(F.sum("n")).collect()[0][0] or 0)


def read_payload_files(spark, path: str) -> DataFrame:
    """Ingest a blob directory through Spark's native ``binaryFile`` source:
    (path, modificationTime, length, content) rows, with the id parsed back
    from the file name.  This is the 100 TB media-ingest front door —
    distributed file listing, predicate pushdown on path/length, and
    ``spark.sql.files.maxPartitionBytes`` packing many small blobs per
    task.  Note: Spark's file-source planner skips ZERO-length files, so an
    empty payload written by write_payload_files will not reappear here —
    represent emptiness as metadata upstream, never as a 0-byte object."""
    raw = spark.read.format("binaryFile").option("pathGlobFilter", "*.bin").load(path)
    return raw.select(
        F.regexp_extract(F.col("path"), r"([0-9]{12})\.bin$", 1).cast("long").alias("media_id"),
        F.col("length").alias("n_bytes"),
        F.col("content").alias("payload"),
    )


def _documents_as(df: DataFrame, mime: str, encode) -> DataFrame:
    """``(media_id, mime, payload)`` with ``payload = encode(text bytes)``
    per document; NULL text gives a NULL payload."""
    return _map_payloads(
        df,
        [
            F.col("doc_id").alias("media_id"),
            F.lit(mime).alias("mime"),
            F.encode(F.col("text"), "UTF-8").alias("raw"),
        ],
        "media_id long, mime string, payload binary",
        lambda mid, kind, raw: [(mid, kind, encode(raw))],
        poison=lambda mid, kind, _: [(mid, kind, None)],
        catch=(),
    )


def documents_as_wav(df: DataFrame, sample_rate: int = 8000) -> DataFrame:
    """Adapter: synthesize a REAL RIFF/WAVE PCM16 payload per document,
    deterministically from its UTF-8 bytes —

        s_i = ((b_i * 37 + i * 11) % 256 - 128) * 256      (i 1-based)

    so the whole audio path (container encode -> parse -> sample math) runs
    on genuine WAV bytes while staying SQL-re-derivable (the oracle rebuilds
    the same samples from hex(encode(text))).  Arrow-batched; the payload
    column is real enough to open in any audio tool."""
    import numpy as np

    from aws_etl_fiap_spark.operators.audio import wav_encode

    def encode(raw):
        b = np.frombuffer(raw, dtype=np.uint8).astype(np.int64)
        i = np.arange(1, len(b) + 1, dtype=np.int64)
        s = ((b * 37 + i * 11) % 256 - 128) * 256
        return wav_encode(s.astype(np.int16), sample_rate)

    return _documents_as(df, "audio/wav", encode)


def documents_as_avi(
    df: DataFrame, n_frames: int = 4, height: int = 8, width: int = 8,
    fps: int = 10,
) -> DataFrame:
    """Adapter: synthesize a REAL rawvideo AVI payload per document,
    deterministically from its UTF-8 bytes — the video sibling of
    ``documents_as_wav``.  Pixel (f, y, x, c) of an ``n_frames`` x
    ``height`` x ``width`` RGB clip is

        p = (b_{i mod len(b)} * 31 + f * 17 + i * 7) % 256     (i = flat index)

    so the whole video path (RIFF/DIB container encode -> chunk walk ->
    frame math) runs on genuine AVI bytes a media player could open, while
    staying exactly reproducible.  Arrow-batched; payloads never shuffle
    out of the generating stage's consumers."""
    import numpy as np

    from aws_etl_fiap_spark.operators.video import avi_encode

    # Document-independent index math, computed once: only b[i % len(b)]
    # varies with the text.
    i = np.arange(n_frames * height * width * 3, dtype=np.int64)
    add = (i // (height * width * 3)) * 17 + i * 7

    def encode(raw):
        b = np.frombuffer(raw or b"\x00", dtype=np.uint8)
        p = (b[i % len(b)].astype(np.int64) * 31 + add) % 256
        return avi_encode(p.astype(np.uint8).reshape(n_frames, height, width, 3), fps=fps)

    return _documents_as(df, "video/avi", encode)


def video_meta(df: DataFrame) -> DataFrame:
    """Parse AVI payload HEADERS only (operators/video.avi_meta — real
    RIFF/hdrl chunk walk, frame data untouched) and emit the routing
    metadata a 100 TB video pipeline plans on: geometry, frame count, fps,
    and the exact container byte size.  Poison rows are ok=false with NULL
    metadata but keep ``n_bytes``; payload bytes never leave the Arrow
    stage."""
    from aws_etl_fiap_spark.operators.video import avi_meta

    def row(mid, raw):
        m = avi_meta(raw)
        return [(mid, True, m["width"], m["height"], m["n_frames"], m["fps"], len(raw))]

    def poison(mid, payload):
        return [(mid, False, None, None, None, None, None if payload is None else len(payload))]

    return _map_payloads(
        df, ["media_id", "payload"],
        "media_id long, ok boolean, width int, height int, n_frames long, "
        "fps int, n_bytes long",
        row, poison=poison,
    )


def video_frame_stats(df: DataFrame) -> DataFrame:
    """Decode AVI payloads (operators/video.avi_decode — the full RIFF/DIB
    walk that undoes BGR order, bottom-up rows, and stride padding) and
    emit one row per FRAME with exact integer pixel stats: sum, max, min,
    and a position-weighted checksum over the frame's flat RGB index —
    sum(p_i * (i+1)) — so a BGR swap, a row flip, or a stride-padding leak
    each breaks the hash even when the plain sum would cancel.  One-to-many
    like audio_energy_windows: payloads die at this operator's input, only
    fixed-width frame rows shuffle; poison rows contribute no frames
    (ok=false rows are the meta tier's job)."""
    import numpy as np

    from aws_etl_fiap_spark.operators.video import avi_decode

    def row(mid, raw):
        _, frames = avi_decode(raw)
        flat = frames.reshape(len(frames), -1).astype(np.int64)
        w = np.arange(1, flat.shape[1] + 1, dtype=np.int64)
        return [
            (mid, f, int(px.sum()), int(px.max()), int(px.min()), int((px * w).sum()))
            for f, px in enumerate(flat)
        ]

    return _map_payloads(
        df, ["media_id", "payload"],
        "media_id long, frame_idx int, sum_px long, max_px long, "
        "min_px long, pos_checksum long",
        row, poison=lambda *_: [],
    )


def audio_stats(df: DataFrame) -> DataFrame:
    """Decode WAV payloads (operators/audio.wav_decode — real RIFF chunk
    walk) and emit the classic PCM stats per row; poison rows are ok=false
    with NULL stats.  sum_sq stays an exact BIGINT so RMS derivation
    downstream is one correctly-rounded float op."""
    from aws_etl_fiap_spark.operators.audio import wav_stats

    keys = ("sample_rate", "channels", "n_frames", "duration_ms", "peak",
            "zero_cross", "sum_sq")

    def row(mid, raw):
        st = wav_stats(raw)
        return [(mid, True, *(st[k] for k in keys))]

    return _map_payloads(
        df, ["media_id", "payload"],
        "media_id long, ok boolean, sample_rate int, channels int, "
        "n_frames long, duration_ms long, peak long, zero_cross long, "
        "sum_sq long",
        row, poison=lambda mid, _: [(mid, False) + (None,) * len(keys)],
    )


def decimate_audio(df: DataFrame, factor: int) -> DataFrame:
    """Integer-factor audio downsample through the REAL codec
    (operators/audio.wav_decimate: decode -> frame slice -> re-encode), the
    audio sibling of resize_media: payload in, genuine lower-rate WAV
    payload out, Arrow-batched; poison rows are ok=false with a NULL
    payload."""
    from aws_etl_fiap_spark.operators.audio import wav_decimate

    return _map_payloads(
        df, ["media_id", "mime", "payload"],
        "media_id long, mime string, ok boolean, payload binary",
        lambda mid, mime, raw: [(mid, mime, True, wav_decimate(raw, factor))],
        poison=lambda mid, mime, _: [(mid, mime, False, None)],
    )


def audio_energy_windows(df: DataFrame, window_frames: int = 256) -> DataFrame:
    """Windowed PCM energy profile — the frame-batched shape every audio
    featurizer (VAD, loudness normalization, silence trimming) runs: decode
    once, slice the sample axis into fixed ``window_frames`` windows, emit
    one row per (media, window) with frame count, peak, and the exact
    integer sum of squares (RMS numerator).  One-to-many like frame_sample:
    payloads die at this operator's input; only fixed-width window rows
    shuffle; poison rows contribute no windows."""
    import numpy as np

    from aws_etl_fiap_spark.operators.audio import wav_decode

    def row(mid, raw):
        _, _, samples = wav_decode(raw)
        mono = samples[:, 0].astype(np.int64)
        out = []
        for w in range(0, len(mono), window_frames):
            chunk = mono[w : w + window_frames]
            out.append((mid, w // window_frames, len(chunk),
                        int(np.abs(chunk).max()), int((chunk * chunk).sum())))
        return out

    return _map_payloads(
        df, ["media_id", "payload"],
        "media_id long, window_idx int, n_frames long, peak long, sum_sq long",
        row, poison=lambda *_: [],
    )
