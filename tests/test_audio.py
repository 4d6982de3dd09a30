"""Unit + property tests for the dependency-free WAV codec
(operators/audio.py) and its Spark plumbing (documents_as_wav /
audio_stats)."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from aws_etl_fiap_spark.operators.audio import (
    WavFormatError,
    wav_decode,
    wav_encode,
    wav_stats,
)


def test_roundtrip_mono():
    s = np.array([0, 100, -32768, 32767, -1], dtype=np.int16)
    sr, ch, back = wav_decode(wav_encode(s, 16000))
    assert (sr, ch) == (16000, 1)
    assert np.array_equal(back[:, 0], s)


def test_roundtrip_stereo_interleaved():
    s = np.array([1, -1, 2, -2, 3, -3], dtype=np.int16)  # L R L R L R
    sr, ch, back = wav_decode(wav_encode(s, 44100, channels=2))
    assert (sr, ch, back.shape) == (44100, 2, (3, 2))
    assert np.array_equal(back[:, 0], [1, 2, 3])
    assert np.array_equal(back[:, 1], [-1, -2, -3])


def test_chunk_walk_skips_list_chunk():
    """Real recorders put LIST/fact chunks between fmt and data — the
    parser must walk past them (including the odd-length pad byte)."""
    s = np.array([5, -5], dtype=np.int16)
    data = wav_encode(s, 8000)
    head, pcm = data[:36], data[36:]
    injected = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"  # padded
    patched = (
        data[:12]
        + head[12:36]
        + injected
        + pcm
    )
    # fix RIFF size
    patched = b"RIFF" + struct.pack("<I", len(patched) - 8) + patched[8:]
    sr, ch, back = wav_decode(patched)
    assert np.array_equal(back[:, 0], s)


@pytest.mark.parametrize(
    "mutate, msg",
    [
        (lambda d: d[:8], "short RIFF"),
        (lambda d: b"RIFX" + d[4:], "magic"),
        (lambda d: d[:12] + b"WAVE" + d[16:], "magic"),  # corrupt fmt id path
        (lambda d: d[:-3], "truncated"),
        (lambda d: d[:20] + struct.pack("<H", 3) + d[22:], "unsupported"),  # float tag
        (lambda d: d[:34] + struct.pack("<H", 8) + d[36:], "unsupported"),  # 8-bit
    ],
)
def test_malformed_raises_wav_format_error(mutate, msg):
    data = wav_encode(np.array([1, 2, 3, 4], dtype=np.int16), 8000)
    with pytest.raises(WavFormatError):
        wav_decode(mutate(data))


def test_odd_data_length_rejected():
    data = wav_encode(np.array([1, 2], dtype=np.int16), 8000)
    # shrink data chunk to 3 bytes (not divisible by frame size)
    bad = data[:40] + struct.pack("<I", 3) + data[44:47]
    bad = b"RIFF" + struct.pack("<I", len(bad) - 8) + bad[8:]
    with pytest.raises(WavFormatError):
        wav_decode(bad)


def test_stats_hand_checked():
    s = np.array([100, -100, 100, 0, -5], dtype=np.int16)
    st = wav_stats(wav_encode(s, 1000))
    assert st["n_frames"] == 5
    assert st["duration_ms"] == 5
    assert st["peak"] == 100
    # sign flips: (100,-100), (-100,100); (100,0) and (0,-5) are not strict
    assert st["zero_cross"] == 2
    assert st["sum_sq"] == 100**2 * 3 + 25


def test_roundtrip_property():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=30, deadline=None)
    @given(
        st.lists(
            st.integers(min_value=-32768, max_value=32767), min_size=1, max_size=64
        ),
        st.sampled_from([8000, 16000, 44100]),
    )
    def prop(vals, sr):
        s = np.array(vals, dtype=np.int16)
        got_sr, ch, back = wav_decode(wav_encode(s, sr))
        assert got_sr == sr and ch == 1
        assert np.array_equal(back[:, 0], s)

    prop()


def test_documents_as_wav_payloads_decode_everywhere(spark):
    """The synthetic WAV corpus is REAL: every payload parses with the
    codec and ok=true end-to-end through the Arrow stats pass."""
    from pyspark.sql import functions as F

    from aws_etl_fiap_spark.operators.multimodal import audio_stats, documents_as_wav

    docs = spark.createDataFrame(
        [(1, "hello world"), (2, "a"), (3, "zz top")],
        "doc_id long, text string",
    )
    media = documents_as_wav(docs)
    payload = media.filter(F.col("media_id") == 1).collect()[0]["payload"]
    sr, ch, samples = wav_decode(bytes(payload))
    assert (sr, ch, samples.shape[0]) == (8000, 1, len("hello world"))
    rows = {r["media_id"]: r for r in audio_stats(media).collect()}
    assert all(rows[i]["ok"] for i in (1, 2, 3))
    assert rows[2]["n_frames"] == 1 and rows[2]["zero_cross"] == 0


def test_audio_stats_poison_row_for_garbage(spark):
    from aws_etl_fiap_spark.operators.multimodal import audio_stats

    df = spark.createDataFrame(
        [(1, bytearray(b"not a wav file"))], "media_id long, payload binary"
    )
    row = audio_stats(df).collect()[0]
    assert row["ok"] is False and row["n_frames"] is None



def test_zero_sample_rate_is_format_error_and_poison_row(spark):
    """A zero sample rate used to decode fine and then divide by zero in
    wav_stats' duration, killing the job; it is now a malformed header,
    like a zero-geometry AVI, and audio_stats degrades the row."""
    from aws_etl_fiap_spark.operators.multimodal import audio_stats, extract_features

    bad = wav_encode(np.array([1, -1, 2], dtype=np.int16), sample_rate=0)
    with pytest.raises(WavFormatError, match="zero sample rate"):
        wav_decode(bad)
    with pytest.raises(WavFormatError):
        wav_stats(bad)
    df = spark.createDataFrame(
        [(1, "audio/wav", bytearray(bad))], "media_id long, mime string, payload binary"
    )
    row = audio_stats(df).collect()[0]
    assert row["ok"] is False and row["duration_ms"] is None
    feat = extract_features(df).collect()[0]
    assert feat["ok"] is False and feat["feature"] is None

def test_wav_decimate_keeps_every_other_frame():
    s = np.array([10, 20, 30, 40, 50], dtype=np.int16)
    sr, ch, back = wav_decode(
        __import__(
            "aws_etl_fiap_spark.operators.audio", fromlist=["wav_decimate"]
        ).wav_decimate(wav_encode(s, 8000), 2)
    )
    assert sr == 4000 and ch == 1
    assert np.array_equal(back[:, 0], [10, 30, 50])


def test_wav_decimate_rejects_non_dividing_factor():
    from aws_etl_fiap_spark.operators.audio import wav_decimate

    data = wav_encode(np.array([1, 2, 3], dtype=np.int16), 8000)
    with pytest.raises(WavFormatError):
        wav_decimate(data, 3)


def test_energy_windows_hand_checked(spark):
    """3-frame windows over 7 samples: windows of 3, 3, 1 frames with
    per-window peak/sum_sq."""
    from aws_etl_fiap_spark.operators.multimodal import audio_energy_windows

    s = np.array([1, -2, 3, 4, -5, 6, 7], dtype=np.int16)
    df = spark.createDataFrame(
        [(1, bytearray(wav_encode(s, 8000)))], "media_id long, payload binary"
    )
    rows = {r["window_idx"]: r for r in audio_energy_windows(df, 3).collect()}
    assert [rows[i]["n_frames"] for i in (0, 1, 2)] == [3, 3, 1]
    assert rows[0]["peak"] == 3 and rows[0]["sum_sq"] == 1 + 4 + 9
    assert rows[1]["peak"] == 6 and rows[1]["sum_sq"] == 16 + 25 + 36
    assert rows[2]["peak"] == 7 and rows[2]["sum_sq"] == 49


def test_wav_roundtrip_property():
    """Property (r9 verdict task 8, AVI-template sibling): encode -> decode
    is sample-exact for ANY frame count, channel layout, and rate; stats
    match an independent numpy re-derivation; decimation keeps exactly
    every f-th frame inside a genuine re-encoded container."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from aws_etl_fiap_spark.operators.audio import wav_decimate

    @settings(max_examples=30, deadline=None)
    @given(
        st.integers(min_value=1, max_value=200),           # frames
        st.integers(min_value=1, max_value=3),             # channels
        st.sampled_from([4000, 8000, 16000, 44100]),       # rate
        st.integers(min_value=0, max_value=2**32 - 1),     # sample seed
    )
    def prop(n, ch, rate, seed):
        rng = np.random.default_rng(seed)
        samples = rng.integers(-32768, 32768, size=(n, ch), dtype=np.int16)
        data = wav_encode(samples.reshape(-1), rate, channels=ch)
        r2, c2, back = wav_decode(data)
        assert (r2, c2) == (rate, ch)
        assert back.dtype == np.dtype("<i2") and np.array_equal(back, samples)
        stats = wav_stats(data)
        mono = samples[:, 0].astype(np.int64)
        assert stats["n_frames"] == n
        assert stats["duration_ms"] == n * 1000 // rate
        assert stats["peak"] == int(np.abs(mono).max())
        assert stats["sum_sq"] == int((mono * mono).sum())
        assert stats["zero_cross"] == int((mono[:-1] * mono[1:] < 0).sum())
        for f in (2, 4):
            if rate % f == 0:
                r3, c3, kept = wav_decode(wav_decimate(data, f))
                assert (r3, c3) == (rate // f, ch)
                assert np.array_equal(kept, samples[::f])

    prop()
