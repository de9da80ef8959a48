"""The real audio decode path: a pure-numpy RIFF/
WAVE PCM-16 decoder inside the same Arrow mapInPandas plumbing as the
raster twin. Pins:

- byte-level encoder/decoder round-trips for mono and stereo, with an
  extra LIST chunk between fmt and data (the chunk walker must skip it)
  and the odd-size word-alignment pad byte;
- rejection paths (foreign magic, truncated container, non-PCM codec,
  non-16-bit depth, ragged stereo frame) return None, not garbage;
- the batch featurizer's stats vs hand computation (exact integer sums
  first, float division last — the SQL oracle's operation order);
- the crafted-fixture contract (samples == md5 bytes as int16 LE);
- the catalog entry's Spark plan vs its DuckDB oracle on real testdata.
"""

from __future__ import annotations

import hashlib

import duckdb
import numpy as np
import pandas as pd
import pytest

import markt_database_analyzer_spark.datapipe.multimodal as mm
from markt_database_analyzer_spark.catalog import REGISTRY


def _smp(n: int, seed: int = 0) -> np.ndarray:
    rng = np.arange(n, dtype=np.int64) * 9973 + seed * 131
    return ((rng % 65536) - 32768).astype(np.int16)


@pytest.mark.parametrize("n,ch", [(8, 1), (8, 2), (6, 1), (12, 2), (1, 1)])
def test_wav_round_trip_exact(n, ch):
    smp = _smp(n, seed=n * 10 + ch)
    got = mm._parse_wav(mm.encode_wav(smp, n_channels=ch, sample_rate=22050))
    assert got is not None
    n_channels, sample_rate, out = got
    assert (n_channels, sample_rate) == (ch, 22050)
    np.testing.assert_array_equal(out, smp)


def test_wav_extra_chunk_is_walked_not_misread():
    smp = _smp(8, seed=5)
    extra = b"LIST" + (6).to_bytes(4, "little") + b"INFOab"
    got = mm._parse_wav(mm.encode_wav(smp, n_channels=2, sample_rate=8000, extra_chunk=extra))
    assert got is not None
    np.testing.assert_array_equal(got[2], smp)


def test_wav_odd_size_chunk_pad_byte():
    # a 5-byte extra chunk forces the word-alignment pad byte before
    # `data`; a walker that ignores padding misreads the data header
    smp = _smp(4, seed=2)
    extra = b"junk" + (5).to_bytes(4, "little") + b"abcde"
    b = mm.encode_wav(smp, n_channels=1, sample_rate=8000)
    # splice the odd chunk between fmt and data by rebuilding
    b2 = mm.encode_wav(smp, n_channels=1, sample_rate=8000, extra_chunk=extra + b"\x00")
    got = mm._parse_wav(b2)
    assert got is not None
    np.testing.assert_array_equal(got[2], smp)
    assert mm._parse_wav(b) is not None


def test_rejections_return_none():
    smp = _smp(8)
    good = mm.encode_wav(smp)
    assert mm._parse_wav(b"") is None
    assert mm._parse_wav(b"ID3\x03\x00" + smp.tobytes()) is None        # foreign magic
    assert mm._parse_wav(good[:30]) is None                             # truncated
    bad_codec = bytearray(good)
    bad_codec[20:22] = (85).to_bytes(2, "little")                       # MP3 codec id
    assert mm._parse_wav(bytes(bad_codec)) is None
    bad_bits = bytearray(good)
    bad_bits[34:36] = (8).to_bytes(2, "little")                         # 8-bit depth
    assert mm._parse_wav(bytes(bad_bits)) is None
    # ragged stereo: 7 samples cannot split into 2-channel frames
    ragged = mm.encode_wav(_smp(7), n_channels=2, sample_rate=8000)
    assert mm._parse_wav(ragged) is None


def test_audio_batch_stats_match_hand_computation():
    smp = np.array([30000, -30001, 100, -100, 0, 29999, 1, -1], dtype=np.int16)
    pdf = pd.DataFrame(
        {"doc_id": [1, 2], "payload": [mm.encode_wav(smp, 2, 44100), b"ID3\x03\x00xx"]}
    )
    out = mm._audio_decode_batch(pdf)
    s = smp.astype(np.int64)
    assert out.loc[0, "format"] == "wav"
    assert out.loc[0, "n_channels"] == 2
    assert out.loc[0, "sample_rate"] == 44100
    assert out.loc[0, "n_frames"] == 4 and out.loc[0, "n_samples"] == 8
    assert out.loc[0, "mean_amp"] == float(s.sum()) / 8
    assert out.loc[0, "rms"] == round(float(np.sqrt(float((s * s).sum()) / 8)), 6)
    # exactly 30000 and -30001 clip; 29999 does not (CLIP_ABS inclusive)
    assert out.loc[0, "clip_frac"] == 2 / 8
    assert out.loc[1, "format"] == "unsupported"
    assert pd.isna(out.loc[1, "mean_amp"])


def test_crafted_payload_samples_are_md5_int16():
    # the SQL oracle's contract: sample j == md5(str(id)) bytes 2j,2j+1 LE
    raw = hashlib.md5(b"42").digest()[:16]
    want = np.frombuffer(raw, dtype="<i2")
    got = mm._parse_wav(mm.encode_wav(want, 1, 8000))
    np.testing.assert_array_equal(got[2], want)


def test_entry_matches_duckdb_oracle(spark):
    sf = "/root/testdata/sf0.001"
    got = REGISTRY["multimodal_decode_audio"].fn(spark, sf).toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'")
    want = con.execute(REGISTRY["multimodal_decode_audio"].oracle).df()
    con.close()
    assert len(got) == len(want) > 0
    assert set(got["format"]) == {"wav", "unsupported"}
    assert set(got["n_channels"].dropna()) == {1, 2}
    cols = sorted(got.columns)
    # sort both sides by the key before comparing: the entry emits
    # partition-locally sorted rows since r14 (the driver gate is
    # row-sorted; global output order is not part of the contract)
    pd.testing.assert_frame_equal(
        got[cols].sort_values("doc_id").reset_index(drop=True),
        want[cols].sort_values("doc_id").reset_index(drop=True),
        check_dtype=False,
        check_exact=True,
    )


# --- property-based codec pins (pure python, no Spark session) ------------

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=200, deadline=None)
@given(
    samples=st.lists(st.integers(min_value=-32768, max_value=32767), min_size=1, max_size=64),
    ch=st.sampled_from([1, 2]),
    sr=st.integers(min_value=1, max_value=192_000),
)
def test_wav_codec_roundtrip_property(samples, ch, sr):
    # any int16 vector that splits into whole frames must survive
    # encode -> parse bit-exactly; ragged stereo must be rejected
    smp = np.array(samples, dtype=np.int16)
    b = mm.encode_wav(smp, n_channels=ch, sample_rate=sr)
    got = mm._parse_wav(b)
    if len(smp) % ch:
        assert got is None
    else:
        n_channels, sample_rate, out = got
        assert (n_channels, sample_rate) == (ch, sr)
        np.testing.assert_array_equal(out, smp)


@settings(max_examples=100, deadline=None)
@given(data=st.binary(max_size=128))
def test_wav_parser_never_crashes_on_garbage(data):
    # arbitrary bytes: parse returns a decoded triple or None, never an
    # exception and never an out-of-bounds read
    got = mm._parse_wav(data)
    if got is not None:
        assert got[2].dtype == np.dtype("<i2")
