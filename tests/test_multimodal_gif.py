"""The real GIF/LZW decode path: the first
COMPRESSED container in the decode family (BMP/PPM/WAV are
uncompressed) — a pure-python/numpy GIF87a + LZW decoder inside the
same Arrow mapInPandas plumbing. Pins:

- LZW code-stream round-trips across the variable-width boundaries
  (3→4→5→6 bits), including the KwKwK self-reference case and streams
  long enough to span multiple 255-byte sub-blocks;
- full-container round-trips (header geometry, global colour table,
  comment-extension skipping);
- rejection paths (foreign magic, truncated container, interlace /
  local-colour-table flags, codes beyond the table) return None;
- the batch featurizer's stats vs hand computation (exact integer
  counts first, float division last — the SQL oracle's order);
- the crafted-fixture contract (indices == md5 bytes mod 4);
- the catalog entry's Spark plan vs its DuckDB oracle on real testdata.
"""

from __future__ import annotations

import hashlib
import random
import tracemalloc

import duckdb
import numpy as np
import pandas as pd
import pytest

import markt_database_analyzer_spark.datapipe.multimodal as mm
from markt_database_analyzer_spark.catalog import REGISTRY


def _idx(n: int, seed: int = 0, nsym: int = 4) -> np.ndarray:
    rng = np.arange(n, dtype=np.int64) * 7919 + seed * 101
    return rng % nsym


def _anim_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    return mm._decode_batch(
        pdf, mm._gif_anim_features, mm.GIF_ANIM_FEATURE_SCHEMA, "gifanim-v1"
    )


@pytest.mark.parametrize("n", [1, 2, 3, 15, 16, 17, 64, 300, 3000])
def test_lzw_round_trip_exact(n):
    seq = _idx(n, seed=n)
    out = mm._lzw_decode_gif(mm._lzw_encode_gif(seq, 2), 2)
    assert out == list(seq)


def test_lzw_kwkwk_all_same_symbol():
    # a constant run forces codes that reference the entry being
    # defined (the KwKwK case) almost immediately
    for n in (1, 2, 3, 5, 64, 500):
        seq = np.zeros(n, dtype=np.int64)
        assert mm._lzw_decode_gif(mm._lzw_encode_gif(seq, 2), 2) == [0] * n


def test_lzw_width_growth_boundaries():
    # 3000 four-symbol pixels push next_code well past 64 entries, so
    # the stream crosses the 3, 4, 5 and 6-bit read widths; a decoder
    # whose bump condition is off by one desynchronizes and fails
    seq = _idx(3000, seed=9)
    assert mm._lzw_decode_gif(mm._lzw_encode_gif(seq, 2), 2) == list(seq)


def test_lzw_garbage_code_returns_none():
    # a code far beyond the table (first code >= clear) is malformed
    bad = bytes([0b11111111, 0b11111111])
    assert mm._lzw_decode_gif(bad, 2) is None


# the 600-byte comment spans three 255-byte comment sub-blocks
@pytest.mark.parametrize("shape,comment", [((8, 8), None), ((4, 16), b"crafted"),
                                           ((1, 1), None), ((50, 60), b"x" * 40),
                                           pytest.param((8, 8), bytes(range(256)) * 2 + b"c" * 88,
                                                        id="shape4-comment600")])
def test_gif_container_round_trip(shape, comment):
    idx = _idx(shape[0] * shape[1], seed=shape[0]).reshape(shape)
    parsed = mm._parse_gif(mm.encode_gif(idx, comment=comment))
    assert parsed is not None
    w, h, pal, out = parsed
    assert (w, h) == (shape[1], shape[0])
    np.testing.assert_array_equal(pal, mm.GIF_PALETTE)
    np.testing.assert_array_equal(out, idx.reshape(-1))


def test_gif_multi_subblock_stream():
    # 50x60 = 3000 pixels compress to > 255 LZW bytes, so the image
    # data spans several sub-blocks the walker must reassemble
    idx = _idx(3000, seed=3).reshape(50, 60)
    b = mm.encode_gif(idx)
    parsed = mm._parse_gif(b)
    assert parsed is not None
    np.testing.assert_array_equal(parsed[3], idx.reshape(-1))


def test_gif_rejections_return_none():
    idx = _idx(64).reshape(8, 8)
    good = mm.encode_gif(idx)
    assert mm._parse_gif(b"") is None
    assert mm._parse_gif(b"\x89PNG\r\n\x1a\n" + good[6:]) is None  # foreign magic
    assert mm._parse_gif(good[:20]) is None                        # truncated
    no_gct = bytearray(good)
    no_gct[10] &= 0x7F                                             # GCT flag off
    assert mm._parse_gif(bytes(no_gct)) is None
    interlaced = bytearray(good)
    pos = good.index(b"\x2c")
    interlaced[pos + 9] |= 0x40                                    # interlace flag
    assert mm._parse_gif(bytes(interlaced)) is None
    local_ct = bytearray(good)
    local_ct[pos + 9] |= 0x80                                      # local colour table
    assert mm._parse_gif(bytes(local_ct)) is None


def test_gif_batch_stats_match_hand_computation():
    # 64 pixels: 16 of each index -> mean_r = 255*16/64 etc.
    idx = np.repeat(np.arange(4), 16).reshape(8, 8)
    pdf = pd.DataFrame(
        {"doc_id": [1, 2], "payload": [mm.encode_gif(idx), b"\x89PNG\r\n\x1a\nxx"]}
    )
    out = mm._decode_batch(pdf, mm._gif_features, mm.GIF_FEATURE_SCHEMA, "gif-v1")
    assert out.loc[0, "format"] == "gif"
    assert (out.loc[0, "width"], out.loc[0, "height"]) == (8, 8)
    assert out.loc[0, "n_pixels"] == 64 and out.loc[0, "n_colors"] == 4
    assert out.loc[0, "mean_r"] == round(255.0 * 16 / 64, 6)
    assert out.loc[0, "mean_g"] == round(255.0 * 16 / 64, 6)
    assert out.loc[0, "mean_b"] == round(255.0 * 16 / 64, 6)
    assert out.loc[1, "format"] == "unsupported"
    assert pd.isna(out.loc[1, "mean_r"]) and pd.isna(out.loc[1, "width"])


def test_crafted_payload_indices_are_md5_mod4():
    # the SQL oracle's contract: pixel j of the four 16-byte digests,
    # each byte mod 4
    raw = b"".join(hashlib.md5(("42" + s).encode()).digest() for s in ("", "a", "b", "c"))
    want = (np.frombuffer(raw, dtype=np.uint8) % 4).astype(np.int64)
    parsed = mm._parse_gif(mm.encode_gif(want.reshape(8, 8)))
    np.testing.assert_array_equal(parsed[3], want)


def test_entry_matches_duckdb_oracle(spark):
    sf = "/root/testdata/sf0.001"
    got = REGISTRY["multimodal_decode_gif"].fn(spark, sf).toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'")
    want = con.execute(REGISTRY["multimodal_decode_gif"].oracle).df()
    con.close()
    assert len(got) == len(want) > 0
    assert set(got["format"]) == {"gif", "unsupported"}
    assert set(got["width"].dropna()) == {8, 16}
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
    pixels=st.lists(st.integers(min_value=0, max_value=3), min_size=1, max_size=256),
    comment=st.one_of(st.none(), st.binary(max_size=60), st.binary(min_size=200, max_size=600)),
)
def test_gif_codec_roundtrip_property(pixels, comment):
    idx = np.array(pixels, dtype=np.int64).reshape(1, -1)
    parsed = mm._parse_gif(mm.encode_gif(idx, comment=comment))
    assert parsed is not None
    np.testing.assert_array_equal(parsed[3], idx.reshape(-1))


@settings(max_examples=200, deadline=None)
@given(data=st.binary(max_size=128))
def test_gif_parser_never_crashes_on_garbage(data):
    for prefix in (b"", b"GIF87a", b"GIF89a"):
        got = mm._parse_gif(prefix + data)
        assert got is None or len(got) == 4


# --- animated GIF (temporal decode) ----------------------------------------


@pytest.mark.parametrize("nf,shape", [(1, (4, 4)), (3, (4, 4)), (5, (2, 4)), (4, (10, 13))])
def test_gif_animation_round_trip(nf, shape):
    frames = [
        _idx(shape[0] * shape[1], seed=nf * 10 + i).reshape(shape) for i in range(nf)
    ]
    delays = [(7 * i + 3) % 100 for i in range(nf)]
    parsed = mm._parse_gif_frames(mm.encode_gif_animation(frames, delays))
    assert parsed is not None
    w, h, pal, out, cs = parsed
    assert (w, h) == (shape[1], shape[0]) and len(out) == nf
    assert cs == sum(delays)
    for f, o in zip(frames, out):
        np.testing.assert_array_equal(o, f.reshape(-1))


def test_gif_single_image_parses_as_one_frame():
    # a plain GIF87a (no graphics-control blocks) is a 1-frame, 0 cs
    # animation to the multi-frame walker
    b = mm.encode_gif(_idx(64).reshape(8, 8), comment=b"x")
    parsed = mm._parse_gif_frames(b)
    assert parsed is not None and len(parsed[3]) == 1 and parsed[4] == 0


def test_gif_animation_rejections():
    frames = [_idx(16, seed=i).reshape(4, 4) for i in range(2)]
    good = mm.encode_gif_animation(frames, [1, 2])
    assert mm._parse_gif_frames(b"\xff\xd8\xff\xe0" + good[4:]) is None  # jpeg magic
    assert mm._parse_gif_frames(good[:-1]) is None  # missing trailer
    assert mm._parse_gif_frames(good[:30]) is None  # truncated mid-stream
    # geometry mismatch: second frame descriptor edited to 2x4
    pos = good.index(b"\x2c", good.index(b"\x2c") + 1)
    bad = bytearray(good)
    bad[pos + 5 : pos + 7] = (2).to_bytes(2, "little")
    assert mm._parse_gif_frames(bytes(bad)) is None


def test_gif_anim_batch_stats_match_hand_computation():
    # two frames differing in every pixel by exactly 1 -> motion = 1.0
    f0 = np.zeros((4, 4), dtype=np.int64)
    f1 = np.ones((4, 4), dtype=np.int64)
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2],
            "payload": [
                mm.encode_gif_animation([f0, f1], [5, 6]),
                b"\xff\xd8\xff\xe0zz",
            ],
        }
    )
    out = _anim_batch(pdf)
    assert out.loc[0, "format"] == "gif"
    assert out.loc[0, "n_frames"] == 2 and out.loc[0, "total_cs"] == 11
    assert out.loc[0, "n_pixels_total"] == 32
    assert out.loc[0, "mean_idx"] == 0.5  # 16 zeros + 16 ones
    assert out.loc[0, "motion"] == 1.0
    assert out.loc[1, "format"] == "unsupported"
    assert pd.isna(out.loc[1, "motion"])


def test_gif_anim_single_frame_motion_is_null():
    pdf = pd.DataFrame(
        {"doc_id": [1], "payload": [mm.encode_gif_animation([_idx(16).reshape(4, 4)], [3])]}
    )
    out = _anim_batch(pdf)
    assert out.loc[0, "n_frames"] == 1 and pd.isna(out.loc[0, "motion"])


def test_anim_entry_matches_duckdb_oracle(spark):
    sf = "/root/testdata/sf0.001"
    got = REGISTRY["multimodal_decode_gif_frames"].fn(spark, sf).toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'")
    want = con.execute(REGISTRY["multimodal_decode_gif_frames"].oracle).df()
    con.close()
    assert len(got) == len(want) > 0
    assert set(got["format"]) == {"gif", "unsupported"}
    assert set(got["n_frames"].dropna()) == {3, 5}
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


@settings(max_examples=100, deadline=None)
@given(
    nf=st.integers(min_value=1, max_value=4),
    px=st.lists(st.integers(min_value=0, max_value=3), min_size=4, max_size=4),
    delays=st.lists(st.integers(min_value=0, max_value=65535), min_size=4, max_size=4),
)
def test_gif_animation_roundtrip_property(nf, px, delays):
    frames = [np.array(px, dtype=np.int64).reshape(2, 2) + 0 for _ in range(nf)]
    parsed = mm._parse_gif_frames(mm.encode_gif_animation(frames, delays[:nf]))
    assert parsed is not None
    assert len(parsed[3]) == nf and parsed[4] == sum(delays[:nf])


def test_lzw_encode_empty_raster_is_clear_eoi_only():
    # a zero-pixel raster must encode, not IndexError: a legal stream
    # for it is clear + EOI and decodes to the empty list.
    stream = mm._lzw_encode_gif(np.array([], dtype=np.int64), 2)
    assert mm._lzw_decode_gif(stream, 2) == []


def test_lzw_code_size_past_the_12_bit_ceiling_is_rejected_in_bounded_memory():
    # the LZW minimum code size is a payload byte; a flipped one (say 200)
    # would otherwise size the initial table at 2**200 entries
    assert mm._lzw_decode_gif(b"\x00" * 4, 12) is None
    assert mm._lzw_decode_gif(b"\x00" * 4, 16) is None
    g = bytearray(mm.encode_gif(_idx(64).reshape(8, 8)))
    at = 13 + 3 * 4 + 10  # header, 4-colour table, image descriptor
    assert g[at] == 2
    for size in (12, 16):
        g[at] = size
        tracemalloc.start()
        try:
            got = (mm._parse_gif(bytes(g)), mm._parse_gif_frames(bytes(g)))
            peak = tracemalloc.get_traced_memory()[1]
        finally:
            tracemalloc.stop()
        assert got == (None, None)
        assert peak < 256 * 1024


def test_parse_gif_rejects_missing_subblock_terminator():
    # _parse_gif matches _parse_gif_frames' strictness —
    # a data sub-block chain that runs off the buffer without the 0x00
    # terminator is malformed, not accepted.
    g = mm.encode_gif(_idx(64).reshape(8, 8))
    assert mm._parse_gif(g) is not None
    assert g[-2:] == b"\x00\x3b"
    assert mm._parse_gif(g[:-2]) is None          # no terminator, no trailer
    assert mm._parse_gif(g[:-1]) is not None      # terminator present, trailer gone: still one full image
