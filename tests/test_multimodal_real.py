"""The real raster decode path: a pure-numpy BMP /
PPM decoder inside the existing Arrow mapInPandas plumbing, replacing
the backend="real" NotImplementedError gate. Pins:

- byte-level encoder/decoder round-trips, including the layout traps
  (BMP 4-byte row-stride padding at width=3, bottom-up row order, BGR
  channel swap, top-down negative-height variant, PPM comment headers);
- rejection paths (truncated payloads, wrong bpp, foreign magic) return
  None instead of garbage pixels;
- the catalog entry's Spark plan vs its DuckDB oracle on the real
  testdata — the full value-level differential the driver applies.
"""

from __future__ import annotations

import hashlib

import duckdb
import numpy as np
import pandas as pd
import pytest

import markt_database_analyzer_spark.datapipe.multimodal as mm
from markt_database_analyzer_spark.catalog import REGISTRY


def _px(h: int, w: int, seed: int = 0) -> np.ndarray:
    rng = np.arange(h * w * 3, dtype=np.int64) * 37 + seed
    return (rng % 251).astype(np.uint8).reshape(h, w, 3)


@pytest.mark.parametrize("h,w", [(2, 2), (3, 3), (2, 3), (5, 1), (1, 7)])
def test_bmp_round_trip_exact(h, w):
    px = _px(h, w, seed=h * 10 + w)
    fmt, out = mm.decode_pixels(mm.encode_bmp(px))
    assert fmt == "bmp"
    np.testing.assert_array_equal(out, px)


def test_bmp_width3_stride_padding_is_handled():
    # width 3 -> row bytes 9, stride 12: three pad bytes per row must be
    # skipped, not read as pixels
    px = _px(2, 3, seed=7)
    b = mm.encode_bmp(px)
    stride = 12
    assert len(b) == 54 + stride * 2
    _, out = mm.decode_pixels(b)
    np.testing.assert_array_equal(out, px)


def test_bmp_top_down_negative_height():
    px = _px(2, 2, seed=3)
    b = bytearray(mm.encode_bmp(px))
    # flip to top-down: negate height, re-order rows to match
    b[22:26] = (-2).to_bytes(4, "little", signed=True)
    stride = 8
    rows = bytes(b[54:])
    b[54:] = rows[stride:] + rows[:stride]  # bottom-up -> top-down
    fmt, out = mm.decode_pixels(bytes(b))
    assert fmt == "bmp"
    np.testing.assert_array_equal(out, px)


@pytest.mark.parametrize("h,w", [(2, 2), (3, 5), (1, 1)])
def test_ppm_round_trip_exact(h, w):
    px = _px(h, w, seed=h + w)
    fmt, out = mm.decode_pixels(mm.encode_ppm(px))
    assert fmt == "ppm"
    np.testing.assert_array_equal(out, px)


def test_ppm_comment_header():
    px = _px(2, 2, seed=9)
    b = b"P6\n# a comment line\n2 2\n# another\n255\n" + px.tobytes()
    fmt, out = mm.decode_pixels(b)
    assert fmt == "ppm"
    np.testing.assert_array_equal(out, px)


def test_rejections_return_none():
    px = _px(2, 2)
    bmp = mm.encode_bmp(px)
    assert mm.decode_pixels(b"") is None
    assert mm.decode_pixels(b"\x89PNG\r\n\x1a\nxxxx") is None
    assert mm.decode_pixels(bmp[:-5]) is None  # truncated raster
    bad_bpp = bytearray(bmp)
    bad_bpp[28:30] = (8).to_bytes(2, "little")  # paletted
    assert mm.decode_pixels(bytes(bad_bpp)) is None
    assert mm.decode_pixels(b"P6\n2 2\n65535\n" + px.tobytes() * 2) is None
    assert mm.decode_pixels(mm.encode_ppm(px)[:-1]) is None


def test_real_batch_means_match_hand_computation():
    px = _px(2, 2, seed=1)
    pdf = pd.DataFrame({"doc_id": [1], "payload": [mm.encode_bmp(px)]})
    out = mm._real_decode_batch(pdf)
    flat = px.reshape(-1, 3).astype(float)
    assert out.loc[0, "format"] == "bmp"
    assert out.loc[0, "mean_r"] == round(flat[:, 0].mean(), 6)
    assert out.loc[0, "mean_g"] == round(flat[:, 1].mean(), 6)
    assert out.loc[0, "mean_b"] == round(flat[:, 2].mean(), 6)


def test_crafted_payload_pixels_are_md5_bytes():
    # the SQL oracle's contract: pixel byte i == md5(str(id)) hex pair i
    raw = hashlib.md5(b"42").digest()[:12]
    px = np.frombuffer(raw, dtype=np.uint8).reshape(2, 2, 3)
    _, out = mm.decode_pixels(mm.encode_bmp(px))
    np.testing.assert_array_equal(out, px)


def test_entry_matches_duckdb_oracle(spark):
    sf = "/root/testdata/sf0.001"
    got = REGISTRY["multimodal_decode_real"].fn(spark, sf).toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'")
    want = con.execute(REGISTRY["multimodal_decode_real"].oracle).df()
    con.close()
    assert len(got) == len(want) > 0
    assert set(got["format"]) == {"bmp", "ppm", "unsupported"}
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
