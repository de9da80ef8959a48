"""Multimodal column plumbing: opaque binary payloads + typed metadata.

The engine treats images/audio/video as ``binary`` columns with a struct
of typed metadata alongside. What is REAL here (and tested):

- schema convention (``payload binary, meta struct<...>``)
- metadata extraction as pure column expressions (size, content hash,
  magic-byte sniffing)
- the Arrow-batched decode/feature pipeline shape: ``mapInPandas`` over
  an iterator of record batches, preserving partitioning, with bounded
  batch memory (the exact shape a real image decoder plugs into)

Two backends ship for ``decode_features``:

- ``backend="fake"`` — deterministic byte-stat featurizer (the original
  stand-in, kept for the plumbing entries);
- ``backend="real"`` — an actual pixel decoder for the self-describing
  uncompressed raster formats (BMP 24-bpp BI_RGB and binary PPM ``P6``),
  implemented in pure numpy inside the same Arrow ``mapInPandas``
  plumbing: header parse → stride/padding/bottom-up handling → HxWx3
  uint8 array → per-channel statistics. Payloads in formats that would
  need an external codec (png/jpeg/...) decode to NULL feature columns
  with ``format`` preserved — the batch shape, schema, and partitioning
  are identical to what a PIL/ffmpeg featurizer plugs into.

Three container decoders sit beside it in the same plumbing, each with
its own feature schema: RIFF/WAVE PCM audio, GIF with its LZW stream
(hand-written: the standard library has no LZW), and 8-bit palette PNG,
whose DEFLATE stream and CRC-32/Adler-32 checks go through the standard
library's ``zlib``.
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .util import fan_out

MAGIC = {
    b"\x89PNG": "png",
    b"\xff\xd8\xff": "jpeg",
    b"RIFF": "riff",  # wav/avi containers
    b"GIF8": "gif",
}


def to_payload(col: Column | str) -> Column:
    """Encode a (here: text) column as the opaque binary payload column —
    stand-in for real media bytes in the testdata."""
    c = F.col(col) if isinstance(col, str) else col
    return F.encode(c, "UTF-8")


def payload_meta(payload: Column | str) -> Column:
    """Typed metadata struct from the raw bytes, no decode required:
    byte length, md5 content id, sniffed container format."""
    p = F.col(payload) if isinstance(payload, str) else payload
    fmt: Column = F.lit("unknown")
    for magic, name in MAGIC.items():
        hexpref = magic.hex()
        fmt = F.when(F.hex(F.substring(p, 1, len(magic))) == F.lit(hexpref.upper()), F.lit(name)).otherwise(fmt)
    return F.struct(
        F.length(p).alias("n_bytes"),
        F.md5(p).alias("content_id"),
        fmt.alias("format"),
    )


FEATURE_SCHEMA = (
    "doc_id long, n_bytes long, byte_mean double, byte_min int, byte_max int, feature_version string"
)


def _fake_decode_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """Deterministic stand-in featurizer: byte statistics of the payload,
    vectorized with numpy per payload (``np.frombuffer`` is zero-copy) —
    the same inner-loop discipline a real decoder batch needs. Replaces
    (e.g.) decode→resize→embed for an image batch."""
    def stats(b: bytes) -> tuple[int, float, int, int]:
        if not b:
            return (0, 0.0, 0, 0)
        arr = np.frombuffer(b, dtype=np.uint8)
        return (len(b), float(arr.sum()) / len(b), int(arr.min()), int(arr.max()))

    s = pdf["payload"].map(stats)
    out = pd.DataFrame(
        {
            "doc_id": pdf["doc_id"],
            "n_bytes": s.map(lambda t: t[0]),
            "byte_mean": s.map(lambda t: t[1]),
            "byte_min": s.map(lambda t: t[2]),
            "byte_max": s.map(lambda t: t[3]),
            "feature_version": "fake-v1",
        }
    )
    return out


# ---------------------------------------------------------------------------
# Real raster decode: BMP (24-bpp BI_RGB) and binary PPM (P6) in pure numpy.
# Self-describing uncompressed formats, so the full decode path — header
# parse, row stride/padding, bottom-up flip, BGR→RGB — runs with zero
# external codecs while exercising exactly the batch shape a PIL/ffmpeg
# featurizer plugs into.
# ---------------------------------------------------------------------------

REAL_FEATURE_SCHEMA = (
    "doc_id long, format string, width int, height int, n_pixels long, "
    "mean_r double, mean_g double, mean_b double, feature_version string"
)


def encode_bmp(pixels: np.ndarray) -> bytes:
    """Minimal 24-bpp BI_RGB BMP encoder for an HxWx3 uint8 RGB array —
    bottom-up rows, BGR channel order, 4-byte row padding (the on-disk
    layout Windows bitmaps have used since 1990). Used by tests and the
    ``multimodal_decode_real`` fixture builder; the decoder below must
    invert it bit-exactly."""
    h, w, _ = pixels.shape
    stride = (w * 3 + 3) // 4 * 4
    rows = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up
        row = pixels[y, :, ::-1].tobytes()  # RGB -> BGR
        rows += row + b"\x00" * (stride - len(row))
    data = bytes(rows)
    offset = 14 + 40
    size = offset + len(data)
    file_header = b"BM" + size.to_bytes(4, "little") + b"\x00\x00\x00\x00" + offset.to_bytes(4, "little")
    info = (
        (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + h.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")     # planes
        + (24).to_bytes(2, "little")    # bpp
        + (0).to_bytes(4, "little")     # BI_RGB
        + len(data).to_bytes(4, "little")
        + b"\x00" * 16                   # ppm resolutions + palette counts
    )
    return file_header + info + data


def encode_ppm(pixels: np.ndarray) -> bytes:
    """Binary PPM (P6, maxval 255) encoder for an HxWx3 uint8 RGB array."""
    h, w, _ = pixels.shape
    return f"P6\n{w} {h}\n255\n".encode("ascii") + pixels.tobytes()


def _parse_bmp(b: bytes) -> tuple[str, np.ndarray] | None:
    """Decode an uncompressed 24-bpp BI_RGB BMP to an HxWx3 uint8 RGB
    array; None for anything else (compressed, paletted, truncated)."""
    if len(b) < 54 or b[:2] != b"BM":
        return None
    offset = int.from_bytes(b[10:14], "little")
    header_size = int.from_bytes(b[14:18], "little")
    if header_size < 40:
        return None
    w = int.from_bytes(b[18:22], "little", signed=True)
    h = int.from_bytes(b[22:26], "little", signed=True)
    bpp = int.from_bytes(b[28:30], "little")
    compression = int.from_bytes(b[30:34], "little")
    if bpp != 24 or compression != 0 or w <= 0 or h == 0:
        return None
    bottom_up = h > 0
    h = abs(h)
    stride = (w * 3 + 3) // 4 * 4
    if len(b) < offset + stride * h:
        return None
    raw = np.frombuffer(b, dtype=np.uint8, count=stride * h, offset=offset)
    rows = raw.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if bottom_up:
        rows = rows[::-1]
    return "bmp", rows[:, :, ::-1]  # BGR -> RGB


def _parse_ppm(b: bytes) -> tuple[str, np.ndarray] | None:
    """Decode a binary PPM (P6, maxval 255, with optional # comments)."""
    if b[:2] != b"P6":
        return None
    # header = magic + 3 ASCII ints separated by whitespace/comments,
    # terminated by exactly one whitespace byte before the raster
    pos, fields = 2, []
    while len(fields) < 3 and pos < len(b):
        c = b[pos : pos + 1]
        if c == b"#":
            while pos < len(b) and b[pos : pos + 1] != b"\n":
                pos += 1
        elif c.isspace():
            pos += 1
        elif c.isdigit():
            start = pos
            while pos < len(b) and b[pos : pos + 1].isdigit():
                pos += 1
            fields.append(int(b[start:pos]))
        else:
            return None
    if len(fields) < 3 or pos >= len(b) or not b[pos : pos + 1].isspace():
        return None
    pos += 1
    w, h, maxval = fields
    if maxval != 255 or w <= 0 or h <= 0 or len(b) < pos + w * h * 3:
        return None
    raw = np.frombuffer(b, dtype=np.uint8, count=w * h * 3, offset=pos)
    return "ppm", raw.reshape(h, w, 3)


def decode_pixels(b: bytes) -> tuple[str, np.ndarray] | None:
    """Dispatch on magic bytes; None when no zero-dependency decoder
    applies (png/jpeg/... need external codecs)."""
    if not b:
        return None
    return _parse_bmp(b) or _parse_ppm(b)


def _real_decode_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    rows = []
    for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
        decoded = decode_pixels(bytes(payload) if payload is not None else b"")
        if decoded is None:
            rows.append((doc_id, "unsupported", None, None, None, None, None, None))
            continue
        fmt, px = decoded
        means = px.reshape(-1, 3).mean(axis=0, dtype=np.float64)
        rows.append(
            (
                doc_id, fmt, px.shape[1], px.shape[0],
                px.shape[0] * px.shape[1],
                round(float(means[0]), 6),
                round(float(means[1]), 6),
                round(float(means[2]), 6),
            )
        )
    return pd.DataFrame(
        rows,
        columns=[
            "doc_id", "format", "width", "height", "n_pixels",
            "mean_r", "mean_g", "mean_b",
        ],
    ).assign(feature_version="real-v1")


def decode_features(df: DataFrame, backend: str = "fake") -> DataFrame:
    """Arrow-batched decode/feature extraction over (doc_id, payload).

    ``backend="fake"`` runs the deterministic byte-stat featurizer;
    ``backend="real"`` runs the zero-dependency raster decoder (BMP
    24-bpp / PPM P6 → per-channel pixel means; unsupported formats →
    NULL features). Both share the same ``mapInPandas`` iterator shape,
    so swapping in a PIL/ffmpeg codec is a one-function change."""
    if backend not in ("fake", "real"):
        raise ValueError(f"unknown decode backend {backend!r}")
    batch_fn = _real_decode_batch if backend == "real" else _fake_decode_batch
    schema = REAL_FEATURE_SCHEMA if backend == "real" else FEATURE_SCHEMA

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield batch_fn(pdf)

    return fan_out(df.select("doc_id", "payload")).mapInPandas(run, schema=schema)


def crafted_payloads(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic media fixture builder for the decode entries: per id,
    a 2x2 RGB image whose 12 pixel bytes are the first 12 md5 bytes of
    ``str(id)`` — replayable as hex-pair arithmetic in ANSI SQL, so the
    real decoder's output is fully value-checkable by the DuckDB oracle.
    Container rotates on ``id % 3``: BMP (exercises stride padding +
    bottom-up + BGR), PPM P6 (exercises ASCII header parse), and a
    PNG-magic payload no zero-dependency decoder handles (exercises the
    NULL-feature path). Pure map work inside the same Arrow plumbing."""
    import hashlib

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for d in pdf[id_col]:
                raw = hashlib.md5(str(d).encode("ascii")).digest()[:12]
                px = np.frombuffer(raw, dtype=np.uint8).reshape(2, 2, 3)
                k = int(d) % 3
                if k == 0:
                    payloads.append(encode_bmp(px))
                elif k == 1:
                    payloads.append(encode_ppm(px))
                else:
                    payloads.append(b"\x89PNG\r\n\x1a\n" + raw)
            yield pd.DataFrame({id_col: pdf[id_col], "payload": payloads})

    return fan_out(df.select(id_col)).mapInPandas(
        build, schema=f"{id_col} long, payload binary"
    )


def frame_sample_plan(df: DataFrame, every_n: int = 10) -> DataFrame:
    """Video-frame-sampling shape without a codec: given (doc_id, payload),
    emit one row per sampled "frame" index based on payload size — the
    partition-preserving explode pattern a real frame sampler uses."""
    n_frames = (F.length("payload") / F.lit(100)).cast("int") + 1
    return (
        df.withColumn("frame_idx", F.explode(F.sequence(F.lit(0), n_frames - 1, F.lit(every_n))))
        .select("doc_id", "frame_idx")
    )


# ---------------------------------------------------------------------------
# Real audio decode: RIFF/WAVE PCM 16-bit in pure numpy — the audio twin of
# the BMP/PPM raster path above. The chunk walker
# handles the real container grammar (fmt /data discovery, interleaved
# extra chunks, odd-size pad bytes), so a libsndfile/ffmpeg featurizer
# plugs into the identical mapInPandas batch shape.
# ---------------------------------------------------------------------------

AUDIO_FEATURE_SCHEMA = (
    "doc_id long, format string, n_channels int, sample_rate int, "
    "n_frames bigint, n_samples bigint, mean_amp double, rms double, "
    "clip_frac double, feature_version string"
)

# |sample| at or above this counts as clipped for clip_frac — a fixed
# featurizer constant (full-scale int16 minus headroom), mirrored in the
# catalog entry's SQL oracle.
CLIP_ABS = 30000


def encode_wav(samples: np.ndarray, n_channels: int = 1, sample_rate: int = 8000,
               extra_chunk: bytes | None = None) -> bytes:
    """Minimal RIFF/WAVE PCM encoder for an int16 sample vector
    (interleaved when ``n_channels > 1``). ``extra_chunk`` injects a raw
    pre-encoded chunk between ``fmt `` and ``data`` so tests exercise the
    decoder's chunk walking. The decoder below must invert this
    bit-exactly."""
    data = samples.astype("<i2").tobytes()
    block_align = 2 * n_channels
    fmt = (
        b"fmt " + (16).to_bytes(4, "little")
        + (1).to_bytes(2, "little")                       # PCM
        + n_channels.to_bytes(2, "little")
        + sample_rate.to_bytes(4, "little")
        + (sample_rate * block_align).to_bytes(4, "little")
        + block_align.to_bytes(2, "little")
        + (16).to_bytes(2, "little")                      # bits/sample
    )
    body = fmt + (extra_chunk or b"") + b"data" + len(data).to_bytes(4, "little") + data
    if len(data) % 2:
        body += b"\x00"  # RIFF chunks are word-aligned
    return b"RIFF" + (4 + len(body)).to_bytes(4, "little") + b"WAVE" + body


def _parse_wav(b: bytes) -> tuple[int, int, np.ndarray] | None:
    """Decode RIFF/WAVE PCM 16-bit to (n_channels, sample_rate, int16
    samples); None for anything else (non-PCM codec, other bit depths,
    truncated/foreign containers)."""
    if len(b) < 44 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    pos, n_channels, sample_rate, bits, fmt_code, data = 12, None, None, None, None, None
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        size = int.from_bytes(b[pos + 4 : pos + 8], "little")
        payload_at = pos + 8
        if payload_at + size > len(b):
            return None
        if cid == b"fmt " and size >= 16:
            fmt_code = int.from_bytes(b[payload_at : payload_at + 2], "little")
            n_channels = int.from_bytes(b[payload_at + 2 : payload_at + 4], "little")
            sample_rate = int.from_bytes(b[payload_at + 4 : payload_at + 8], "little")
            bits = int.from_bytes(b[payload_at + 14 : payload_at + 16], "little")
        elif cid == b"data":
            data = b[payload_at : payload_at + size]
        pos = payload_at + size + (size % 2)  # word-aligned pad byte
    if fmt_code != 1 or bits != 16 or not n_channels or not sample_rate or data is None:
        return None
    if len(data) % (2 * n_channels):
        return None
    return n_channels, sample_rate, np.frombuffer(data, dtype="<i2")


def _audio_decode_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    rows = []
    for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
        parsed = _parse_wav(bytes(payload) if payload is not None else b"")
        if parsed is None:
            rows.append((doc_id, "unsupported", None, None, None, None, None, None, None))
            continue
        n_channels, sample_rate, smp = parsed
        n = len(smp)
        s64 = smp.astype(np.int64)
        # exact integer sums first, float division last — the same
        # operation order the SQL oracle replays, so doubles bit-match
        mean_amp = float(int(s64.sum())) / n if n else None
        rms = round(float(np.sqrt(float(int((s64 * s64).sum())) / n)), 6) if n else None
        clip = float(int((np.abs(s64) >= CLIP_ABS).sum())) / n if n else None
        rows.append(
            (doc_id, "wav", n_channels, sample_rate,
             n // n_channels, n, mean_amp, rms, clip)
        )
    return pd.DataFrame(
        rows,
        columns=[
            "doc_id", "format", "n_channels", "sample_rate",
            "n_frames", "n_samples", "mean_amp", "rms", "clip_frac",
        ],
    ).assign(feature_version="audio-v1")


def decode_audio_features(df: DataFrame) -> DataFrame:
    """Arrow-batched WAV decode over (doc_id, payload): RIFF chunk walk →
    PCM int16 samples → per-doc amplitude statistics; non-WAV payloads →
    NULL features with ``format='unsupported'``. Same mapInPandas
    iterator shape as ``decode_features`` — map-only, partition-
    preserving, bounded batch memory."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _audio_decode_batch(pdf)

    return fan_out(df.select("doc_id", "payload")).mapInPandas(
        run, schema=AUDIO_FEATURE_SCHEMA
    )


def crafted_audio_payloads(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic audio fixture builder: per id, 8 int16 samples are
    the first 16 md5 bytes of ``str(id)`` read little-endian — replayable
    as hex-pair arithmetic in ANSI SQL, so the real decoder's output is
    fully value-checkable by the DuckDB oracle. Container rotates on
    ``id % 3``: mono WAV (straight fmt→data layout), stereo WAV with an
    extra LIST chunk between fmt and data (exercises the chunk walker and
    interleave accounting), and an ID3-magic payload no zero-dependency
    decoder handles (exercises the NULL-feature path). Sample rate
    varies as ``8000 + 1000 * (id % 5)`` so the header parse is
    value-checked too. Pure map work inside the same Arrow plumbing."""
    import hashlib

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for d in pdf[id_col]:
                raw = hashlib.md5(str(d).encode("ascii")).digest()[:16]
                smp = np.frombuffer(raw, dtype="<i2")
                k = int(d) % 3
                sr = 8000 + 1000 * (int(d) % 5)
                if k == 0:
                    payloads.append(encode_wav(smp, n_channels=1, sample_rate=sr))
                elif k == 1:
                    extra = b"LIST" + (6).to_bytes(4, "little") + b"INFOab"
                    payloads.append(
                        encode_wav(smp, n_channels=2, sample_rate=sr, extra_chunk=extra)
                    )
                else:
                    payloads.append(b"ID3\x03\x00" + raw)
            yield pd.DataFrame({id_col: pdf[id_col], "payload": payloads})

    return fan_out(df.select(id_col)).mapInPandas(
        build, schema=f"{id_col} long, payload binary"
    )


# ---------------------------------------------------------------------------
# Real GIF decode: GIF87a + LZW in pure numpy/python — the COMPRESSED
# container step. BMP/PPM/WAV above are uncompressed;
# GIF's LZW stream (variable-width codes, dictionary growth, clear/EOI,
# sub-block framing) is the smallest real compressed decode, and the
# chunk walker additionally skips extension blocks — so a libgif/PIL
# featurizer plugs into the identical mapInPandas batch shape.
# ---------------------------------------------------------------------------

GIF_FEATURE_SCHEMA = (
    "doc_id long, format string, width int, height int, n_pixels bigint, "
    "n_colors int, mean_r double, mean_g double, mean_b double, "
    "feature_version string"
)

# Fixed 4-colour palette for the crafted fixture (2-bit indices): black,
# pure R, pure G, pure B — channel means then reduce to exact index
# counts, which is what makes the decode SQL-replayable.
GIF_PALETTE = np.array(
    [[0, 0, 0], [255, 0, 0], [0, 255, 0], [0, 0, 255]], dtype=np.int64
)


def _lzw_encode_gif(indices: np.ndarray, min_code_size: int) -> bytes:
    """GIF-variant LZW encoder (LSB-first variable-width codes, clear
    code up front, EOI at the end). Width grows one step LATER than the
    decoder's ``next == 2**size`` rule — the decoder's table is one
    entry behind the encoder at each read, the classic LZW boundary."""
    clear, eoi = 1 << min_code_size, (1 << min_code_size) + 1
    size, next_code = min_code_size + 1, eoi + 1
    table: dict[tuple[int, ...], int] = {(i,): i for i in range(clear)}
    out_bits: list[tuple[int, int]] = [(clear, size)]
    seq = tuple(int(v) for v in indices)
    w = (seq[0],) if seq else ()  # zero-pixel raster: clear + EOI only
    for s in seq[1:]:
        ws = w + (s,)
        if ws in table:
            w = ws
            continue
        out_bits.append((table[w], size))
        if next_code < 4096:
            table[ws] = next_code
            next_code += 1
            if next_code == (1 << size) + 1 and size < 12:
                size += 1
        w = (s,)
    if w:
        out_bits.append((table[w], size))
    out_bits.append((eoi, size))
    acc = n = 0
    data = bytearray()
    for code, width in out_bits:
        acc |= code << n
        n += width
        while n >= 8:
            data.append(acc & 0xFF)
            acc >>= 8
            n -= 8
    if n:
        data.append(acc & 0xFF)
    return bytes(data)


def _lzw_decode_gif(data: bytes, min_code_size: int) -> list[int] | None:
    """GIF-variant LZW decoder: variable-width LSB-first codes, table
    reset on clear, KwKwK handling for the just-assigned code, width
    bump when the next free code reaches ``2**size``. None on a
    malformed stream (code beyond the table, missing EOI is fine)."""
    clear, eoi = 1 << min_code_size, (1 << min_code_size) + 1

    def reset() -> tuple[dict[int, tuple[int, ...]], int, int]:
        return {i: (i,) for i in range(clear)}, min_code_size + 1, eoi + 1

    table, size, next_code = reset()
    out: list[int] = []
    prev: tuple[int, ...] | None = None
    acc = n = pos = 0
    while True:
        while n < size:
            if pos >= len(data):
                return out  # stream exhausted without EOI — accept
            acc |= data[pos] << n
            pos += 1
            n += 8
        code = acc & ((1 << size) - 1)
        acc >>= size
        n -= size
        if code == clear:
            table, size, next_code = reset()
            prev = None
            continue
        if code == eoi:
            return out
        if prev is None:
            if code >= clear:
                return None
            out.extend(table[code])
            prev = table[code]
            continue
        if code in table:
            entry = table[code]
        elif code == next_code:
            entry = prev + (prev[0],)  # KwKwK
        else:
            return None
        out.extend(entry)
        if next_code < 4096:
            table[next_code] = prev + (entry[0],)
            next_code += 1
            if next_code == (1 << size) and size < 12:
                size += 1
        prev = entry


def encode_gif(
    indices: np.ndarray, palette: np.ndarray = GIF_PALETTE,
    comment: bytes | None = None,
) -> bytes:
    """Minimal GIF87a encoder for a HxW index raster over ``palette``
    (power-of-two sized): logical screen descriptor + global colour
    table + optional comment extension + one image descriptor with a
    real LZW-compressed, sub-block-framed data stream. The decoder
    below must invert this bit-exactly."""
    h, w = indices.shape
    n_colors = len(palette)
    gct_bits = max(1, (n_colors - 1).bit_length())
    min_code_size = max(2, gct_bits)
    head = (
        b"GIF87a"
        + w.to_bytes(2, "little") + h.to_bytes(2, "little")
        + bytes([0x80 | (gct_bits - 1)])  # GCT present, size 2**gct_bits
        + b"\x00\x00"                     # bg index, aspect
        + palette.astype(np.uint8).tobytes()
    )
    body = b""
    if comment is not None:
        # a zero-length sub-block IS the terminator — emit data blocks
        # only for non-empty comments
        sub = bytes([len(comment)]) + comment if comment else b""
        body += b"\x21\xfe" + sub + b"\x00"
    body += (
        b"\x2c" + b"\x00\x00\x00\x00"
        + w.to_bytes(2, "little") + h.to_bytes(2, "little")
        + b"\x00"                         # no local table, not interlaced
        + bytes([min_code_size])
    )
    stream = _lzw_encode_gif(indices.reshape(-1), min_code_size)
    for i in range(0, len(stream), 255):
        chunk = stream[i : i + 255]
        body += bytes([len(chunk)]) + chunk
    return head + body + b"\x00\x3b"      # block terminator + trailer


def _parse_gif(b: bytes) -> tuple[int, int, np.ndarray, np.ndarray] | None:
    """Decode a GIF87a/89a with a global colour table, one non-interlaced
    image and no local colour table to (width, height, palette HxWx3,
    indices flat); None for anything else (foreign magic, truncated
    stream, interlace/local-table variants, bad LZW)."""
    if len(b) < 13 or b[:4] != b"GIF8" or b[4:6] not in (b"7a", b"9a"):
        return None
    width = int.from_bytes(b[6:8], "little")
    height = int.from_bytes(b[8:10], "little")
    packed = b[10]
    if not packed & 0x80:
        return None  # no global colour table
    n_colors = 2 << (packed & 0x07)
    pos = 13
    if pos + 3 * n_colors > len(b):
        return None
    palette = np.frombuffer(b[pos : pos + 3 * n_colors], dtype=np.uint8)
    palette = palette.reshape(n_colors, 3).astype(np.int64)
    pos += 3 * n_colors
    while pos < len(b):
        block = b[pos]
        if block == 0x21:  # extension: label + sub-blocks, skip
            pos += 2
            while pos < len(b) and b[pos] != 0:
                pos += 1 + b[pos]
            pos += 1
        elif block == 0x2C:  # image descriptor
            if pos + 10 > len(b):
                return None
            iw = int.from_bytes(b[pos + 5 : pos + 7], "little")
            ih = int.from_bytes(b[pos + 7 : pos + 9], "little")
            ipacked = b[pos + 9]
            if ipacked & 0xC0:  # local colour table or interlace
                return None
            pos += 10
            if pos >= len(b):
                return None
            min_code_size = b[pos]
            pos += 1
            stream = bytearray()
            while pos < len(b) and b[pos] != 0:
                size = b[pos]
                if pos + 1 + size > len(b):
                    return None
                stream += b[pos + 1 : pos + 1 + size]
                pos += 1 + size
            if pos >= len(b):
                return None  # sub-block chain without the 0x00 terminator
            decoded = _lzw_decode_gif(bytes(stream), min_code_size)
            if decoded is None or len(decoded) != iw * ih:
                return None
            idx = np.asarray(decoded, dtype=np.int64)
            if (idx >= n_colors).any():
                return None
            return width, height, palette, idx
        elif block == 0x3B:  # trailer before any image
            return None
        else:
            return None
    return None


def _gif_decode_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    rows = []
    for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
        parsed = _parse_gif(bytes(payload) if payload is not None else b"")
        if parsed is None:
            rows.append((doc_id, "unsupported", None, None, None, None, None, None, None))
            continue
        width, height, palette, idx = parsed
        n = len(idx)
        rgb = palette[idx]
        # exact integer channel sums first, float division last — the
        # same operation order the SQL oracle replays
        means = [
            round(float(int(rgb[:, c].sum())) / n, 6) if n else None
            for c in range(3)
        ]
        rows.append(
            (doc_id, "gif", width, height, n, len(palette), *means)
        )
    return pd.DataFrame(
        rows,
        columns=[
            "doc_id", "format", "width", "height", "n_pixels",
            "n_colors", "mean_r", "mean_g", "mean_b",
        ],
    ).assign(feature_version="gif-v1")


def decode_gif_features(df: DataFrame) -> DataFrame:
    """Arrow-batched GIF decode over (doc_id, payload): header + GCT
    parse → extension-skipping chunk walk → sub-block reassembly → LZW
    decode → per-channel palette-weighted pixel means; non-GIF payloads
    → NULL features with ``format='unsupported'``. Same mapInPandas
    iterator shape as the raster/audio twins — map-only, partition-
    preserving, bounded batch memory."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _gif_decode_batch(pdf)

    return fan_out(df.select("doc_id", "payload")).mapInPandas(
        run, schema=GIF_FEATURE_SCHEMA
    )


def crafted_gif_payloads(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic GIF fixture builder: per id, 64 2-bit pixel indices
    are md5(str(id)), md5(str(id)+'a'), +'b', +'c' bytes mod 4 —
    replayable as hex-pair arithmetic in ANSI SQL, so the real LZW
    decoder's output is fully value-checkable by the DuckDB oracle.
    Container rotates on ``id % 3``: 8x8 GIF87a (straight layout), 16x4
    GIF with a comment extension before the image descriptor (exercises
    the chunk walker AND a different header geometry), and a PNG-magic
    payload no zero-dependency decoder handles (the NULL-feature path).
    64 four-symbol pixels push the LZW dictionary across the 3→4→5→6
    bit code-width boundaries, so width growth is exercised on every
    payload. Pure map work inside the same Arrow plumbing."""
    import hashlib

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for d in pdf[id_col]:
                raw = b"".join(
                    hashlib.md5((str(d) + sfx).encode("ascii")).digest()
                    for sfx in ("", "a", "b", "c")
                )
                idx = (np.frombuffer(raw, dtype=np.uint8) % 4).astype(np.int64)
                k = int(d) % 3
                if k == 0:
                    payloads.append(encode_gif(idx.reshape(8, 8)))
                elif k == 1:
                    payloads.append(
                        encode_gif(idx.reshape(4, 16), comment=b"crafted")
                    )
                else:
                    payloads.append(b"\x89PNG\r\n\x1a\n" + raw)
            yield pd.DataFrame({id_col: pdf[id_col], "payload": payloads})

    return fan_out(df.select(id_col)).mapInPandas(
        build, schema=f"{id_col} long, payload binary"
    )


# ---------------------------------------------------------------------------
# Animated GIF: the TEMPORAL decode surface — multiple image blocks with
# graphics-control extensions (per-frame delay), the smallest real
# video-like container. Reuses the round-12 LZW machinery; a real
# ffmpeg-style frame featurizer plugs into the identical batch shape.
# ---------------------------------------------------------------------------

GIF_ANIM_FEATURE_SCHEMA = (
    "doc_id long, format string, n_frames int, width int, height int, "
    "n_pixels_total bigint, total_cs int, mean_idx double, motion double, "
    "feature_version string"
)


def encode_gif_animation(
    frames: list, delays_cs: list, palette: np.ndarray = GIF_PALETTE
) -> bytes:
    """Minimal GIF89a animation encoder: logical screen + global colour
    table, then per frame a graphics-control extension (0xF9, 4-byte
    block carrying the centisecond delay) and an image descriptor with a
    real LZW data stream. All frames share the screen geometry."""
    h, w = frames[0].shape
    n_colors = len(palette)
    gct_bits = max(1, (n_colors - 1).bit_length())
    min_code_size = max(2, gct_bits)
    out = bytearray(
        b"GIF89a"
        + w.to_bytes(2, "little") + h.to_bytes(2, "little")
        + bytes([0x80 | (gct_bits - 1)]) + b"\x00\x00"
        + palette.astype(np.uint8).tobytes()
    )
    for frame, delay in zip(frames, delays_cs):
        assert frame.shape == (h, w)
        out += (
            b"\x21\xf9\x04\x00"
            + int(delay).to_bytes(2, "little") + b"\x00\x00"
        )
        out += (
            b"\x2c" + b"\x00\x00\x00\x00"
            + w.to_bytes(2, "little") + h.to_bytes(2, "little")
            + b"\x00" + bytes([min_code_size])
        )
        stream = _lzw_encode_gif(frame.reshape(-1), min_code_size)
        for i in range(0, len(stream), 255):
            chunk = stream[i : i + 255]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)


def _parse_gif_frames(
    b: bytes,
) -> tuple[int, int, np.ndarray, list, int] | None:
    """Decode every frame of a GIF87a/89a animation to (width, height,
    palette, [flat index arrays], total centiseconds). Same restrictions
    as the single-image parser (global colour table, no interlace/local
    tables); frames whose geometry diverges from the screen, bad LZW, or
    a missing trailer return None."""
    if len(b) < 13 or b[:4] != b"GIF8" or b[4:6] not in (b"7a", b"9a"):
        return None
    width = int.from_bytes(b[6:8], "little")
    height = int.from_bytes(b[8:10], "little")
    packed = b[10]
    if not packed & 0x80:
        return None
    n_colors = 2 << (packed & 0x07)
    pos = 13
    if pos + 3 * n_colors > len(b):
        return None
    palette = np.frombuffer(b[pos : pos + 3 * n_colors], dtype=np.uint8)
    palette = palette.reshape(n_colors, 3).astype(np.int64)
    pos += 3 * n_colors
    frames: list = []
    total_cs = 0
    while pos < len(b):
        block = b[pos]
        if block == 0x21:
            if pos + 2 >= len(b):
                return None
            label = b[pos + 1]
            pos += 2
            sub_start = pos
            while pos < len(b) and b[pos] != 0:
                pos += 1 + b[pos]
            if pos >= len(b):
                return None
            if label == 0xF9 and b[sub_start] == 4 and sub_start + 4 <= len(b):
                total_cs += int.from_bytes(b[sub_start + 2 : sub_start + 4], "little")
            pos += 1
        elif block == 0x2C:
            if pos + 10 > len(b):
                return None
            iw = int.from_bytes(b[pos + 5 : pos + 7], "little")
            ih = int.from_bytes(b[pos + 7 : pos + 9], "little")
            if (iw, ih) != (width, height) or b[pos + 9] & 0xC0:
                return None
            pos += 10
            if pos >= len(b):
                return None
            min_code_size = b[pos]
            pos += 1
            stream = bytearray()
            while pos < len(b) and b[pos] != 0:
                size = b[pos]
                if pos + 1 + size > len(b):
                    return None
                stream += b[pos + 1 : pos + 1 + size]
                pos += 1 + size
            if pos >= len(b):
                return None
            pos += 1
            decoded = _lzw_decode_gif(bytes(stream), min_code_size)
            if decoded is None or len(decoded) != iw * ih:
                return None
            idx = np.asarray(decoded, dtype=np.int64)
            if (idx >= n_colors).any():
                return None
            frames.append(idx)
        elif block == 0x3B:
            if not frames:
                return None
            return width, height, palette, frames, total_cs
        else:
            return None
    return None  # ran off the end without a trailer


def _gif_anim_decode_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    rows = []
    for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
        parsed = _parse_gif_frames(bytes(payload) if payload is not None else b"")
        if parsed is None:
            rows.append(
                (doc_id, "unsupported", None, None, None, None, None, None, None)
            )
            continue
        width, height, _palette, frames, total_cs = parsed
        k, px = len(frames), width * height
        total = k * px
        # exact integer sums first, float division last — the SQL
        # oracle's operation order
        mean_idx = round(float(int(sum(int(f.sum()) for f in frames))) / total, 6)
        if k > 1:
            msum = sum(
                int(np.abs(frames[i] - frames[i - 1]).sum()) for i in range(1, k)
            )
            motion = round(float(msum) / ((k - 1) * px), 6)
        else:
            motion = None
        rows.append(
            (doc_id, "gif", k, width, height, total, total_cs, mean_idx, motion)
        )
    return pd.DataFrame(
        rows,
        columns=[
            "doc_id", "format", "n_frames", "width", "height",
            "n_pixels_total", "total_cs", "mean_idx", "motion",
        ],
    ).assign(feature_version="gifanim-v1")


def decode_gif_anim_features(df: DataFrame) -> DataFrame:
    """Arrow-batched animated-GIF decode over (doc_id, payload): the
    multi-frame chunk walk (graphics-control delay accounting, one LZW
    decode per image block) → frame count, duration, overall index mean
    and inter-frame motion; non-GIF payloads → NULL features. Same
    map-only mapInPandas envelope as every decode twin."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _gif_anim_decode_batch(pdf)

    return fan_out(df.select("doc_id", "payload")).mapInPandas(
        run, schema=GIF_ANIM_FEATURE_SCHEMA
    )


def crafted_gif_anim_payloads(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic animated-GIF fixture: frame f's pixel indices are
    the first (width*height) md5(str(id) + 'f' + str(f)) bytes mod 4;
    per-frame delay is (id + f) % 7 centiseconds — both replayable as
    hex-pair arithmetic in ANSI SQL. Container rotates on ``id % 3``:
    3 frames of 4x4, 5 frames of 4x2 (different geometry AND frame
    count), and a JPEG-magic payload (the NULL-feature path)."""
    import hashlib

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for d in pdf[id_col]:
                k = int(d) % 3
                if k == 2:
                    payloads.append(
                        b"\xff\xd8\xff\xe0"
                        + hashlib.md5(str(d).encode("ascii")).digest()
                    )
                    continue
                n_frames, (h, w) = ((3, (4, 4)), (5, (2, 4)))[k]
                frames, delays = [], []
                for f in range(n_frames):
                    raw = hashlib.md5(f"{d}f{f}".encode("ascii")).digest()[: h * w]
                    idx = (np.frombuffer(raw, dtype=np.uint8) % 4).astype(np.int64)
                    frames.append(idx.reshape(h, w))
                    delays.append((int(d) + f) % 7)
                payloads.append(encode_gif_animation(frames, delays))
            yield pd.DataFrame({id_col: pdf[id_col], "payload": payloads})

    return fan_out(df.select(id_col)).mapInPandas(
        build, schema=f"{id_col} long, payload binary"
    )


# ---------------------------------------------------------------------------
# Real PNG decode: the second compression CLASS after GIF's LZW (Huffman
# coding + LZ77 sliding-window matches vs LZW's dictionary codes). The
# DEFLATE codec is the standard library's zlib, driven strictly: the
# chunk walker verifies every CRC-32, ``zlib_unwrap`` is a bounded inflate
# that rejects overrun, truncation and trailing bytes, and the scanline
# stage inverts all five PNG filter predictors (None/Sub/Up/Average/Paeth).
# ---------------------------------------------------------------------------

# encode_png ``method`` -> (level, strategy): one DEFLATE block type each
# (stored BTYPE=00, fixed-Huffman 01, dynamic-Huffman 10)
_DEFLATE_METHODS = {
    "stored": (0, zlib.Z_DEFAULT_STRATEGY),
    "fixed": (9, zlib.Z_FIXED),
    "dynamic": (9, zlib.Z_DEFAULT_STRATEGY),
}


def zlib_wrap(raw: bytes, *, method: str = "fixed") -> bytes:
    """RFC 1950 stream of ``raw`` with the DEFLATE block type picked by
    ``method``: 'stored' | 'fixed' | 'dynamic'."""
    level, strategy = _DEFLATE_METHODS[method]
    c = zlib.compressobj(level, zlib.DEFLATED, 15, 9, strategy)
    return c.compress(raw) + c.flush()


def zlib_unwrap(b: bytes, max_out: int) -> bytes | None:
    """Strict bounded inflate of one RFC 1950 stream: None on a bad
    header, checksum or block, on output past ``max_out``, on truncation
    and on trailing bytes after the Adler-32."""
    if max_out < 0:
        return None
    d = zlib.decompressobj()
    try:
        # one byte of headroom: a max_length of 0 would mean "unbounded"
        raw = d.decompress(b, max_out + 1)
    except zlib.error:
        return None
    if len(raw) > max_out or not d.eof or d.unused_data:
        return None
    return raw


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _filter_scanlines(idx: np.ndarray, filters: list[int]) -> bytes:
    """Apply per-row PNG filters (bpp=1, 8-bit palette indices):
    filter byte + filtered bytes per scanline."""
    h, w = idx.shape
    out = bytearray()
    prior = [0] * w
    for y in range(h):
        row = [int(v) for v in idx[y]]
        f = filters[y % len(filters)]
        out.append(f)
        for x in range(w):
            left = row[x - 1] if x else 0
            up = prior[x]
            upleft = prior[x - 1] if x else 0
            if f == 0:
                v = row[x]
            elif f == 1:
                v = row[x] - left
            elif f == 2:
                v = row[x] - up
            elif f == 3:
                v = row[x] - (left + up) // 2
            else:
                v = row[x] - _paeth(left, up, upleft)
            out.append(v & 0xFF)
        prior = row
    return bytes(out)


def _unfilter_scanlines(raw: bytes, w: int, h: int) -> np.ndarray | None:
    if len(raw) != h * (w + 1):
        return None
    out = np.zeros((h, w), dtype=np.int64)
    prior = [0] * w
    pos = 0
    for y in range(h):
        f = raw[pos]
        pos += 1
        if f > 4:
            return None
        row = [0] * w
        for x in range(w):
            v = raw[pos + x]
            left = row[x - 1] if x else 0
            up = prior[x]
            upleft = prior[x - 1] if x else 0
            if f == 1:
                v += left
            elif f == 2:
                v += up
            elif f == 3:
                v += (left + up) // 2
            elif f == 4:
                v += _paeth(left, up, upleft)
            row[x] = v & 0xFF
        pos += w
        out[y] = row
        prior = row
    return out


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        len(data).to_bytes(4, "big") + ctype + data
        + zlib.crc32(ctype + data).to_bytes(4, "big")
    )


PNG_SIG = b"\x89PNG\r\n\x1a\n"
PNG_MAX_RAW = 1 << 24  # 16 MiB decoded-scanline cap (DoS guard)


def encode_png(
    indices: np.ndarray, palette: np.ndarray = GIF_PALETTE, *,
    method: str = "fixed", filters: list[int] | None = None,
    split_idat: bool = False,
) -> bytes:
    """Minimal real PNG encoder for an HxW palette-index raster: IHDR
    (bit depth 8, colour type 3) + PLTE + IDAT (a zlib stream whose
    DEFLATE block type is chosen by ``method``, see ``zlib_wrap``) +
    IEND, every chunk carrying a real CRC-32. ``filters`` rotates
    per-row predictors to exercise None/Sub/Up/Average/Paeth;
    ``split_idat`` splits the stream across two IDAT chunks to exercise
    reassembly. The decoder below must invert all of it bit-exactly."""
    h, w = indices.shape
    ihdr = (
        w.to_bytes(4, "big") + h.to_bytes(4, "big")
        + bytes([8, 3, 0, 0, 0])  # depth 8, palette, deflate, adaptive, no interlace
    )
    raw = _filter_scanlines(indices, filters or [0])
    z = zlib_wrap(raw, method=method)
    out = PNG_SIG + _png_chunk(b"IHDR", ihdr)
    out += _png_chunk(b"PLTE", palette.astype(np.uint8).tobytes())
    if split_idat and len(z) > 8:
        mid = len(z) // 2
        out += _png_chunk(b"IDAT", z[:mid]) + _png_chunk(b"IDAT", z[mid:])
    else:
        out += _png_chunk(b"IDAT", z)
    return out + _png_chunk(b"IEND", b"")


def _parse_png(b: bytes) -> tuple[int, int, np.ndarray, np.ndarray] | None:
    """Decode an 8-bit palette (colour type 3), non-interlaced PNG to
    (width, height, palette Nx3, indices flat): CRC-verified chunk walk
    → IHDR validation → PLTE → IDAT reassembly → bounded strict
    inflate (``zlib_unwrap``) → per-row unfilter. None for anything
    else: foreign magic, CRC/Adler mismatch, truncation, trailing
    bytes, grayscale/RGB colour types, interlace, bad filter bytes,
    out-of-palette indices."""
    if len(b) < 8 or b[:8] != PNG_SIG:
        return None
    pos = 8
    ihdr = None
    palette = None
    idat = bytearray()
    seen_end = False
    while pos < len(b):
        if pos + 8 > len(b):
            return None
        ln = int.from_bytes(b[pos : pos + 4], "big")
        ctype = b[pos + 4 : pos + 8]
        if pos + 12 + ln > len(b):
            return None
        data = b[pos + 8 : pos + 8 + ln]
        crc = int.from_bytes(b[pos + 8 + ln : pos + 12 + ln], "big")
        if zlib.crc32(ctype + data) != crc:
            return None
        pos += 12 + ln
        if ctype == b"IHDR":
            if ihdr is not None or ln != 13:
                return None
            ihdr = data
        elif ctype == b"PLTE":
            if palette is not None or ln % 3 or not ln:
                return None
            palette = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            seen_end = True
            break
        # ancillary chunks: skipped (CRC still verified above)
    if not seen_end or ihdr is None or palette is None or not idat:
        return None
    w = int.from_bytes(ihdr[0:4], "big")
    h = int.from_bytes(ihdr[4:8], "big")
    depth, ctype_v, comp, filt, inter = ihdr[8:13]
    if (depth, ctype_v, comp, filt, inter) != (8, 3, 0, 0, 0):
        return None  # only 8-bit palette, deflate, adaptive, progressive-off
    if not (0 < w and 0 < h):
        return None
    if h * (w + 1) > PNG_MAX_RAW:
        # IHDR dimensions are attacker-controlled: without this cap a
        # KB-sized IDAT of maximal back-references could inflate to
        # h*(w+1) bytes (GBs) before the length check fires
        return None
    raw = zlib_unwrap(bytes(idat), max_out=h * (w + 1))
    if raw is None:
        return None
    idx2 = _unfilter_scanlines(raw, w, h)
    if idx2 is None:
        return None
    idx = idx2.reshape(-1)
    if (idx >= len(palette)).any():
        return None
    return w, h, palette.astype(np.int64), idx


def _png_decode_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    rows = []
    for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
        parsed = _parse_png(bytes(payload) if payload is not None else b"")
        if parsed is None:
            rows.append((doc_id, "unsupported", None, None, None, None, None, None, None))
            continue
        width, height, palette, idx = parsed
        n = len(idx)
        rgb = palette[idx]
        means = [
            round(float(int(rgb[:, c].sum())) / n, 6) if n else None
            for c in range(3)
        ]
        rows.append((doc_id, "png", width, height, n, len(palette), *means))
    return pd.DataFrame(
        rows,
        columns=[
            "doc_id", "format", "width", "height", "n_pixels",
            "n_colors", "mean_r", "mean_g", "mean_b",
        ],
    ).assign(feature_version="png-v1")


def decode_png_features(df: DataFrame) -> DataFrame:
    """Arrow-batched PNG decode over (doc_id, payload): CRC-verified
    chunk walk → IDAT reassembly → zlib inflate (any DEFLATE block
    type) → five-predictor unfilter → per-channel palette-weighted
    pixel means; non-PNG payloads → NULL features with
    ``format='unsupported'``. Same mapInPandas
    iterator shape as the raster/audio/GIF twins — map-only,
    partition-preserving, bounded batch memory."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _png_decode_batch(pdf)

    return fan_out(df.select("doc_id", "payload")).mapInPandas(
        run, schema=GIF_FEATURE_SCHEMA
    )


def crafted_png_payloads(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic PNG fixture builder: the SAME 64 md5-derived 2-bit
    pixel indices as the GIF fixture (md5(str(id)), +'a', +'b', +'c'
    bytes mod 4 over the fixed 4-colour palette), so the oracle replays
    the features as hex-pair arithmetic. Container rotates on
    ``id % 4`` — one variant per DEFLATE block type plus the rejection
    path: 8x8 stored-block (BTYPE=00) PNG with all five filter
    predictors rotating across rows; 4x16 fixed-Huffman (01) PNG with
    the predictor rotation reversed AND the stream split across two
    IDAT chunks; 8x8 dynamic-Huffman (10) PNG with a third predictor
    rotation; and a GIF-magic payload (the NULL-feature unsupported
    path). Pure map work inside the same Arrow plumbing."""
    import hashlib

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for d in pdf[id_col]:
                raw = b"".join(
                    hashlib.md5((str(d) + sfx).encode("ascii")).digest()
                    for sfx in ("", "a", "b", "c")
                )
                idx = (np.frombuffer(raw, dtype=np.uint8) % 4).astype(np.int64)
                k = int(d) % 4
                if k == 0:
                    payloads.append(
                        encode_png(
                            idx.reshape(8, 8), method="stored",
                            filters=[0, 1, 2, 3, 4],
                        )
                    )
                elif k == 1:
                    payloads.append(
                        encode_png(
                            idx.reshape(4, 16), method="fixed",
                            filters=[4, 3, 2, 1, 0], split_idat=True,
                        )
                    )
                elif k == 2:
                    payloads.append(
                        encode_png(
                            idx.reshape(8, 8), method="dynamic",
                            filters=[2, 0, 4, 1, 3],
                        )
                    )
                else:
                    payloads.append(b"GIF87a" + raw)
            yield pd.DataFrame({id_col: pdf[id_col], "payload": payloads})

    return fan_out(df.select(id_col)).mapInPandas(
        build, schema=f"{id_col} long, payload binary"
    )
