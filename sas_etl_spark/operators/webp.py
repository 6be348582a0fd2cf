"""Lossless WebP (VP8L): real byte decode + fixture encoder, stdlib +
numpy only (SURVEY.md §2.9 #58 modality family; closes most of the
former "WebP gate").

The gate note in operators/multimodal.py says WebP needs an external
codec — that is true only for LOSSY WebP (VP8 key frames use a
boolean arithmetic coder plus the full intra-prediction stack).
LOSSLESS WebP (the VP8L chunk, "WebP Lossless Bitstream
Specification", Google, 2012-2023; the format `cwebp -lossless`
emits) is prefix-coded: canonical Huffman over ARGB literals, an
LZ77 backward-reference layer with a 2-D short-distance map, an
optional color cache, four reversible spatial transforms, and
optional spatially-varying ("meta") Huffman code groups. All of that
is integer + Huffman arithmetic — the same class of work as the PNG
lane's inflate+unfilter and the JPEG lane's huffman+IDCT — so it is
implemented here for real, with zero codec libraries.

Scope (documented precisely, the house rule for codec lanes):

- `decode_webp` decodes the full VP8L feature surface: both Huffman
  code shapes (simple 1-/2-symbol codes and code-length-coded codes
  with 16/17/18 repeats and the optional max_symbol cap), color
  cache, LZ77 with the 120-entry plane-code distance map, meta
  Huffman groups, and all four transforms — SUBTRACT_GREEN,
  PREDICTOR (all 14 modes), COLOR (cross-color multipliers), and
  COLOR_INDEXING (palette, incl. sub-byte pixel bundling). The one
  rejected combination is COLOR_INDEXING together with PREDICTOR /
  COLOR transforms (raises; encoders do not emit it — palette mode
  excludes the pixel-space transforms in practice).
- Verification is two-layered. (1) In-repo: round-trip against this
  module's OWN `vp8l_encode` (feature-configurable precisely so
  tests can drive every decoder path) plus a hypothesis property
  over random images x random feature combos — the same posture as
  the PNG/JPEG/WAV lanes. (2) CROSS-CODEC, against the reference
  implementation: where the system ships libwebp as a shared
  library (this container does — ctypes, no Python codec package),
  tests/test_webp_cross_codec.py proves libwebp decodes every
  stream our encoder emits bit-exactly, our decoder decodes
  libwebp's own lossless encodes across content that drives its
  full feature set (predictor transforms, meta groups, palettes,
  deep LZ77), and the 120-entry plane-code distance map matches a
  table extracted empirically from libwebp by probing crafted
  one-backref streams. That probe is load-bearing history: the
  first, spec-recalled version of the map had a wrong tail domain
  (codes 97-120), caught only by the reference decoder's own
  emissions on smooth gradients.
- Lossy VP8 is the one family a pure-Python decoder cannot cover
  (boolean arithmetic coder + intra prediction). Where the OS image
  ships libwebp (this container does), `decode_webp` routes lossy /
  extended chunks through it via ctypes (`decode_webp_system`) — so
  on such hosts EVERY WebP decodes; on bare hosts the lossy gate
  raises explicitly while lossless VP8L still decodes natively.

The Spark-facing `webp_stats` and `webp_lossy_error_stats` lanes are
`multimodal.payload_lane` calls: executors import `decode_webp` /
`decode_webp_system` from the package zip that `session._ship_package`
adds to every Python worker, which `payload_lane` ensures.
`q_webp_features` (queries/io_stream.py) writes the six-configuration
VP8L fixture, decodes it through that lane, and hash-matches the
pure-SQL pixel oracle.
"""

from __future__ import annotations

import ctypes
import functools
import struct

import numpy as np
from pyspark.sql import DataFrame

from sas_etl_spark.operators.multimodal import (
    _ERROR_SCHEMA,
    _STATS_SCHEMA,
    _channel_means,
    _gradient_error_row,
    payload_lane,
)

# ---------------------------------------------------------------------
# Bit I/O. VP8L packs bits LSB-first within each byte; ReadBits(n)
# returns the first-read bit in the LOWEST position. Huffman codes are
# the one exception in *interpretation*: bits are still consumed in
# stream order, but the first bit read is the MSB of the canonical
# code (tree descent from the root).
# ---------------------------------------------------------------------


class _BitWriter:
    """LSB-first bit packer. Bits accumulate in an int and flush to the
    byte buffer eight at a time — bit-stream-identical to the original
    bit-at-a-time appender (r17, guide §1.2 per-task work: the encoder
    spent ~50% of its time in the per-bit loop)."""

    def __init__(self) -> None:
        self._bytes = bytearray()
        self._acc = 0  # pending bits, LSB = oldest
        self._bitpos = 0  # number of pending bits (< 8 after write())

    def write(self, value: int, nbits: int) -> None:
        acc = self._acc | ((value & ((1 << nbits) - 1)) << self._bitpos)
        n = self._bitpos + nbits
        while n >= 8:
            self._bytes.append(acc & 0xFF)
            acc >>= 8
            n -= 8
        self._acc = acc
        self._bitpos = n

    def write_code(self, code: int, nbits: int) -> None:
        """Huffman code: emit MSB of the code first (bit-reversed into
        the LSB-first stream)."""
        rev = 0
        for _ in range(nbits):
            rev = (rev << 1) | (code & 1)
            code >>= 1
        self.write(rev, nbits)

    def bytes(self) -> bytes:
        out = bytes(self._bytes)
        if self._bitpos:
            out += bytes((self._acc,))
        return out


class _BitReader:
    """LSB-first bit reader. Multi-bit reads extract the whole field
    with one int.from_bytes + shift instead of a per-bit loop (r17;
    same values, same truncation condition: a read whose LAST bit
    falls past the final byte raises exactly where the per-bit loop
    did)."""

    def __init__(self, data: bytes) -> None:
        self._data = data
        self._nbits = len(data) * 8
        self._pos = 0  # absolute bit position
        # 64-bit window cache: absolute bits [_win_start, _win_end) of
        # the stream, loaded 8 bytes at a time. Purely positional — it
        # stays valid when _pos is advanced externally (LUT fast path).
        self._win = 0
        self._win_start = 0
        self._win_end = 0

    def read(self, nbits: int) -> int:
        pos = self._pos
        end = pos + nbits
        if end > self._nbits:
            raise ValueError("VP8L: bitstream truncated")
        if pos < self._win_start or end > self._win_end:
            byte0 = pos >> 3
            self._win = int.from_bytes(
                self._data[byte0 : byte0 + 8], "little"
            )
            self._win_start = byte0 << 3
            self._win_end = min(self._win_start + 64, self._nbits)
        self._pos = end
        return (self._win >> (pos - self._win_start)) & ((1 << nbits) - 1)


# ---------------------------------------------------------------------
# Canonical prefix codes (deflate-style assignment, RFC 1951 §3.2.2:
# shorter lengths first, ties broken by symbol order).
# ---------------------------------------------------------------------


def _canonical_code_table(lengths: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, nbits) for nonzero lengths."""
    max_len = max(lengths, default=0)
    bl_count = [0] * (max_len + 1)
    for ln in lengths:
        if ln:
            bl_count[ln] += 1
    code = 0
    next_code = [0] * (max_len + 2)
    for bits in range(1, max_len + 1):
        code = (code + bl_count[bits - 1]) << 1
        next_code[bits] = code
    out: dict[int, tuple[int, int]] = {}
    for sym, ln in enumerate(lengths):
        if ln:
            out[sym] = (next_code[ln], ln)
            next_code[ln] += 1
    return out


class _HuffDecoder:
    """Canonical decoder with a peek-LUT fast path. A single-symbol
    code (all other lengths zero) decodes without consuming bits, per
    the VP8L simple-code degenerate case.

    Fast path (r17): codes of length <= _PEEK bits resolve with ONE
    bit-peek + table lookup (the LUT is indexed by the next _PEEK raw
    stream bits; VP8L streams are LSB-first while canonical codes
    compare MSB-first, so each code is bit-reversed into the index).
    Longer codes, and reads near the end of the stream, fall back to
    the original bit-at-a-time loop — decode order, consumed bits and
    error behavior are identical to the per-bit decoder."""

    _PEEK = 9

    def __init__(self, lengths: list[int]) -> None:
        nz = [(s, ln) for s, ln in enumerate(lengths) if ln]
        if not nz:
            raise ValueError("VP8L: huffman code with no symbols")
        if len(nz) == 1:
            self._single: int | None = nz[0][0]
            self._table: dict[tuple[int, int], int] = {}
            self._peek = 0
            self._lut: list[tuple[int, int] | None] = []
            return
        self._single = None
        kraft = sum(2.0 ** -ln for _, ln in nz)
        if abs(kraft - 1.0) > 1e-9:
            raise ValueError(f"VP8L: incomplete huffman code (kraft={kraft})")
        self._table = {
            (nbits, code): sym
            for sym, (code, nbits) in _canonical_code_table(lengths).items()
        }
        self._peek = min(max(ln for _, ln in nz), self._PEEK)
        self._lut = None  # built lazily on first fast-path read

    def _build_lut(self) -> list[tuple[int, int] | None]:
        peek = self._peek
        lut: list[tuple[int, int] | None] = [None] * (1 << peek)
        for (nbits, code), sym in self._table.items():
            if nbits > peek:
                continue
            rev = 0
            c = code
            for _ in range(nbits):
                rev = (rev << 1) | (c & 1)
                c >>= 1
            lut[rev :: 1 << nbits] = [(sym, nbits)] * (1 << (peek - nbits))
        self._lut = lut
        return lut

    def read(self, br: _BitReader) -> int:
        if self._single is not None:
            return self._single
        pos = br._pos
        peek = self._peek
        end = pos + peek
        if end <= br._nbits:
            if pos < br._win_start or end > br._win_end:
                byte0 = pos >> 3
                br._win = int.from_bytes(
                    br._data[byte0 : byte0 + 8], "little"
                )
                br._win_start = byte0 << 3
                br._win_end = min(br._win_start + 64, br._nbits)
            lut = self._lut
            if lut is None:
                lut = self._build_lut()
            entry = lut[
                (br._win >> (pos - br._win_start)) & ((1 << peek) - 1)
            ]
            if entry is not None:
                br._pos = pos + entry[1]
                return entry[0]
        code = 0
        nbits = 0
        while True:
            code = (code << 1) | br.read(1)
            nbits += 1
            sym = self._table.get((nbits, code))
            if sym is not None:
                return sym
            if nbits > 15:
                raise ValueError("VP8L: invalid huffman code in stream")


#: Order in which code-length-code lengths are stored (spec §6.2.2 —
#: identical role to deflate's CL order, different permutation).
_CL_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)


def _read_huffman_code(br: _BitReader, alphabet_size: int) -> _HuffDecoder:
    """One prefix code: simple (1-2 symbols) or code-length-coded."""
    if br.read(1):  # simple code
        num_symbols = br.read(1) + 1
        first_len = 8 if br.read(1) else 1
        sym0 = br.read(first_len)
        lengths = [0] * alphabet_size
        if num_symbols == 1:
            if sym0 >= alphabet_size:
                raise ValueError("VP8L: simple-code symbol out of range")
            lengths[sym0] = 1  # degenerate; _HuffDecoder reads 0 bits
            return _HuffDecoder(lengths)
        sym1 = br.read(8)
        if sym0 >= alphabet_size or sym1 >= alphabet_size or sym0 == sym1:
            raise ValueError("VP8L: bad simple-code symbols")
        lengths[sym0] = lengths[sym1] = 1
        return _HuffDecoder(lengths)
    # normal: read the code-length code, then the symbol lengths
    num_cl = br.read(4) + 4
    if num_cl > len(_CL_ORDER):
        raise ValueError("VP8L: too many code-length codes")
    cl_lengths = [0] * 19
    for i in range(num_cl):
        cl_lengths[_CL_ORDER[i]] = br.read(3)
    cl_dec = _HuffDecoder(cl_lengths)
    # optional cap on the number of coded symbols
    if br.read(1):
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths = [0] * alphabet_size
    prev_len = 8
    sym = 0
    while sym < alphabet_size:
        if max_symbol <= 0:
            break
        max_symbol -= 1
        cl = cl_dec.read(br)
        if cl < 16:
            lengths[sym] = cl
            sym += 1
            if cl:
                prev_len = cl
        elif cl == 16:
            rep = 3 + br.read(2)
            for _ in range(rep):
                if sym >= alphabet_size:
                    raise ValueError("VP8L: repeat past alphabet")
                lengths[sym] = prev_len
                sym += 1
        elif cl == 17:
            sym += 3 + br.read(3)
        else:  # 18
            sym += 11 + br.read(7)
        if sym > alphabet_size:
            raise ValueError("VP8L: zero-run past alphabet")
    return _HuffDecoder(lengths)


# ---------------------------------------------------------------------
# LZ77 prefix values and the 2-D short-distance map.
# ---------------------------------------------------------------------


def _lz77_read_value(br: _BitReader, prefix: int) -> int:
    """Length/distance prefix code -> value (spec §5.2.2)."""
    if prefix < 4:
        return prefix + 1
    extra = (prefix - 2) >> 1
    offset = (2 + (prefix & 1)) << extra
    return offset + br.read(extra) + 1


def _lz77_prefix(value: int) -> tuple[int, int, int]:
    """value -> (prefix_code, extra_bits, extra_value); encoder side."""
    if value <= 4:
        return value - 1, 0, 0
    v = value - 1
    extra = v.bit_length() - 2
    offset = (2 + ((v >> extra) & 1)) << extra
    return (
        2 * extra + ((v >> extra) & 1) + 2,
        extra,
        value - offset - 1,
    )


def _build_distance_map() -> list[tuple[int, int]]:
    """The 120 plane codes: 2-D offsets (dx, dy) with dx in [-7, 8]
    and dy in [0, 7] (dy = 0 requires dx > 0; exactly 8 + 7*16 = 120
    offsets), ordered by increasing euclidean distance, ties broken
    by larger dy first, then larger dx (positive before negative).
    The full table is pinned against the REFERENCE decoder in
    tests/test_webp_cross_codec.py, which extracts libwebp's own
    code->offset mapping by probing crafted one-backref streams (the
    probe caught a wrong tail domain in the first, spec-recalled
    version of this rule). distance = dx + dy*width, clamped to
    >= 1."""
    cands = [
        (x, y)
        for y in range(0, 8)
        for x in range(-7, 9)
        if y > 0 or x > 0
    ]
    cands.sort(key=lambda p: (p[0] * p[0] + p[1] * p[1], -p[1], -p[0]))
    assert len(cands) == 120
    return cands


_DIST_MAP: list[tuple[int, int]] = _build_distance_map()
#: (dx, dy) -> 1-based plane code, for the encoder.
_DIST_CODE: dict[tuple[int, int], int] = {
    p: i + 1 for i, p in enumerate(_DIST_MAP)
}


def _plane_code_to_distance(code: int, width: int) -> int:
    if code > 120:
        return code - 120
    dx, dy = _DIST_MAP[code - 1]
    return max(1, dx + dy * width)


def _distance_to_code(distance: int, width: int) -> tuple[int, bool]:
    """Encoder: prefer a plane code when the offset is in the map."""
    for (dx, dy), code in _DIST_CODE.items():
        if dx + dy * width == distance and distance >= 1:
            return code, True
    return distance + 120, False


# ---------------------------------------------------------------------
# Color cache (spec §4.3).
# ---------------------------------------------------------------------


def _cache_key(argb: int, bits: int) -> int:
    return ((0x1E35A7BD * argb) & 0xFFFFFFFF) >> (32 - bits)


# ---------------------------------------------------------------------
# Decoder.
# ---------------------------------------------------------------------

_TRANSFORM_PREDICTOR = 0
_TRANSFORM_COLOR = 1
_TRANSFORM_SUBTRACT_GREEN = 2
_TRANSFORM_COLOR_INDEXING = 3


def _div_round_up(a: int, b: int) -> int:
    return (a + b - 1) // b


def _decode_entropy_coded_image(
    br: _BitReader, width: int, height: int, is_level0: bool
) -> np.ndarray:
    """One spatially-coded ARGB image (spec §5): color-cache info,
    huffman code groups (meta groups only at level 0), then the
    literal / backref / cache-ref pixel stream. Returns uint32 ARGB
    flat array of length width*height."""
    cache_bits = 0
    if br.read(1):
        cache_bits = br.read(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError(f"VP8L: bad color-cache bits {cache_bits}")
    cache_size = (1 << cache_bits) if cache_bits else 0

    meta = None
    meta_bits = 0
    num_groups = 1
    if is_level0 and br.read(1):
        meta_bits = br.read(3) + 2
        mw = _div_round_up(width, 1 << meta_bits)
        mh = _div_round_up(height, 1 << meta_bits)
        meta_px = _decode_entropy_coded_image(br, mw, mh, False)
        meta = ((meta_px >> 8) & 0xFFFF).astype(np.int64)
        num_groups = int(meta.max()) + 1
    green_size = 256 + 24 + cache_size
    groups = []
    for _ in range(num_groups):
        groups.append(
            (
                _read_huffman_code(br, green_size),
                _read_huffman_code(br, 256),  # red
                _read_huffman_code(br, 256),  # blue
                _read_huffman_code(br, 256),  # alpha
                _read_huffman_code(br, 40),  # distance
            )
        )

    npix = width * height
    out = np.zeros(npix, dtype=np.uint32)
    cache = np.zeros(max(cache_size, 1), dtype=np.uint32)
    pos = 0
    mw = _div_round_up(width, 1 << meta_bits) if meta is not None else 0
    while pos < npix:
        if meta is not None:
            x, y = pos % width, pos // width
            g = groups[int(meta[(y >> meta_bits) * mw + (x >> meta_bits)])]
        else:
            g = groups[0]
        green_dec, red_dec, blue_dec, alpha_dec, dist_dec = g
        s = green_dec.read(br)
        if s < 256:  # literal ARGB
            red = red_dec.read(br)
            blue = blue_dec.read(br)
            alpha = alpha_dec.read(br)
            px = (alpha << 24) | (red << 16) | (s << 8) | blue
            out[pos] = px
            if cache_bits:
                cache[_cache_key(px, cache_bits)] = px
            pos += 1
        elif s < 256 + 24:  # LZ77 backward reference
            length = _lz77_read_value(br, s - 256)
            dist_code = _lz77_read_value(br, dist_dec.read(br))
            distance = _plane_code_to_distance(dist_code, width)
            if distance > pos or pos + length > npix:
                raise ValueError("VP8L: backref out of range")
            # Vectorized copy (r17, guide §4.2): a non-overlapping run
            # is one slice copy; an overlapping run is the periodic
            # extension of the last `distance` pixels (exactly what the
            # pixel-at-a-time loop produces), so tile the period. The
            # color cache sees every copied pixel in stream order —
            # fancy assignment keeps the LAST value per key, which is
            # precisely the sequential loop's final cache state.
            if distance >= length:
                vals = out[pos - distance : pos - distance + length]
            else:
                reps = -(-length // distance)
                vals = np.tile(out[pos - distance : pos], reps)[:length]
            out[pos : pos + length] = vals
            if cache_bits:
                keys = (vals * np.uint32(0x1E35A7BD)) >> np.uint32(
                    32 - cache_bits
                )
                cache[keys] = vals
            pos += length
        else:  # color-cache reference
            idx = s - 256 - 24
            if idx >= cache_size:
                raise ValueError("VP8L: cache index out of range")
            out[pos] = cache[idx]
            pos += 1
    return out


def _avg2(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Per-channel (a+b)//2 on packed ARGB uint32."""
    return (((a ^ b) & 0xFEFEFEFE) >> 1) + (a & b)


def _unpack(px: int) -> tuple[int, int, int, int]:
    return (px >> 24) & 0xFF, (px >> 16) & 0xFF, (px >> 8) & 0xFF, px & 0xFF


def _pack(a: int, r: int, g: int, b: int) -> int:
    return (a << 24) | (r << 16) | (g << 8) | b


def _clamp(v: int) -> int:
    return 0 if v < 0 else (255 if v > 255 else v)


def _predict(mode: int, left: int, top: int, topleft: int, topright: int) -> int:
    """The 14 VP8L predictors (spec §4.2.2), packed-ARGB in/out."""
    if mode == 0:
        return 0xFF000000
    if mode == 1:
        return left
    if mode == 2:
        return top
    if mode == 3:
        return topright
    if mode == 4:
        return topleft
    a = np.uint32
    if mode == 5:
        return int(_avg2(_avg2(a(left), a(topright)), a(top)))
    if mode == 6:
        return int(_avg2(a(left), a(topleft)))
    if mode == 7:
        return int(_avg2(a(left), a(top)))
    if mode == 8:
        return int(_avg2(a(topleft), a(top)))
    if mode == 9:
        return int(_avg2(a(top), a(topright)))
    if mode == 10:
        return int(
            _avg2(_avg2(a(left), a(topleft)), _avg2(a(top), a(topright)))
        )
    if mode == 11:  # Select
        lc = _unpack(left)
        tc = _unpack(top)
        tlc = _unpack(topleft)
        pae_left = 0
        pae_top = 0
        for i in range(4):
            p = lc[i] + tc[i] - tlc[i]
            pae_left += abs(p - lc[i])
            pae_top += abs(p - tc[i])
        return left if pae_left <= pae_top else top
    if mode == 12:  # ClampAddSubtractFull
        out = 0
        for shift in (24, 16, 8, 0):
            ch = _clamp(
                ((left >> shift) & 0xFF)
                + ((top >> shift) & 0xFF)
                - ((topleft >> shift) & 0xFF)
            )
            out |= ch << shift
        return out
    if mode == 13:  # ClampAddSubtractHalf
        avg = int(_avg2(np.uint32(left), np.uint32(top)))
        out = 0
        for shift in (24, 16, 8, 0):
            av = (avg >> shift) & 0xFF
            tl = (topleft >> shift) & 0xFF
            d = av - tl
            half = d // 2 if d >= 0 else -((-d) // 2)  # C trunc division
            out |= _clamp(av + half) << shift
        return out
    raise ValueError(f"VP8L: bad predictor mode {mode}")


def _add_pred_mod256(res: np.ndarray, pred: np.ndarray) -> None:
    """In-place per-channel (mod 256) add of packed-ARGB predictions
    onto packed-ARGB residuals: a plain uint8 add on the little-endian
    byte views IS the per-channel modular add the scalar loop did."""
    res.view(np.uint8)[:] += np.ascontiguousarray(pred).view(np.uint8)


def _apply_inverse_predictor(
    pixels: np.ndarray, width: int, height: int, modes: np.ndarray, bits: int
) -> None:
    """In-place: residuals + prediction mod 256 per channel, scan
    order. Edge rules (universal implementation behavior): (0,0)
    predicts opaque black; row 0 predicts LEFT; column 0 predicts TOP;
    TOPRIGHT at the last column reads the CURRENT row's first pixel
    (the contiguous-buffer rule).

    r17 (guide §4.2): processed row by row in per-block mode
    segments. Modes whose prediction reads only the PREVIOUS row
    (0/2/3/4/8/9) and mode 1 (pure LEFT — a per-channel prefix sum)
    vectorize over the whole segment; the remaining left-dependent
    modes (5-7, 10-13) keep the scalar recurrence. Row 0 is one
    prefix sum. Byte-identical to the per-pixel loop (verified over
    the full fixture sets)."""
    mw = _div_round_up(width, 1 << bits)
    # row 0: out[x] = black + cumsum(res[0..x]) per channel mod 256
    row0 = pixels[0:width].view(np.uint8).reshape(-1, 4)
    np.add.accumulate(row0, axis=0, out=row0)
    row0[:, 3] += np.uint8(0xFF)  # alpha byte of 0xFF000000
    for y in range(1, height):
        base = y * width
        prev = pixels[base - width : base]
        # x = 0 predicts TOP
        _add_pred_mod256(pixels[base : base + 1], prev[0:1])
        x = 1
        mrow = (y >> bits) * mw
        while x < width:
            mode = int((modes[mrow + (x >> bits)] >> 8) & 0xFF)
            x_end = min((((x >> bits) + 1) << bits), width)
            n = x_end - x
            seg = pixels[base + x : base + x_end]
            if mode in (3, 9):  # needs the TOPRIGHT vector
                tr = np.empty(n, dtype=np.uint32)
                if x_end < width:
                    tr[:] = prev[x + 1 : x_end + 1]
                else:
                    tr[:-1] = prev[x + 1 : x_end]
                    tr[-1] = pixels[base]  # contiguous-buffer rule
            if mode == 0:
                _add_pred_mod256(
                    seg, np.full(n, 0xFF000000, dtype=np.uint32)
                )
            elif mode == 1:  # LEFT: prefix sum + left boundary
                sb = seg.view(np.uint8).reshape(-1, 4)
                np.add.accumulate(sb, axis=0, out=sb)
                sb += pixels[base + x - 1 : base + x].view(
                    np.uint8
                ).reshape(1, 4)
            elif mode == 2:
                _add_pred_mod256(seg, prev[x:x_end])
            elif mode == 3:
                _add_pred_mod256(seg, tr)
            elif mode == 4:
                _add_pred_mod256(seg, prev[x - 1 : x_end - 1])
            elif mode == 8:
                _add_pred_mod256(
                    seg, _avg2(prev[x - 1 : x_end - 1], prev[x:x_end])
                )
            elif mode == 9:
                _add_pred_mod256(seg, _avg2(prev[x:x_end], tr))
            else:  # left-dependent recurrences: scalar, as before
                for pos in range(base + x, base + x_end):
                    xx = pos - base
                    left = int(pixels[pos - 1])
                    top = int(pixels[pos - width])
                    topleft = int(pixels[pos - width - 1])
                    topright = (
                        int(pixels[pos - width + 1])
                        if xx + 1 < width
                        else int(pixels[base])
                    )
                    pred = _predict(mode, left, top, topleft, topright)
                    res = int(pixels[pos])
                    px = 0
                    for shift in (24, 16, 8, 0):
                        ch = (
                            ((res >> shift) & 0xFF)
                            + ((pred >> shift) & 0xFF)
                        ) & 0xFF
                        px |= ch << shift
                    pixels[pos] = px
            x = x_end


def _ct_delta(t: int, c: int) -> int:
    """ColorTransformDelta: (int8)t * (int8)c >> 5, arithmetic shift."""
    ts = t - 256 if t >= 128 else t
    cs = c - 256 if c >= 128 else c
    return (ts * cs) >> 5


def _apply_inverse_color_transform(
    pixels: np.ndarray, width: int, height: int, elems: np.ndarray, bits: int
) -> None:
    """In-place cross-color inverse (spec §4.2.3): red += f(green),
    blue += f(green) + g(NEW red), per-block multipliers."""
    mw = _div_round_up(width, 1 << bits)
    for y in range(height):
        for x in range(width):
            pos = y * width + x
            cte = int(elems[(y >> bits) * mw + (x >> bits)])
            g2r = cte & 0xFF  # stored in blue channel
            g2b = (cte >> 8) & 0xFF  # stored in green channel
            r2b = (cte >> 16) & 0xFF  # stored in red channel
            px = int(pixels[pos])
            a, r, g, b = _unpack(px)
            r = (r + _ct_delta(g2r, g)) & 0xFF
            b = (b + _ct_delta(g2b, g)) & 0xFF
            b = (b + _ct_delta(r2b, r)) & 0xFF
            pixels[pos] = _pack(a, r, g, b)


def _apply_inverse_subtract_green(pixels: np.ndarray) -> None:
    g = (pixels >> np.uint32(8)) & np.uint32(0xFF)
    r = (((pixels >> np.uint32(16)) & np.uint32(0xFF)) + g) & np.uint32(0xFF)
    b = ((pixels & np.uint32(0xFF)) + g) & np.uint32(0xFF)
    pixels[:] = (
        (pixels & np.uint32(0xFF00FF00)) | (r << np.uint32(16)) | b
    )


def _palette_width_bits(palette_size: int) -> int:
    if palette_size <= 2:
        return 3
    if palette_size <= 4:
        return 2
    if palette_size <= 16:
        return 1
    return 0


@functools.cache
def _load_system_libwebp():
    """The OS-level reference codec, when the image ships it (this
    container does: libwebp.so.7). ctypes only — no Python codec
    package. Returns None when absent; callers gate on that. Cached:
    one dlopen and signature setup per process, not per image."""
    for name in (
        "libwebp.so.7", "libwebp.so", "libwebp.7.dylib", "libwebp.dylib"
    ):
        try:
            lib = ctypes.CDLL(name)
        except OSError:
            continue
        lib.WebPDecodeRGB.restype = ctypes.POINTER(ctypes.c_uint8)
        lib.WebPDecodeRGB.argtypes = [
            ctypes.c_char_p,
            ctypes.c_size_t,
            ctypes.POINTER(ctypes.c_int),
            ctypes.POINTER(ctypes.c_int),
        ]
        lib.WebPEncodeRGB.restype = ctypes.c_size_t
        lib.WebPEncodeRGB.argtypes = [
            ctypes.c_char_p,
            ctypes.c_int,
            ctypes.c_int,
            ctypes.c_int,
            ctypes.c_float,
            ctypes.POINTER(ctypes.POINTER(ctypes.c_uint8)),
        ]
        lib.WebPFree.argtypes = [ctypes.c_void_p]
        return lib
    return None


def decode_webp_system(payload: bytes) -> "np.ndarray":
    """Decode ANY WebP (incl. lossy VP8 / extended VP8X) through the
    system libwebp -> (height, width, 3) uint8 RGB. This is the
    documented fallback lane for the one codec family a pure-Python
    decoder cannot cover (VP8's boolean arithmetic coder + intra
    prediction); it raises when the OS image lacks the library, which
    keeps the gate explicit rather than silently absent."""
    lib = _load_system_libwebp()
    if lib is None:
        raise NotImplementedError(
            "lossy WebP (VP8 arithmetic coding) needs the system libwebp "
            "shared library, which this host does not ship; lossless VP8L "
            "decodes natively via decode_webp"
        )
    wo, ho = ctypes.c_int(), ctypes.c_int()
    p = lib.WebPDecodeRGB(payload, len(payload), ctypes.byref(wo), ctypes.byref(ho))
    if not p:
        raise ValueError("libwebp rejected the WebP payload")
    out = np.ctypeslib.as_array(p, shape=(ho.value, wo.value, 3)).copy()
    lib.WebPFree(p)
    return out


def _vp8l_decode_argb(payload: bytes) -> tuple[int, int, np.ndarray]:
    """RIFF/WEBP/VP8L bytes -> (width, height, flat uint32 ARGB)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
        raise ValueError("not a WebP: bad RIFF header")
    if payload[12:16] != b"VP8L":
        if payload[12:16] in (b"VP8 ", b"VP8X"):
            raise NotImplementedError(
                "lossy/extended WebP (VP8 arithmetic coding): use "
                "decode_webp, which routes these through the system "
                "libwebp when present; only the lossless VP8L chunk "
                "decodes natively"
            )
        raise ValueError(f"bad WebP chunk {payload[12:16]!r}")
    (chunk_len,) = struct.unpack("<I", payload[16:20])
    # A declared chunk_len beyond the bytes actually present is
    # malformed (round-16 advice: chunk_len is attacker-controlled, so
    # a forged 0xFFFFFF00 length must not widen the allocation guard
    # below; the slice would silently truncate and the decode would
    # fail late, after the allocation).
    avail = len(payload) - 20
    if chunk_len > avail:
        raise ValueError(
            f"VP8L: truncated chunk — declares {chunk_len} bytes but "
            f"only {avail} are present"
        )
    br = _BitReader(payload[20 : 20 + chunk_len])
    if br.read(8) != 0x2F:
        raise ValueError("VP8L: bad signature byte")
    width = br.read(14) + 1
    height = br.read(14) + 1
    # DoS budget (rounds 15-16 advice): header-declared dims drive the
    # pixel buffer allocation (up to 16384x16384 = 1 GiB of uint32)
    # BEFORE any bitstream validation, so cap pixels against the bytes
    # actually present. The 4096 px/byte figure is a HEURISTIC policy
    # cap, not derivable from the format: degenerate 1-symbol prefix
    # codes decode with 0-bit reads, so a valid tiny stream can encode
    # unboundedly many pixels — the 1 Mpx floor keeps such legitimate
    # tiny solid/LZ77-run images decodable. The same bound doubles as
    # the CPU-amplification budget: the pixel decode loop runs at most
    # max(1 Mpx, 4096*chunk_len) iterations per payload, and a forged
    # header is capped at a 4 MB allocation per KB of actual bytes.
    if width * height > max(1 << 20, chunk_len * 4096):
        raise ValueError(
            f"VP8L: declared {width}x{height} exceeds what a "
            f"{chunk_len}-byte stream can encode"
        )
    br.read(1)  # alpha hint
    if br.read(3) != 0:
        raise ValueError("VP8L: unsupported version")

    # transforms, in stream order; inverses apply in reverse order
    transforms: list[tuple[int, object]] = []
    seen: set[int] = set()
    cur_w = width  # color-indexing reduces the coded width
    while br.read(1):
        ttype = br.read(2)
        if ttype in seen:
            raise ValueError("VP8L: duplicate transform")
        seen.add(ttype)
        if ttype == _TRANSFORM_SUBTRACT_GREEN:
            transforms.append((ttype, None))
        elif ttype in (_TRANSFORM_PREDICTOR, _TRANSFORM_COLOR):
            bits = br.read(3) + 2
            sw = _div_round_up(cur_w, 1 << bits)
            sh = _div_round_up(height, 1 << bits)
            sub = _decode_entropy_coded_image(br, sw, sh, False)
            transforms.append((ttype, (bits, sub)))
        elif ttype == _TRANSFORM_COLOR_INDEXING:
            psize = br.read(8) + 1
            pal = _decode_entropy_coded_image(br, psize, 1, False)
            # palette entries are component-wise delta-coded
            pal = pal.astype(np.int64)
            for i in range(1, psize):
                s = 0
                for shift in (24, 16, 8, 0):
                    ch = (
                        ((int(pal[i]) >> shift) & 0xFF)
                        + ((int(pal[i - 1]) >> shift) & 0xFF)
                    ) & 0xFF
                    s |= ch << shift
                pal[i] = s
            wbits = _palette_width_bits(psize)
            transforms.append((ttype, (psize, wbits, pal.astype(np.uint32))))
            cur_w = _div_round_up(width, 1 << wbits)
        else:
            raise ValueError(f"VP8L: bad transform type {ttype}")
    if _TRANSFORM_COLOR_INDEXING in seen and (
        _TRANSFORM_PREDICTOR in seen or _TRANSFORM_COLOR in seen
    ):
        raise NotImplementedError(
            "VP8L: palette combined with pixel-space transforms is not "
            "supported here (encoders do not emit this combination)"
        )

    pixels = _decode_entropy_coded_image(br, cur_w, height, True)

    for ttype, data in reversed(transforms):
        if ttype == _TRANSFORM_SUBTRACT_GREEN:
            _apply_inverse_subtract_green(pixels)
        elif ttype == _TRANSFORM_PREDICTOR:
            bits, sub = data
            _apply_inverse_predictor(pixels, cur_w, height, sub, bits)
        elif ttype == _TRANSFORM_COLOR:
            bits, sub = data
            _apply_inverse_color_transform(pixels, cur_w, height, sub, bits)
        else:  # color indexing: unbundle + palette lookup
            psize, wbits, pal = data
            if wbits == 0:
                idx = (pixels >> np.uint32(8)) & np.uint32(0xFF)
            else:
                per_byte = 1 << wbits
                bpp = 8 >> wbits
                packed = (
                    (pixels.reshape(height, cur_w) >> np.uint32(8))
                    & np.uint32(0xFF)
                ).astype(np.int64)
                xs = np.arange(width, dtype=np.int64)
                src = packed[:, xs >> wbits]
                shiftv = (xs % per_byte) * bpp
                idx = (src >> shiftv[None, :]) & ((1 << bpp) - 1)
                idx = idx.reshape(-1)
            idx = idx.astype(np.int64)
            safe = np.where(idx < psize, idx, 0)
            looked = pal[safe]
            looked = np.where(idx < psize, looked, np.uint32(0))
            pixels = looked.astype(np.uint32)
            cur_w = width
    if cur_w != width:
        raise ValueError("VP8L: coded width not restored")
    return width, height, pixels


def _vp8x_embedded_vp8l(payload: bytes) -> bytes | None:
    """Walk the RIFF sub-chunks of a VP8X container; when the image
    stream is a single still VP8L chunk (no lossy VP8 frame, no ANMF
    animation frames — VP8L carries its own alpha, so an ALPH chunk
    never accompanies it), return a bare RIFF/WEBP/VP8L payload that
    the native decoder accepts. Returns None when the container needs
    the system decoder (lossy frame, animation) or is malformed."""
    pos, end = 12, min(len(payload), 8 + struct.unpack("<I", payload[4:8])[0])
    vp8l: bytes | None = None
    while pos + 8 <= end:
        fourcc = payload[pos : pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + size]
        if len(body) < size:
            return None  # truncated container
        if fourcc in (b"VP8 ", b"ANMF"):
            return None  # lossy frame / animation: system lane
        if fourcc == b"VP8L":
            vp8l = body
        pos += 8 + size + (size & 1)  # chunks pad to even
    if vp8l is None:
        return None
    riff = b"WEBP" + b"VP8L" + struct.pack("<I", len(vp8l)) + vp8l
    if len(vp8l) & 1:
        riff += b"\x00"
    return b"RIFF" + struct.pack("<I", len(riff)) + riff


def decode_webp(payload: bytes) -> "np.ndarray":
    """WebP bytes -> (height, width, 3) uint8 RGB (alpha dropped,
    matching decode_png / decode_ppm). Lossless VP8L decodes natively
    (the full implementation above, zero external codecs) — including
    VP8L wrapped in a VP8X extended container (metadata/alpha-flagged
    lossless, round-15 advice: the sub-chunk walk extracts the VP8L
    stream instead of forcing the system lane). Lossy VP8 and animated
    containers route through the system libwebp when the OS ships it
    (decode_webp_system) and raise the documented gate error
    otherwise."""
    if payload[:4] == b"RIFF" and payload[12:16] == b"VP8X":
        inner = _vp8x_embedded_vp8l(payload)
        if inner is not None:
            payload = inner
    if payload[:4] == b"RIFF" and payload[12:16] in (b"VP8 ", b"VP8X"):
        return decode_webp_system(payload)
    width, height, argb = _vp8l_decode_argb(payload)
    out = np.zeros((height * width, 3), dtype=np.uint8)
    out[:, 0] = (argb >> np.uint32(16)) & np.uint32(0xFF)
    out[:, 1] = (argb >> np.uint32(8)) & np.uint32(0xFF)
    out[:, 2] = argb & np.uint32(0xFF)
    return out.reshape(height, width, 3)


# ---------------------------------------------------------------------
# Encoder (fixture side). Feature-configurable so tests can drive every
# decoder path; completeness over compression (flat complete codes).
# ---------------------------------------------------------------------


def _flat_lengths(freqs: list[int]) -> list[int]:
    """Complete canonical code lengths over the used symbols: with k
    used symbols and L = ceil(log2 k), give (2^L - k) of them length
    L-1 and the rest length L — Kraft sums to exactly 1, max length
    9 < 15 for every VP8L alphabet. Optimality is irrelevant here
    (fixtures), completeness is mandatory (decoders reject
    over/under-subscribed codes)."""
    used = [s for s, f in enumerate(freqs) if f > 0]
    k = len(used)
    lengths = [0] * len(freqs)
    if k == 0:
        return lengths
    if k == 1:
        lengths[used[0]] = 1  # degenerate single-symbol code
        return lengths
    level = max(1, (k - 1).bit_length())
    n_short = (1 << level) - k
    for i, s in enumerate(used):
        lengths[s] = level - 1 if i < n_short else level
    return lengths


def _reversed_code_table(lengths: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (bit-reversed code, nbits): canonical codes compare
    MSB-first but the stream packs LSB-first, so pre-reversing each
    code once per table lets the writer emit it with a single
    ``write`` instead of a per-bit loop (r17 encoder fast path —
    stream bits unchanged)."""
    out: dict[int, tuple[int, int]] = {}
    for sym, (code, nbits) in _canonical_code_table(lengths).items():
        rev = 0
        for _ in range(nbits):
            rev = (rev << 1) | (code & 1)
            code >>= 1
        out[sym] = (rev, nbits)
    return out


def _write_huffman_code(bw: _BitWriter, lengths: list[int]) -> None:
    """Emit one prefix code: the simple shape when possible, else the
    code-length-coded shape with 17/18 zero runs (no max_symbol cap)."""
    used = [s for s, ln in enumerate(lengths) if ln]
    if len(used) <= 2 and all(s <= 255 for s in used):
        bw.write(1, 1)  # simple
        n = max(1, len(used))
        syms = used or [0]
        bw.write(n - 1, 1)
        bw.write(1, 1)  # first symbol in 8 bits
        bw.write(syms[0], 8)
        if n == 2:
            bw.write(syms[1], 8)
        return
    bw.write(0, 1)  # code-length-coded
    # zero-run encode the length sequence over the full alphabet
    stream: list[tuple[int, int, int]] = []  # (cl_symbol, extra_bits, extra)
    i = 0
    while i < len(lengths):
        if lengths[i] == 0:
            run = 1
            while i + run < len(lengths) and lengths[i + run] == 0:
                run += 1
            left = run
            while left >= 11:
                chunk = min(left, 138)
                stream.append((18, 7, chunk - 11))
                left -= chunk
            while left >= 3:
                chunk = min(left, 10)
                stream.append((17, 3, chunk - 3))
                left -= chunk
            for _ in range(left):
                stream.append((0, 0, 0))
            i += run
        else:
            stream.append((lengths[i], 0, 0))
            i += 1
    cl_freq = [0] * 19
    for sym, _, _ in stream:
        cl_freq[sym] += 1
    cl_lengths = _flat_lengths(cl_freq)
    # how many entries of _CL_ORDER must be written to cover used syms
    num_cl = max(
        (i + 1 for i, s in enumerate(_CL_ORDER) if cl_lengths[s]), default=4
    )
    num_cl = max(num_cl, 4)
    bw.write(num_cl - 4, 4)
    for i in range(num_cl):
        bw.write(cl_lengths[_CL_ORDER[i]], 3)
    bw.write(0, 1)  # no max_symbol cap: runs cover the whole alphabet
    cl_codes = _reversed_code_table(cl_lengths)
    single_cl = sum(1 for ln in cl_lengths if ln) == 1
    for sym, ebits, extra in stream:
        if not single_cl:
            rev, nbits = cl_codes[sym]
            bw.write(rev, nbits)
        # single-symbol cl code consumes no bits
        if ebits:
            bw.write(extra, ebits)


class _Cache:
    def __init__(self, bits: int) -> None:
        self.bits = bits
        self.vals = [0] * ((1 << bits) if bits else 0)

    def lookup(self, px: int) -> int | None:
        if not self.bits:
            return None
        idx = _cache_key(px, self.bits)
        return idx if self.vals[idx] == px else None

    def insert(self, px: int) -> None:
        if self.bits:
            self.vals[_cache_key(px, self.bits)] = px


def _tokenize(
    argb: np.ndarray, width: int, cache_bits: int, lz77: bool
) -> list[tuple]:
    """Pixel stream -> (pos, token) list mirroring the decoder's state
    machine exactly (cache inserted on literals and on every copied
    pixel, not on cache hits)."""
    npix = len(argb)
    cache = _Cache(cache_bits)
    toks: list[tuple] = []
    runlens: dict[int, np.ndarray] = {}
    if lz77:
        # Precompute, per candidate distance d, the length of the
        # equality run starting at each position: eq[i] = (argb[i] ==
        # argb[i-d]); runlen[i] = distance to the next False at or
        # after i (vectorized via searchsorted over the False
        # positions) — exactly what the former per-pixel while loop
        # counted (r17, guide §4.2).
        for dist in {1, width}:
            if dist >= npix:
                continue
            eq = np.empty(npix, dtype=bool)
            eq[:dist] = False
            eq[dist:] = argb[dist:] == argb[:-dist]
            falses = np.flatnonzero(~eq)
            nxt = np.searchsorted(falses, np.arange(npix), side="left")
            ends = np.append(falses, npix)
            runlens[dist] = ends[nxt] - np.arange(npix)
    pos = 0
    while pos < npix:
        best_run, best_dist = 0, 0
        if lz77:
            for dist in (1, width):
                if pos < dist or dist >= npix:
                    continue
                run = min(int(runlens[dist][pos]), 4096, npix - pos)
                if run > best_run:
                    best_run, best_dist = run, dist
        if best_run >= 4:
            dist_code, _ = _distance_to_code(best_dist, width)
            toks.append(("copy", pos, best_run, dist_code))
            for i in range(best_run):
                cache.insert(int(argb[pos + i]))
            pos += best_run
            continue
        px = int(argb[pos])
        hit = cache.lookup(px)
        if hit is not None:
            toks.append(("cache", pos, hit))
            pos += 1
            continue
        toks.append(("lit", pos, px))
        cache.insert(px)
        pos += 1
    return toks


def _encode_entropy_coded_image(
    bw: _BitWriter,
    argb: np.ndarray,
    width: int,
    height: int,
    is_level0: bool,
    cache_bits: int = 0,
    lz77: bool = False,
    meta_bits: int | None = None,
) -> None:
    """Encoder twin of _decode_entropy_coded_image."""
    if cache_bits:
        bw.write(1, 1)
        bw.write(cache_bits, 4)
    else:
        bw.write(0, 1)
    group_of = None
    num_groups = 1
    if is_level0:
        if meta_bits is not None:
            bw.write(1, 1)
            bw.write(meta_bits - 2, 3)
            mw = _div_round_up(width, 1 << meta_bits)
            mh = _div_round_up(height, 1 << meta_bits)
            # two groups: left / right half of the block grid
            ids = np.zeros(mw * mh, dtype=np.uint32)
            for by in range(mh):
                for bx in range(mw):
                    ids[by * mw + bx] = 1 if bx >= (mw + 1) // 2 else 0
            num_groups = int(ids.max()) + 1
            meta_img = (np.uint32(0xFF) << np.uint32(24)) | (
                ids << np.uint32(8)
            )
            _encode_entropy_coded_image(bw, meta_img, mw, mh, False)
            mbits = meta_bits

            def group_of(pos: int) -> int:
                x, y = pos % width, pos // width
                return int(ids[(y >> mbits) * mw + (x >> mbits)])

        else:
            bw.write(0, 1)

    toks = _tokenize(argb, width, cache_bits, lz77)
    cache_size = (1 << cache_bits) if cache_bits else 0
    green_size = 256 + 24 + cache_size
    gf = [[0] * green_size for _ in range(num_groups)]
    rf = [[0] * 256 for _ in range(num_groups)]
    bf = [[0] * 256 for _ in range(num_groups)]
    af = [[0] * 256 for _ in range(num_groups)]
    df = [[0] * 40 for _ in range(num_groups)]
    for tok in toks:
        gi = group_of(tok[1]) if group_of else 0
        if tok[0] == "lit":
            a, r, g, b = _unpack(tok[2])
            gf[gi][g] += 1
            rf[gi][r] += 1
            bf[gi][b] += 1
            af[gi][a] += 1
        elif tok[0] == "copy":
            lp, _, _ = _lz77_prefix(tok[2])
            dp, _, _ = _lz77_prefix(tok[3])
            gf[gi][256 + lp] += 1
            df[gi][dp] += 1
        else:
            gf[gi][256 + 24 + tok[2]] += 1
    tables = []
    for gi in range(num_groups):
        lens = [
            _flat_lengths(gf[gi]),
            _flat_lengths(rf[gi]),
            _flat_lengths(bf[gi]),
            _flat_lengths(af[gi]),
            _flat_lengths(df[gi]),
        ]
        for ln in lens:
            _write_huffman_code(bw, ln)
        tables.append(
            [
                (_reversed_code_table(ln), sum(1 for x in ln if x) == 1)
                for ln in lens
            ]
        )

    def put(table, sym):
        codes, single = table
        if single:
            return  # 0-bit degenerate code
        rev, nbits = codes[sym]
        bw.write(rev, nbits)

    for tok in toks:
        gi = group_of(tok[1]) if group_of else 0
        gt, rt, bt, at, dt = tables[gi]
        if tok[0] == "lit":
            a, r, g, b = _unpack(tok[2])
            put(gt, g)
            put(rt, r)
            put(bt, b)
            put(at, a)
        elif tok[0] == "copy":
            lp, lb_, lv = _lz77_prefix(tok[2])
            dp, db_, dv = _lz77_prefix(tok[3])
            put(gt, 256 + lp)
            if lb_:
                bw.write(lv, lb_)
            put(dt, dp)
            if db_:
                bw.write(dv, db_)
        else:
            put(gt, 256 + 24 + tok[2])


def _forward_subtract_green(argb: np.ndarray) -> np.ndarray:
    g = (argb >> np.uint32(8)) & np.uint32(0xFF)
    r = (((argb >> np.uint32(16)) & np.uint32(0xFF)) - g) & np.uint32(0xFF)
    b = ((argb & np.uint32(0xFF)) - g) & np.uint32(0xFF)
    return (argb & np.uint32(0xFF00FF00)) | (r << np.uint32(16)) | b


def _forward_predictor(
    argb: np.ndarray, width: int, height: int, bits: int
) -> tuple[np.ndarray, np.ndarray]:
    """Residual image + the per-block mode image (mode cycles over all
    14 predictors block by block, so every mode round-trips)."""
    mw = _div_round_up(width, 1 << bits)
    mh = _div_round_up(height, 1 << bits)
    modes = np.zeros(mw * mh, dtype=np.uint32)
    for i in range(mw * mh):
        modes[i] = (0xFF << 24) | ((i % 14) << 8)
    res = np.zeros_like(argb)
    for y in range(height):
        for x in range(width):
            pos = y * width + x
            if x == 0 and y == 0:
                pred = 0xFF000000
            elif y == 0:
                pred = int(argb[pos - 1])
            elif x == 0:
                pred = int(argb[pos - width])
            else:
                mode = int((modes[(y >> bits) * mw + (x >> bits)] >> 8) & 0xFF)
                topright = (
                    int(argb[pos - width + 1])
                    if x + 1 < width
                    else int(argb[y * width])
                )
                pred = _predict(
                    mode,
                    int(argb[pos - 1]),
                    int(argb[pos - width]),
                    int(argb[pos - width - 1]),
                    topright,
                )
            px = int(argb[pos])
            out = 0
            for shift in (24, 16, 8, 0):
                ch = (((px >> shift) & 0xFF) - ((pred >> shift) & 0xFF)) & 0xFF
                out |= ch << shift
            res[pos] = out
    return res, modes


def _forward_color_transform(
    argb: np.ndarray, width: int, height: int, bits: int
) -> tuple[np.ndarray, np.ndarray]:
    """Residual + per-block color-transform elements (multipliers vary
    by block index so nonzero deltas round-trip)."""
    mw = _div_round_up(width, 1 << bits)
    mh = _div_round_up(height, 1 << bits)
    elems = np.zeros(mw * mh, dtype=np.uint32)
    for i in range(mw * mh):
        g2r = (5 * i + 3) % 256
        g2b = (11 * i + 7) % 256
        r2b = (17 * i + 1) % 256
        elems[i] = (0xFF << 24) | (r2b << 16) | (g2b << 8) | g2r
    res = np.zeros_like(argb)
    for y in range(height):
        for x in range(width):
            pos = y * width + x
            cte = int(elems[(y >> bits) * mw + (x >> bits)])
            g2r, g2b, r2b = cte & 0xFF, (cte >> 8) & 0xFF, (cte >> 16) & 0xFF
            a, r, g, b = _unpack(int(argb[pos]))
            nr = (r - _ct_delta(g2r, g)) & 0xFF
            nb = (b - _ct_delta(g2b, g) - _ct_delta(r2b, r)) & 0xFF
            res[pos] = _pack(a, nr, g, nb)
    return res, elems


def vp8l_encode(
    arr: "np.ndarray",
    *,
    subtract_green: bool = False,
    cache_bits: int = 0,
    lz77: bool = False,
    predictor_bits: int | None = None,
    color_bits: int | None = None,
    palette: bool = False,
    meta_bits: int | None = None,
) -> bytes:
    """(h, w, 3) uint8 RGB -> lossless-WebP bytes (RIFF/WEBP/VP8L).

    Feature flags map 1:1 to decoder paths; transforms are written in
    forward-application order (decoder inverts in reverse read order,
    spec §4). Palette mode excludes predictor/color transforms, as
    real encoders do."""
    if palette and (predictor_bits is not None or color_bits is not None):
        raise ValueError("palette excludes pixel-space transforms")
    height, width = arr.shape[0], arr.shape[1]
    argb = (
        (np.uint32(0xFF) << np.uint32(24))
        | (arr[:, :, 0].astype(np.uint32) << np.uint32(16))
        | (arr[:, :, 1].astype(np.uint32) << np.uint32(8))
        | arr[:, :, 2].astype(np.uint32)
    ).reshape(-1)

    bw = _BitWriter()
    bw.write(0x2F, 8)
    bw.write(width - 1, 14)
    bw.write(height - 1, 14)
    bw.write(0, 1)  # alpha hint
    bw.write(0, 3)  # version

    cur_w = width
    pending_transforms: list[tuple] = []
    if subtract_green:
        argb = _forward_subtract_green(argb)
        pending_transforms.append((_TRANSFORM_SUBTRACT_GREEN,))
    if color_bits is not None:
        argb, elems = _forward_color_transform(argb, width, height, color_bits)
        pending_transforms.append((_TRANSFORM_COLOR, color_bits, elems))
    if predictor_bits is not None:
        argb, modes = _forward_predictor(argb, width, height, predictor_bits)
        pending_transforms.append((_TRANSFORM_PREDICTOR, predictor_bits, modes))
    if palette:
        uniq = np.unique(argb)
        if len(uniq) > 256:
            raise ValueError("palette mode needs <= 256 distinct colors")
        lut = {int(c): i for i, c in enumerate(uniq)}
        idx = np.array([lut[int(p)] for p in argb], dtype=np.int64)
        wbits = _palette_width_bits(len(uniq))
        per_byte = 1 << wbits
        bpp = 8 >> wbits
        cur_w = _div_round_up(width, 1 << wbits)
        packed = np.zeros(cur_w * height, dtype=np.uint32)
        idx2 = idx.reshape(height, width)
        for y in range(height):
            for x in range(width):
                packed[y * cur_w + (x >> wbits)] |= np.uint32(
                    idx2[y, x] << ((x % per_byte) * bpp)
                ) << np.uint32(8)
        packed |= np.uint32(0xFF) << np.uint32(24)
        # delta-code the palette entries for storage
        deltas = np.zeros(len(uniq), dtype=np.uint32)
        prev = 0
        for i, c in enumerate(uniq):
            d = 0
            for shift in (24, 16, 8, 0):
                ch = (((int(c) >> shift) & 0xFF) - ((prev >> shift) & 0xFF)) & 0xFF
                d |= ch << shift
            deltas[i] = d
            prev = int(c)
        pending_transforms.append(
            (_TRANSFORM_COLOR_INDEXING, len(uniq), deltas)
        )
        argb = packed

    for t in pending_transforms:
        bw.write(1, 1)  # transform present
        bw.write(t[0], 2)
        if t[0] == _TRANSFORM_SUBTRACT_GREEN:
            pass
        elif t[0] in (_TRANSFORM_PREDICTOR, _TRANSFORM_COLOR):
            bits, sub = t[1], t[2]
            bw.write(bits - 2, 3)
            sw = _div_round_up(width, 1 << bits)
            sh = _div_round_up(height, 1 << bits)
            _encode_entropy_coded_image(bw, sub, sw, sh, False)
        else:  # color indexing
            psize, deltas = t[1], t[2]
            bw.write(psize - 1, 8)
            _encode_entropy_coded_image(bw, deltas, psize, 1, False)
    bw.write(0, 1)  # no more transforms

    _encode_entropy_coded_image(
        bw,
        argb,
        cur_w,
        height,
        True,
        cache_bits=cache_bits,
        lz77=lz77,
        meta_bits=meta_bits,
    )
    data = bw.bytes()
    chunk = b"VP8L" + struct.pack("<I", len(data)) + data
    if len(data) % 2:
        chunk += b"\x00"
    riff = b"WEBP" + chunk
    return b"RIFF" + struct.pack("<I", len(riff)) + riff


# ---------------------------------------------------------------------
# Deterministic fixture + Spark lane (registration-ready; mirrors the
# PNG/PPM lanes so the pixel-level SQL oracle is identical).
# ---------------------------------------------------------------------


def webp_fixture_encode_opts(img_idx: int) -> dict:
    """Feature mix for fixture image i — cycles the encoder through
    every decoder path across the corpus: plain literals, subtract-
    green + cache, predictor (all 14 modes cycle per block) + LZ77,
    palette (incl. bundling), color transform + subtract-green +
    cache, and meta groups + LZ77 + cache."""
    return [
        {},
        {"subtract_green": True, "cache_bits": 6},
        {"predictor_bits": 2, "lz77": True},
        {"palette": True},
        {"color_bits": 2, "subtract_green": True, "cache_bits": 4},
        {"meta_bits": 3, "lz77": True, "cache_bits": 5},
    ][img_idx % 6]


def webp_bytes(width: int, height: int, img_idx: int) -> bytes:
    """Deterministic lossless WebP with the SAME pixel spec as
    ppm_bytes / png_bytes (pixel (x, y) channel c = (img_idx*7 + c*13
    + x + y) mod 256 — recomputable by a SQL oracle). The color count
    of that gradient is bounded by w+h-1 <= 256, so palette mode is
    always legal."""
    x = np.arange(width, dtype=np.int64)[None, :, None]
    y = np.arange(height, dtype=np.int64)[:, None, None]
    c = np.arange(3, dtype=np.int64)[None, None, :]
    arr = ((img_idx * 7 + c * 13 + x + y) % 256).astype(np.uint8)
    return vp8l_encode(arr, **webp_fixture_encode_opts(img_idx))


def write_webp_fixture(out_dir: str, n_images: int = 64) -> None:
    """Deterministic WebP corpus, same sizes as the PPM/PNG fixtures
    (image i is (8 + (i%5)*4) x (6 + (i%3)*4)) — identical SQL
    oracle."""
    import os

    os.makedirs(out_dir, exist_ok=True)
    for i in range(n_images):
        w, h = 8 + (i % 5) * 4, 6 + (i % 3) * 4
        with open(os.path.join(out_dir, f"webp_{i:05d}.webp"), "wb") as f:
            f.write(webp_bytes(w, h, i))


def vp8x_wrap(payload: bytes) -> bytes:
    """Re-wrap a bare RIFF/WEBP/VP8L payload in a VP8X extended
    container: VP8X header chunk (EXIF flag set, canvas dims copied
    from the VP8L stream header) + a small EXIF metadata chunk + the
    original VP8L chunk. This is the container shape real encoders
    emit for 'lossless with metadata'; decode_webp's sub-chunk walk
    must route it to the native VP8L decoder, not the system lane."""
    if payload[:4] != b"RIFF" or payload[12:16] != b"VP8L":
        raise ValueError("vp8x_wrap expects a bare VP8L WebP")
    (vp8l_len,) = struct.unpack("<I", payload[16:20])
    body = payload[20 : 20 + vp8l_len]
    # canvas dims live in the VP8L stream header: signature byte,
    # then 14-bit (width-1), 14-bit (height-1), LSB-first
    bits = int.from_bytes(body[1:5], "little")
    w = (bits & 0x3FFF) + 1
    h = ((bits >> 14) & 0x3FFF) + 1
    vp8x = struct.pack("<B3s", 0x08, b"\x00" * 3)  # EXIF flag
    vp8x += (w - 1).to_bytes(3, "little") + (h - 1).to_bytes(3, "little")
    exif = b"II*\x00\x08\x00\x00\x00\x00\x00"  # minimal TIFF header

    def chunk(fourcc: bytes, data: bytes) -> bytes:
        return fourcc + struct.pack("<I", len(data)) + data + (
            b"\x00" if len(data) & 1 else b""
        )

    inner = (
        b"WEBP"
        + chunk(b"VP8X", vp8x)
        + chunk(b"EXIF", exif)
        + chunk(b"VP8L", body)
    )
    return b"RIFF" + struct.pack("<I", len(inner)) + inner


def write_webp_vp8x_fixture(out_dir: str, n_images: int = 64) -> None:
    """The write_webp_fixture corpus re-wrapped in VP8X containers
    (same pixel spec, same SQL oracle) — exercises the extended-
    container sub-chunk walk end-to-end."""
    import os

    os.makedirs(out_dir, exist_ok=True)
    for i in range(n_images):
        w, h = 8 + (i % 5) * 4, 6 + (i % 3) * 4
        with open(os.path.join(out_dir, f"vp8x_{i:05d}.webp"), "wb") as f:
            f.write(vp8x_wrap(webp_bytes(w, h, i)))


def encode_webp_lossy_system(arr: "np.ndarray", quality: float = 80.0) -> bytes:
    """Encode (h, w, 3) uint8 RGB to LOSSY WebP (VP8) through the
    system libwebp (WebPEncodeRGB). Fixture-side only — the data path
    never encodes — and gated exactly like decode_webp_system: raises
    the documented NotImplementedError on hosts without the library."""
    lib = _load_system_libwebp()
    if lib is None:
        raise NotImplementedError(
            "lossy WebP encoding needs the system libwebp shared "
            "library, which this host does not ship"
        )
    h, w, _ = arr.shape
    out = ctypes.POINTER(ctypes.c_uint8)()
    n = lib.WebPEncodeRGB(
        arr.tobytes(), w, h, w * 3, quality, ctypes.byref(out)
    )
    if n == 0:
        raise ValueError("libwebp rejected the encode input")
    data = ctypes.string_at(out, n)
    lib.WebPFree(out)
    return data


def webp_lossy_fixture_gray(width: int, height: int, img_idx: int) -> "np.ndarray":
    """Analytic LOSSY-fixture source: gray value (img_idx % 100) +
    2x + 3y (max 184 at the fixture dims — no mod-256 wrap, so the
    image is smooth and the VP8 transform error stays tight), all
    three channels equal (constant chroma: no 4:2:0 subsampling
    error). Same spec as the JPEG gradient lane."""
    x = np.arange(width, dtype=np.int64)[None, :]
    y = np.arange(height, dtype=np.int64)[:, None]
    val = ((img_idx % 100) + 2 * x + 3 * y).astype(np.uint8)
    return np.repeat(val[:, :, None], 3, axis=2)


def write_webp_lossy_fixture(out_dir: str, n_images: int = 64) -> None:
    """Write the LOSSY WebP corpus (VP8 chunks, libwebp-encoded at
    quality 80) over the analytic gray-gradient spec — sizes
    (8 + (i%5)*4) x (6 + (i%3)*4) like the lossless fixtures. Raises
    the libwebp gate error on bare hosts (callers skip-gate)."""
    import os

    os.makedirs(out_dir, exist_ok=True)
    for i in range(n_images):
        w, h = 8 + (i % 5) * 4, 6 + (i % 3) * 4
        payload = encode_webp_lossy_system(
            webp_lossy_fixture_gray(w, h, i), quality=80.0
        )
        with open(os.path.join(out_dir, f"lossy_{i:05d}.webp"), "wb") as f:
            f.write(payload)


def webp_lossy_error_stats(
    df: DataFrame,
    content_col: str = "content",
    path_col: str = "path",
    id_pattern: str = r"lossy_(\d+)\.webp$",
) -> DataFrame:
    """Decode lossy-WebP payloads through the system libwebp ON THE
    EXECUTORS (decode_webp_system) and measure decoded pixels against
    the analytic source — the jpeg_gradient_error_stats recipe for the
    VP8 lane. Raises the documented gate error where the executor's
    OS lacks the library."""
    return payload_lane(
        df,
        decode_webp_system,
        _gradient_error_row,
        _ERROR_SCHEMA,
        id_pattern,
        content_col,
        path_col,
    )


def webp_stats(
    df: DataFrame,
    content_col: str = "content",
    path_col: str = "path",
    id_pattern: str = r"webp_(\d+)\.webp$",
) -> DataFrame:
    """Decode WebP payloads with decode_webp -> per-image stats (the
    PPM lane with the WebP decoder)."""
    return payload_lane(
        df, decode_webp, _channel_means, _STATS_SCHEMA, id_pattern, content_col, path_col
    )
