"""Round-15 webp hardening: VP8X-wrapped lossless routes to the
native VP8L decoder (advice item 1), forged-header allocations are
bounded (item 2), and the distributed lane unwraps VP8X containers."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from sas_etl_spark.operators import webp as W
from sas_etl_spark.operators.webp import (
    decode_webp,
    vp8x_wrap,
    webp_bytes,
    write_webp_vp8x_fixture,
)


def _gradient(w: int, h: int, i: int) -> np.ndarray:
    x = np.arange(w)[None, :, None]
    y = np.arange(h)[:, None, None]
    c = np.arange(3)[None, None, :]
    return ((i * 7 + c * 13 + x + y) % 256).astype(np.uint8)


def test_vp8x_wrapped_vp8l_decodes_natively(monkeypatch):
    """A VP8X container holding a VP8L still must decode WITHOUT the
    system library — the sub-chunk walk extracts the lossless stream."""
    monkeypatch.setattr(W, "_load_system_libwebp", lambda: None)
    for i in [0, 2, 5, 17]:
        w, h = 8 + (i % 5) * 4, 6 + (i % 3) * 4
        wrapped = vp8x_wrap(webp_bytes(w, h, i))
        assert wrapped[12:16] == b"VP8X"
        assert (decode_webp(wrapped) == _gradient(w, h, i)).all()


def test_vp8x_lossy_frame_still_gates(monkeypatch):
    """VP8X holding a lossy VP8 frame keeps the explicit gate on hosts
    without libwebp (the walk must NOT mis-route it to VP8L)."""
    monkeypatch.setattr(W, "_load_system_libwebp", lambda: None)
    vp8x = struct.pack("<B3s", 0, b"\x00" * 3) + bytes(6)
    inner = (
        b"WEBP"
        + b"VP8X" + struct.pack("<I", len(vp8x)) + vp8x
        + b"VP8 " + struct.pack("<I", 4) + b"\x00" * 4
    )
    payload = b"RIFF" + struct.pack("<I", len(inner)) + inner
    with pytest.raises(NotImplementedError, match="libwebp"):
        decode_webp(payload)


def test_vp8x_fixture_roundtrip(tmp_path):
    out = str(tmp_path / "vp8x")
    write_webp_vp8x_fixture(out, n_images=6)
    import os

    files = sorted(os.listdir(out))
    assert len(files) == 6
    data = open(os.path.join(out, files[3]), "rb").read()
    assert (decode_webp(data) == _gradient(20, 6, 3)).all()


def test_forged_dims_rejected_before_allocation():
    """A 60-byte stream declaring 16384x16384 must raise instead of
    allocating a ~1 GiB pixel buffer."""
    bw = W._BitWriter()
    bw.write(0x2F, 8)
    bw.write(16383, 14)  # width-1
    bw.write(16383, 14)  # height-1
    bw.write(0, 1)  # alpha hint
    bw.write(0, 3)  # version
    body = bw.bytes() + b"\x00" * 40
    inner = b"WEBPVP8L" + struct.pack("<I", len(body)) + body
    payload = b"RIFF" + struct.pack("<I", len(inner)) + inner
    with pytest.raises(ValueError, match="exceeds"):
        decode_webp(payload)


def test_forged_chunk_len_rejected_before_allocation():
    """Round-16 advice: chunk_len is attacker-controlled too. A
    ~28-byte payload declaring chunk_len=0xFFFFFF00 and 16384x16384
    dims must be rejected as malformed (declared bytes absent), not
    allowed to widen the pixel budget to 1 GiB."""
    bw = W._BitWriter()
    bw.write(0x2F, 8)
    bw.write(16383, 14)  # width-1
    bw.write(16383, 14)  # height-1
    bw.write(0, 1)  # alpha hint
    bw.write(0, 3)  # version
    body = bw.bytes()
    inner = b"WEBPVP8L" + struct.pack("<I", 0xFFFFFF00) + body
    payload = b"RIFF" + struct.pack("<I", len(inner)) + inner
    assert len(payload) < 40
    with pytest.raises(ValueError, match="only .* are present"):
        decode_webp(payload)


def test_truncated_chunk_len_rejected():
    """chunk_len only slightly past the available bytes is equally
    malformed — the slice used to truncate silently and fail late."""
    good = webp_bytes(8, 6, 1)
    (chunk_len,) = struct.unpack("<I", good[16:20])
    forged = good[:16] + struct.pack("<I", chunk_len + 64) + good[20:]
    with pytest.raises(ValueError, match="only .* are present"):
        decode_webp(forged)


def test_legit_dims_pass_the_bound():
    """The bound is payload-proportional: every fixture image decodes,
    and a plausibly-sized large declaration is not rejected up front
    (4096 px/byte with a 1 Mpx floor)."""
    assert decode_webp(webp_bytes(24, 14, 7)).shape == (14, 24, 3)
    # 1024x1024 = 1 Mpx sits exactly at the floor: never rejected
    assert 1024 * 1024 <= max(1 << 20, 60 * 4096)


def test_webp_stats_decodes_vp8x_lane(spark, tmp_path):
    """The Arrow-batched distributed lane unwraps VP8X containers."""
    from sas_etl_spark.operators.webp import webp_stats

    out = str(tmp_path / "vp8x_stats")
    write_webp_vp8x_fixture(out, n_images=8)
    raw = spark.read.format("binaryFile").load(out)
    got = {
        r.img_id: (r.width, r.height)
        for r in webp_stats(
            raw.select("path", "content"), id_pattern=r"vp8x_(\d+)\.webp$"
        ).collect()
    }
    assert got == {i: (8 + (i % 5) * 4, 6 + (i % 3) * 4) for i in range(8)}
