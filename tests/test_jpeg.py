"""Real baseline JPEG codec (functions/jpeg.py).

The golden fixtures are hand-assembled from the ISO 10918-1 spec — no
image library involved. For a flat gray-160 8x8 block with an all-16
quant table: level shift d=32, orthonormal FDCT DC = 8*d = 256,
quantized DC = 16 -> DC category 5, Annex-K DC-luma code '110' +
value bits '10000', then AC EOB '1010'; the 12-bit stream padded with
1s is exactly 0xD0 0xAF. A decoder that reproduces 160 on every pixel
has its header parsing, canonical Huffman construction, dequantize,
and IDCT all simultaneously right — any error in the chain lands on a
different gray level."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from ariadne_spark.functions import codecs
from ariadne_spark.functions.jpeg import (
    ZIG,
    decode_jpeg,
    encode_jpeg,
    quality_tables,
)


def _seg(marker: int, payload: bytes) -> bytes:
    return struct.pack(">HH", marker, len(payload) + 2) + payload


DC_LUMA = bytes(
    [0x00] + [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0] + list(range(12))
)
AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125]


def _ac_luma_dht() -> bytes:
    from ariadne_spark.functions.jpeg import AC_LUMA_VALS

    return bytes([0x10] + AC_LUMA_BITS + AC_LUMA_VALS)


def _gray_headers(w: int, h: int) -> bytes:
    out = b"\xff\xd8"
    out += _seg(0xFFDB, bytes([0x00] + [16] * 64))  # all-16 quant table
    out += _seg(0xFFC0, struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0]))
    out += _seg(0xFFC4, DC_LUMA)
    out += _seg(0xFFC4, _ac_luma_dht())
    return out


def test_golden_flat_gray_block_decodes_exactly():
    data = (
        _gray_headers(8, 8)
        + _seg(0xFFDA, bytes([1, 1, 0x00, 0, 63, 0]))
        + b"\xd0\xaf"  # hand-computed entropy bytes (module docstring)
        + b"\xff\xd9"
    )
    px = decode_jpeg(data)
    assert px.shape == (8, 8, 3)
    np.testing.assert_array_equal(px, np.full((8, 8, 3), 160, np.uint8))


def test_golden_restart_marker_resets_dc_predictor():
    """Two flat MCUs with DRI=1 and an RST0 between them: the second
    block's predictor resets, so the SAME entropy bytes decode to the
    SAME gray — a decoder that fails to reset lands on 192."""
    data = (
        _gray_headers(16, 8)
        + _seg(0xFFDD, struct.pack(">H", 1))  # DRI = 1 MCU
        + _seg(0xFFDA, bytes([1, 1, 0x00, 0, 63, 0]))
        + b"\xd0\xaf" + b"\xff\xd0" + b"\xd0\xaf"
        + b"\xff\xd9"
    )
    px = decode_jpeg(data)
    assert px.shape == (8, 16, 3)
    np.testing.assert_array_equal(px, np.full((8, 16, 3), 160, np.uint8))


def test_arithmetic_coding_rejected_loudly():
    # SOF9 = extended sequential, arithmetic coding — still unsupported
    # (progressive SOF2 decodes since round 5)
    data = b"\xff\xd8" + _seg(
        0xFFC9, struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0])
    )
    with pytest.raises(NotImplementedError, match="arithmetic"):
        decode_jpeg(data)


def test_not_a_jpeg_rejected():
    with pytest.raises(AssertionError, match="SOI"):
        decode_jpeg(b"\x89PNG\r\n\x1a\n")


# ---------------------------------------------------------------------------
# encoder structure: the output is a conforming interchange stream
# ---------------------------------------------------------------------------


def _walk_segments(data: bytes) -> list[int]:
    """Return the marker sequence, validating every segment length."""
    assert data[:2] == b"\xff\xd8" and data[-2:] == b"\xff\xd9"
    markers, i = [], 2
    while i < len(data) - 2:
        assert data[i] == 0xFF
        m = data[i + 1]
        markers.append(m)
        (ln,) = struct.unpack(">H", data[i + 2 : i + 4])
        i += 2 + ln
        if m == 0xDA:  # scan: skip entropy bytes to EOI
            break
    return markers


def test_encoder_emits_conforming_marker_sequence():
    px = np.full((20, 30, 3), (10, 200, 60), np.uint8)
    data = encode_jpeg(px, 85, "420")
    ms = _walk_segments(data)
    assert ms[0] == 0xE0  # JFIF APP0 first
    assert ms.count(0xDB) == 2 and ms.count(0xC4) == 4
    assert ms[-1] == 0xDA and 0xC0 in ms
    # JFIF identifier present
    assert data[6:11] == b"JFIF\x00"


def test_quality_scaling_monotone_and_clamped():
    l50, c50 = quality_tables(50)
    l90, _ = quality_tables(90)
    l10, _ = quality_tables(10)
    assert (l90 <= l50).all() and (l50 <= l10).all()
    assert quality_tables(100)[0].max() == 1  # lossless-ish tables
    assert l10.max() <= 255 and l10.min() >= 1
    assert (l50 == np.clip(quality_tables(50)[0], 1, 255)).all()


def test_zigzag_is_the_spec_traversal():
    # first and last few entries of Figure A.6
    assert list(ZIG[:10]) == [0, 1, 8, 16, 9, 2, 3, 10, 17, 24]
    assert list(ZIG[-6:]) == [61, 54, 47, 55, 62, 63]
    assert sorted(ZIG.tolist()) == list(range(64))


# ---------------------------------------------------------------------------
# roundtrips
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("shape", [(8, 8), (1, 1), (7, 5), (37, 53), (64, 48)])
@pytest.mark.parametrize("subsample", ["444", "420"])
def test_roundtrip_shapes(shape, subsample):
    rng = np.random.default_rng(sum(shape))
    px = rng.integers(0, 256, (*shape, 3), np.uint8)
    out = decode_jpeg(encode_jpeg(px, 90, subsample))
    assert out.shape == px.shape and out.dtype == np.uint8


def test_flat_color_is_near_exact_both_subsamplings():
    px = np.full((24, 40, 3), (200, 100, 50), np.uint8)
    for ss in ("444", "420"):
        out = decode_jpeg(encode_jpeg(px, 95, ss))
        assert int(np.abs(out.astype(int) - px.astype(int)).max()) <= 1, ss


def test_noise_psnr_gates():
    """Worst-case content (uniform noise): 4:4:4 q98 must clear the
    engine's 40 dB lossy gate with margin; q100 is rounding-only (~50 dB)."""
    rng = np.random.default_rng(11)
    px = rng.integers(0, 256, (48, 48, 3), np.uint8)
    assert codecs.psnr(px, decode_jpeg(encode_jpeg(px, 98, "444"))) >= 42.0
    assert codecs.psnr(px, decode_jpeg(encode_jpeg(px, 100, "444"))) >= 48.0


def test_smooth_gradient_quality_ladder():
    """Natural-statistics content: PSNR grows with quality, 4:2:0
    compresses harder than 4:4:4, and q75/420 (the interchange
    default) clears 40 dB."""
    xx, yy = np.meshgrid(np.linspace(0, 1, 64), np.linspace(0, 1, 48))
    px = np.stack(
        [xx * 200 + 20, yy * 180 + 30, (xx + yy) * 100 + 20], axis=2
    ).astype(np.uint8)
    psnrs = [
        codecs.psnr(px, decode_jpeg(encode_jpeg(px, q, "420"))) for q in (30, 75, 95)
    ]
    assert psnrs[0] < psnrs[1] < psnrs[2]
    assert psnrs[1] >= 40.0
    assert len(encode_jpeg(px, 75, "420")) < len(encode_jpeg(px, 75, "444"))
    assert len(encode_jpeg(px, 75, "420")) < px.nbytes // 5  # real compression


def test_fill_bytes_before_markers_decode_identically():
    """Spec B.1.1.2: any number of 0xFF fill bytes may precede a marker
    code. Encoders pad with them (FF FF E0 ...); treating the pad byte
    as the marker would read a garbage segment length and reject a
    conforming stream, so padded and unpadded streams must decode to
    the SAME pixels."""
    rng = np.random.default_rng(21)
    px = rng.integers(0, 256, (24, 32, 3), np.uint8)
    data = encode_jpeg(px, 90, "420")
    ref = decode_jpeg(data)
    # pad after SOI (before the first header segment) and before EOI —
    # the one boundary reached through the entropy-scan loop
    assert data[:2] == b"\xff\xd8" and data[-2:] == b"\xff\xd9"
    padded = data[:2] + b"\xff\xff\xff" + data[2:-2] + b"\xff\xff" + data[-2:]
    np.testing.assert_array_equal(decode_jpeg(padded), ref)


def test_extreme_blocks_at_q100():
    """All-black/all-white blocks exercise the baseline coefficient
    range clamp (DC=±1024 -> ±1023) without visible error."""
    px = np.zeros((16, 16, 3), np.uint8)
    px[:8, :8] = 255
    out = decode_jpeg(encode_jpeg(px, 100, "444"))
    assert int(np.abs(out.astype(int) - px.astype(int)).max()) <= 1


# ---------------------------------------------------------------------------
# registry integration: 'jpeg' is the real codec now
# ---------------------------------------------------------------------------


def test_registry_jpeg_is_real_and_fjpg_is_the_standin():
    rng = np.random.default_rng(3)
    px = rng.integers(0, 256, (32, 32, 3), np.uint8)
    real = codecs.encode_image(px, "jpeg")
    assert real[:2] == b"\xff\xd8"  # SOI — a real JPEG container
    fake = codecs.encode_image(px, "fjpg")
    assert fake[:4] == codecs.FJPG_MAGIC
    back = codecs.decode_image(real, "jpeg")
    assert back.shape == px.shape


def test_phash_survives_real_jpeg_recompression():
    from ariadne_spark.functions import phash

    # phash operates on smoothed content; real JPEG at default quality
    # must not move it more than a few bits even on noise
    rng = np.random.default_rng(9)
    px = rng.integers(0, 256, (64, 64, 3), np.uint8)
    h_exact = phash.np_phash_from_pixels(px)
    h_jpeg = phash.np_phash_from_pixels(codecs.decode_image(codecs.encode_image(px, "jpeg"), "jpeg"))
    assert bin((h_exact ^ h_jpeg) & (2**64 - 1)).count("1") <= 6


def _encode_noninterleaved(px, quality=95, subsample="420"):
    """Spec-legal baseline stream with one SOS PER COMPONENT (the
    non-interleaved layout some encoders emit, A.2.2) — test twin of
    encode_jpeg built from the module's own primitives. Requires dims
    where the per-component block grid equals the padded-plane grid
    (multiples of 16 for 420; any dims for 444)."""
    import struct

    from ariadne_spark.functions import jpeg as J

    h, w, _ = px.shape
    s2 = 2 if subsample == "420" else 1
    mcu = 8 * s2
    assert subsample == "444" or (h % 16 == 0 and w % 16 == 0)
    ph, pw = -(-h // mcu) * mcu, -(-w // mcu) * mcu
    padded = np.pad(px, ((0, ph - h), (0, pw - w), (0, 0)), mode="edge")
    y, cb, cr = J._rgb_to_ycbcr(padded)
    if s2 == 2:
        cb = cb.reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))
        cr = cr.reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))
    qly, qlc = J.quality_tables(quality)
    out = bytearray(b"\xff\xd8")
    out += J._seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += J._seg(0xFFDB, bytes([0x00]) + bytes(qly.reshape(64)[J.ZIG].astype(np.uint8)))
    out += J._seg(0xFFDB, bytes([0x01]) + bytes(qlc.reshape(64)[J.ZIG].astype(np.uint8)))
    sof = struct.pack(">BHHB", 8, h, w, 3)
    sof += bytes([1, (s2 << 4) | s2, 0, 2, 0x11, 1, 3, 0x11, 1])
    out += J._seg(0xFFC0, sof)
    for tc_th, bits, vals in (
        (0x00, J.DC_LUMA_BITS, J.DC_LUMA_VALS),
        (0x10, J.AC_LUMA_BITS, J.AC_LUMA_VALS),
        (0x01, J.DC_CHROMA_BITS, J.DC_CHROMA_VALS),
        (0x11, J.AC_CHROMA_BITS, J.AC_CHROMA_VALS),
    ):
        out += J._seg(0xFFC4, bytes([tc_th] + bits + vals))
    for cid, plane, qt, t in ((1, y, qly, 0), (2, cb, qlc, 1), (3, cr, qlc, 1)):
        out += J._seg(0xFFDA, bytes([1, cid, (t << 4) | t, 0, 63, 0]))
        writer = J._BitWriter()
        pred = 0
        for blk in J._quant_blocks(plane, qt):  # raster block order
            pred = J._encode_block(writer, blk, pred, J.ENC_DC[t], J.ENC_AC[t])
        writer.flush()
        out += bytes(writer.buf)
    out += b"\xff\xd9"
    return bytes(out)


def test_noninterleaved_multiscan_decodes_identically_420():
    """Three separate SOS scans (Y, Cb, Cr) at 4:2:0 must decode to
    exactly the interleaved encoding's pixels: same quantized
    coefficients, different entropy layout."""
    rng = np.random.default_rng(5)
    px = rng.integers(0, 256, size=(32, 48, 3), dtype=np.uint8)
    il = codecs.decode_image(encode_jpeg(px, 90, "420"), "jpeg")
    ni = codecs.decode_image(_encode_noninterleaved(px, 90, "420"), "jpeg")
    assert np.array_equal(il, ni)


def test_noninterleaved_multiscan_odd_dims_444():
    """Non-interleaved at 4:4:4 with non-multiple-of-8 dims: the
    per-component grid math must pad/crop exactly like the
    interleaved path."""
    rng = np.random.default_rng(6)
    px = rng.integers(0, 256, size=(20, 12, 3), dtype=np.uint8)
    il = codecs.decode_image(encode_jpeg(px, 97, "444"), "jpeg")
    ni = codecs.decode_image(_encode_noninterleaved(px, 97, "444"), "jpeg")
    assert np.array_equal(il, ni)
    assert codecs.psnr(px, ni) >= 30.0


# ---------------------------------------------------------------------------
# vectorized entropy decoder — bit-identity vs the per-bit reference twin
# ---------------------------------------------------------------------------


def _golden_flat_gray() -> bytes:
    return (
        _gray_headers(8, 8)
        + _seg(0xFFDA, bytes([1, 1, 0x00, 0, 63, 0]))
        + b"\xd0\xaf"
        + b"\xff\xd9"
    )


def _golden_restart() -> bytes:
    return (
        _gray_headers(16, 8)
        + _seg(0xFFDD, struct.pack(">H", 1))
        + _seg(0xFFDA, bytes([1, 1, 0x00, 0, 63, 0]))
        + b"\xd0\xaf" + b"\xff\xd0" + b"\xd0\xaf"
        + b"\xff\xd9"
    )


def _parity_streams():
    """Adversarial stream set: both subsamplings, odd dims, flat and
    noise content, quality extremes, restart intervals (incl. one that
    does not divide the MCU count), non-interleaved multi-scan, and
    the hand-assembled golden fixtures."""
    rng = np.random.default_rng(11)
    noise = rng.integers(0, 256, size=(37, 53, 3), dtype=np.uint8)
    big = rng.integers(0, 256, size=(64, 80, 3), dtype=np.uint8)
    flat = np.full((16, 16, 3), 200, np.uint8)
    grad = np.zeros((48, 32, 3), np.uint8)
    grad[:, :, 0] = np.linspace(0, 255, 32, dtype=np.uint8)[None, :]
    grad[:, :, 1] = np.linspace(0, 255, 48, dtype=np.uint8)[:, None]
    streams = [
        encode_jpeg(noise, 90, "420"),
        encode_jpeg(noise, 97, "444"),
        encode_jpeg(flat, 100, "444"),
        encode_jpeg(grad, 30, "420"),
        encode_jpeg(big, 75, "420", restart_mcus=3),   # 20 MCUs, 3 ∤ 20 (walk)
        encode_jpeg(big, 95, "444", restart_mcus=1),   # every MCU an interval
        # 48x176/420 = 33 MCUs, restart 2 -> 17 intervals, the LAST
        # holding a single MCU: the wave path's short-final-lane case
        encode_jpeg(rng.integers(0, 256, size=(48, 176, 3), dtype=np.uint8),
                    85, "420", restart_mcus=2),
        _encode_noninterleaved(noise[:32, :48], 90, "420"),
        _encode_noninterleaved(noise[:20, :12], 97, "444"),
        _golden_flat_gray(),
        _golden_restart(),
    ]
    return streams


def test_vectorized_decoder_bit_identical_to_loop_twin(monkeypatch):
    from ariadne_spark.functions import jpeg as J

    for i, data in enumerate(_parity_streams()):
        fast = decode_jpeg(data)
        monkeypatch.setattr(J, "_decode_scan", J._decode_scan_loop)
        ref = decode_jpeg(data)
        monkeypatch.undo()
        assert np.array_equal(fast, ref), f"stream {i} diverged"


def test_encoder_restart_markers_roundtrip_and_conform():
    """restart_mcus>0 must emit DRI + cycling RSTn and decode to
    exactly the no-restart encoding's pixels (same quantized
    coefficients, only the entropy framing differs)."""
    rng = np.random.default_rng(12)
    px = rng.integers(0, 256, size=(48, 64, 3), dtype=np.uint8)
    plain = encode_jpeg(px, 85, "420")
    rst = encode_jpeg(px, 85, "420", restart_mcus=2)
    assert b"\xff\xdd" in rst and b"\xff\xdd" not in plain
    # 12 MCUs at restart=2 -> 5 boundaries, RSTn cycling from D0
    for n in range(5):
        assert bytes([0xFF, 0xD0 + n % 8]) in rst
    assert np.array_equal(decode_jpeg(rst), decode_jpeg(plain))


def test_truncated_stream_still_raises_on_vectorized_path():
    rng = np.random.default_rng(13)
    px = rng.integers(0, 256, size=(32, 32, 3), dtype=np.uint8)
    data = encode_jpeg(px, 90, "420")
    # chop the entropy stream well short of the MCU count
    cut = data[: len(data) // 2]
    with pytest.raises(Exception):
        decode_jpeg(cut + b"\xff\xd9")



@pytest.mark.parametrize("path", ["_decode_scan_walk", "_decode_scan_waves"])
def test_missing_final_restart_interval_raises_truncated(monkeypatch, path):
    """A restart-marked stream cut at its last RSTn marker carries one
    interval fewer than its MCU count needs: both production entropy
    paths must reject it as truncated, not fail on an index."""
    import re

    from ariadne_spark.functions import jpeg as J

    rng = np.random.default_rng(14)
    px = rng.integers(0, 256, size=(48, 176, 3), dtype=np.uint8)
    data = encode_jpeg(px, 85, "420", restart_mcus=2)  # 17 intervals
    last_rst = [m.start() for m in re.finditer(rb"\xff[\xd0-\xd7]", data)][-1]
    cut = data[:last_rst] + b"\xff\xd9"
    monkeypatch.setattr(J, "_decode_scan", getattr(J, path))
    with pytest.raises(ValueError, match="^truncated entropy stream$"):
        decode_jpeg(cut)

# ---------------------------------------------------------------------------
# progressive (SOF2) — encode/decode conformance
# ---------------------------------------------------------------------------


def _prog_cases():
    rng = np.random.default_rng(21)
    noise = rng.integers(0, 256, size=(37, 53, 3), dtype=np.uint8)
    flat = np.full((64, 64, 3), 130, np.uint8)  # long EOB runs (EOBn>1)
    grad = np.zeros((48, 80, 3), np.uint8)
    grad[:, :, 0] = np.linspace(0, 255, 80, dtype=np.uint8)[None, :]
    grad[:, :, 1] = np.linspace(0, 255, 48, dtype=np.uint8)[:, None]
    grad[:, :, 2] = 128
    sparse = flat.copy()  # isolated high-frequency dots -> ZRL + refinement
    sparse[::9, ::9] = 255
    return [
        (noise, 85, "420"),
        (noise, 97, "444"),
        (flat, 90, "420"),
        (grad, 75, "420"),
        (sparse, 85, "444"),
    ]


def test_progressive_roundtrip_matches_baseline_exactly():
    """encode_jpeg_progressive produces the SAME quantized
    coefficients as encode_jpeg at the same settings, so decoding
    both streams must agree pixel-for-pixel — a full-loop conformance
    oracle across DC first/refine, spectral-selection AC bands,
    AC refinement with EOB runs, ZRL, both subsamplings, odd dims."""
    from ariadne_spark.functions.jpeg import encode_jpeg_progressive

    for i, (px, q, ss) in enumerate(_prog_cases()):
        base = decode_jpeg(encode_jpeg(px, q, ss))
        prog = decode_jpeg(encode_jpeg_progressive(px, q, ss))
        assert np.array_equal(base, prog), f"case {i} ({q},{ss}) diverged"


def test_progressive_stream_is_structurally_progressive():
    from ariadne_spark.functions.jpeg import encode_jpeg_progressive

    rng = np.random.default_rng(22)
    px = rng.integers(0, 256, size=(32, 32, 3), dtype=np.uint8)
    data = encode_jpeg_progressive(px, 85, "420")
    assert b"\xff\xc2" in data and b"\xff\xc0" not in data
    # multiple SOS scans (DC first + 4 AC first + 4 AC refine + DC refine)
    assert data.count(b"\xff\xda") == 10


def test_progressive_real_world_fixture_decodes():
    """A genuine in-the-wild progressive JPEG (libjpeg default scan
    script, 4:2:2 sampling, two successive-approximation levels;
    from the public rust-embedded/book repo, CC-BY-4.0). No reference
    decoder exists in this container, so the checks are structural +
    statistical sanity + a self-regression pin."""
    data = open("tests/fixtures/f3_progressive.jpg", "rb").read()
    px = decode_jpeg(data)
    assert px.shape == (477, 720, 3)
    # full-pixel regression pin: locks every later decoder optimization
    # (LUT reader, list walks) to bit-identical output on a real stream
    import hashlib

    assert hashlib.sha256(px.tobytes()).hexdigest() == (
        "12889f7e9ddd1821e04d2b027964eb994534b5cbf9b354db0581fed18f11ed73"
    )
    # a real photo: non-degenerate dynamic range and detail
    assert px.std() > 20
    assert 40 < px.mean() < 220
    lum = px.astype(np.int64).sum(axis=2)
    assert np.abs(np.diff(lum, axis=1)).mean() > 1  # horizontal detail


def test_progressive_passes_quarantine(spark):
    import pandas as pd

    from ariadne_spark.functions.jpeg import encode_jpeg_progressive
    from ariadne_spark.operators.decode import quarantine_scan

    rng = np.random.default_rng(23)
    px = rng.integers(0, 256, size=(24, 40, 3), dtype=np.uint8)
    rows = [
        {"image_id": "prog_ok", "bytes": encode_jpeg_progressive(px, 85, "420"),
         "w": 40, "h": 24, "fmt": "jpeg"},
        {"image_id": "prog_wild", "bytes": open(
            "tests/fixtures/f3_progressive.jpg", "rb").read(),
         "w": 720, "h": 477, "fmt": "jpeg"},
        {"image_id": "prog_cut", "bytes": encode_jpeg_progressive(
            px, 85, "420")[:120] + b"\xff\xd9", "w": 40, "h": 24, "fmt": "jpeg"},
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows),
        "image_id string, bytes binary, w int, h int, fmt string",
    )
    got = {r["image_id"]: (r["ok"], r["error_kind"])
           for r in quarantine_scan(df).collect()}
    assert got["prog_ok"] == (True, None)
    assert got["prog_wild"] == (True, None)
    assert got["prog_cut"][0] is False  # truncated still quarantines


def test_progressive_grayscale_single_component_scans():
    """1-component progressive stream: DC scans traverse the
    component's OWN grid (the non-interleaved `_prog_dc` branch my
    3-component encoder never emits). Built from the module's own
    primitives; oracle = the baseline non-interleaved decode of the
    same quantized plane."""
    from ariadne_spark.functions import jpeg as J

    rng = np.random.default_rng(33)
    h, w = 24, 40  # non-multiple-of-16: padded grid == own grid (8s)
    plane = rng.integers(0, 256, (h, w), np.uint8)
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    padded = np.pad(plane, ((0, ph - h), (0, pw - w)), mode="edge").astype(np.float64)
    qly, _ = J.quality_tables(90)
    z = J._quant_blocks(padded, qly)  # zigzag rows, raster block order

    def seg(marker, payload):
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    hdr = bytearray(b"\xff\xd8")
    hdr += seg(0xFFDB, bytes([0x00]) + bytes(qly.reshape(64)[J.ZIG].astype(np.uint8)))
    hdr += seg(0xFFC2, struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0]))
    hdr += seg(0xFFC4, bytes([0x00] + J.DC_LUMA_BITS + J.DC_LUMA_VALS))
    hdr += seg(0xFFC4, bytes([0x10] + J.PROG_AC_BITS + J.PROG_AC_VALS))

    def sos(ss, se, ah, al):
        return seg(0xFFDA, bytes([1, 1, 0x00, ss, se, (ah << 4) | al]))

    out = bytearray(hdr)
    # DC first, single component (own-grid traversal), Al=1
    out += sos(0, 0, 0, 1)
    wtr = J._BitWriter()
    pred = 0
    for blk in z:
        v = int(blk[0]) >> 1
        diff, pred = v - pred, v
        s = J._csize(diff)
        code, ln = J.ENC_DC[0][s]
        wtr.put(code, ln)
        if s:
            wtr.put(diff if diff > 0 else diff + (1 << s) - 1, s)
    wtr.flush()
    out += wtr.buf
    # AC first + refine over the full band
    for enc, ah, al in ((J._enc_ac_first, 0, 1), (J._enc_ac_refine, 1, 0)):
        out += sos(1, 63, ah, al)
        wtr = J._BitWriter()
        enc(wtr, list(z), 1, 63, al)
        wtr.flush()
        out += wtr.buf
    # DC refine, single component
    out += sos(0, 0, 1, 0)
    wtr = J._BitWriter()
    for blk in z:
        wtr.put(int(blk[0]) & 1, 1)
    wtr.flush()
    out += wtr.buf
    out += b"\xff\xd9"

    got = decode_jpeg(bytes(out))
    # oracle: baseline single-component stream over the same coefficients
    base = bytearray(b"\xff\xd8")
    base += seg(0xFFDB, bytes([0x00]) + bytes(qly.reshape(64)[J.ZIG].astype(np.uint8)))
    base += seg(0xFFC0, struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0]))
    base += seg(0xFFC4, bytes([0x00] + J.DC_LUMA_BITS + J.DC_LUMA_VALS))
    base += seg(0xFFC4, bytes([0x10] + J.AC_LUMA_BITS + J.AC_LUMA_VALS))
    base += seg(0xFFDA, bytes([1, 1, 0x00, 0, 63, 0]))
    wtr = J._BitWriter()
    pred = 0
    for blk in z:
        pred = J._encode_block(wtr, blk, pred, J.ENC_DC[0], J.ENC_AC[0])
    wtr.flush()
    base += wtr.buf + b"\xff\xd9"
    want = decode_jpeg(bytes(base))
    np.testing.assert_array_equal(got, want)
