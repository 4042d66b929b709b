"""Baseline JPEG codec (functions/jpeg.py): entropy-layer bit-exactness,
pixel-domain accuracy on smooth content, hand-built spec fixtures that are
independent of the encoder, profile hooks, and the multimodal wiring."""

import os
import struct
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from quill_agent_dashboard_pbi_etl_spark.functions import jpeg
from quill_agent_dashboard_pbi_etl_spark.functions.multimodal import (
    decode_asset,
    make_jpeg_bytes,
    make_ppm_bytes,
)


def test_entropy_layer_bit_exact_round_trip():
    """JPEG's ONLY lossy step is quantization: the decoder must recover the
    encoder's quantized DCT coefficients bit-for-bit across shapes covering
    partial edge blocks, single pixels, and multi-block grids."""
    rng = np.random.default_rng(3)
    for shape in ((8, 8), (24, 17), (64, 64), (1, 1), (9, 23), (16, 7)):
        img = rng.integers(0, 256, (shape[0], shape[1], 3), dtype=np.uint8)
        want = np.stack(jpeg.forward_quantized_coefficients(img), axis=1)
        got = jpeg.decode_quantized_coefficients(jpeg.encode_baseline_jpeg(img))
        assert got.shape == want.shape
        assert (got == want).all(), shape


def test_pixel_domain_accuracy_on_smooth_content():
    flat = np.full((16, 16, 3), 137, dtype=np.uint8)
    out = jpeg.decode_baseline_jpeg(jpeg.encode_baseline_jpeg(flat))
    assert np.abs(out.astype(int) - 137).max() <= 1
    grad = np.tile(np.arange(64, 192, 2, dtype=np.uint8)[None, :, None], (32, 1, 3))
    og = jpeg.decode_baseline_jpeg(jpeg.encode_baseline_jpeg(grad))
    assert np.abs(og.astype(int) - grad.astype(int)).mean() < 2.0


def _seg(marker: int, payload: bytes) -> bytes:
    return struct.pack(">HH", marker, len(payload) + 2) + payload


def _write_bits(bits: str) -> bytes:
    """MSB-first bit string → bytes, 1-padded, with 0xFF byte stuffing."""
    padded = bits + "1" * (-len(bits) % 8)
    out = bytearray()
    for i in range(0, len(padded), 8):
        byte = int(padded[i : i + 8], 2)
        out.append(byte)
        if byte == 0xFF:
            out.append(0x00)
    return bytes(out)


def test_handbuilt_grayscale_dc_only_block():
    """Spec-derived fixture built WITHOUT the encoder: one 8×8 grayscale
    block, DC-only. Quantized DC = 8 with quant step 16 dequantizes to 128;
    the orthonormal IDCT of a DC-only block is coef/8 in every pixel, so the
    decoded plane must be exactly 128/8 + 128 = 144 everywhere. Catches any
    compensating encoder↔decoder bug in DCT scaling, level shift, or
    dequantization."""
    # DQT: table 0, all-16 steps (written in zigzag order — uniform, so
    # ordering is immaterial)
    dqt = _seg(0xFFDB, bytes([0x00]) + bytes([16] * 64))
    # SOF0: 8-bit, 8×8, 1 component (id 1, 1x1 sampling, quant table 0)
    sof = _seg(0xFFC0, bytes([8]) + struct.pack(">HH", 8, 8) + bytes([1, 1, 0x11, 0]))
    # DHT from the Annex K specs (table ids 0/0)
    dc_counts, dc_syms = jpeg.DC_LUMA_SPEC
    ac_counts, ac_syms = jpeg.AC_LUMA_SPEC
    dht = _seg(0xFFC4, bytes([0x00]) + bytes(dc_counts) + bytes(dc_syms)) + _seg(
        0xFFC4, bytes([0x10]) + bytes(ac_counts) + bytes(ac_syms)
    )
    sos = _seg(0xFFDA, bytes([1, 1, 0x00, 0, 63, 0]))
    # Entropy data: DC category 4 (Annex K DC code for category 4) + the
    # 4-bit magnitude 8 ('1000'), then EOB. Codes derived from the table
    # builder, whose canonical assignment the decoder test exercises anyway;
    # the EXPECTED PIXELS below are derived only from the spec math.
    dc_table = jpeg._build_huffman(jpeg.DC_LUMA_SPEC)
    ac_table = jpeg._build_huffman(jpeg.AC_LUMA_SPEC)
    code, ln = dc_table[4]
    eob, eob_ln = ac_table[0x00]
    bits = format(code, f"0{ln}b") + "1000" + format(eob, f"0{eob_ln}b")
    payload = (
        b"\xff\xd8" + dqt + sof + dht + sos + _write_bits(bits) + b"\xff\xd9"
    )
    out = jpeg.decode_baseline_jpeg(payload)
    assert out.shape == (8, 8, 1)
    assert (out == 144).all()
    # and through the multimodal feature lane: gray 144 → means 144/255
    feats, frames = decode_asset(payload, "image")
    assert frames == 1
    assert feats == pytest.approx([144 / 255.0] * 3, abs=1e-12)


def test_unsupported_jpeg_profiles_raise_hook():
    base = make_jpeg_bytes(seed=1)
    # arithmetic-coded SOF9 — genuinely outside the codec, still the hook
    arith = base.replace(b"\xff\xc0", b"\xff\xc9", 1)
    with pytest.raises(NotImplementedError, match="PIL"):
        jpeg.decode_baseline_jpeg(arith)
    # SOF2 with a baseline-shaped single scan (Ss=0, Se=63) is a MALFORMED
    # progressive scan script (DC and AC may not share a scan), not a hook
    pseudo_prog = base.replace(b"\xff\xc0", b"\xff\xc2", 1)
    with pytest.raises(ValueError):
        jpeg.decode_baseline_jpeg(pseudo_prog)
    # illegal sampling factor (0) is a malformed stream, not a hook
    sof = _seg(
        0xFFC0,
        bytes([8]) + struct.pack(">HH", 8, 8) + bytes([3, 1, 0x02, 0, 2, 0x11, 1, 3, 0x11, 1]),
    )
    with pytest.raises(ValueError, match="sampling"):
        jpeg.decode_baseline_jpeg(b"\xff\xd8" + sof)


# ---- Progressive (SOF2): spectral selection + successive approximation ------


@pytest.mark.parametrize("subsampling", ["444", "420", "422"])
@pytest.mark.parametrize("al", [0, 1, 2])
def test_progressive_decodes_pixel_identical_to_baseline(subsampling, al):
    """The progressive encoding carries the SAME quantized coefficients as
    the baseline one, so the multi-scan decode (DC first/refine, AC
    first/refine with EOB runs) must reconstruct PIXEL-IDENTICAL output.
    Noise content exercises ZRL-before-correction ordering, long runs and
    every magnitude category; odd dims exercise partial edge blocks and
    (at 4:2:0) true-grid-vs-padded-grid AC walks."""
    import numpy as np

    from quill_agent_dashboard_pbi_etl_spark.functions.multimodal import _lcg_bytes

    for h, w in [(17, 22), (7, 9)]:
        pix = np.frombuffer(_lcg_bytes(11, w * h * 3), dtype=np.uint8).reshape(h, w, 3)
        base = jpeg.decode_baseline_jpeg(jpeg.encode_baseline_jpeg(pix, subsampling))
        prog = jpeg.decode_baseline_jpeg(
            jpeg.encode_progressive_jpeg(pix, subsampling, al=al)
        )
        assert (base == prog).all()


def test_progressive_entropy_layer_exact_on_true_grid():
    """The multi-scan entropy layers are jointly lossless: the decoder's
    per-component coefficients match the forward quantization bit-for-bit
    on every TRUE-grid block (interleave-only dummy blocks of subsampled
    luma legitimately carry DC-only data and sit wholly outside the crop)."""
    import numpy as np

    from quill_agent_dashboard_pbi_etl_spark.functions.jpeg import (
        SAMPLING_FACTORS,
        _frame_geometry,
    )
    from quill_agent_dashboard_pbi_etl_spark.functions.multimodal import _lcg_bytes

    h, w = 17, 22
    pix = np.frombuffer(_lcg_bytes(5, w * h * 3), dtype=np.uint8).reshape(h, w, 3)
    sent = jpeg.forward_quantized_components(pix, "420")
    got = jpeg.decode_quantized_components(
        jpeg.encode_progressive_jpeg(pix, "420", al=2)
    )
    comps_meta = [(1, 0, hi, vi) for hi, vi in SAMPLING_FACTORS["420"]]
    _f, _hm, _vm, _mx, _my, layouts, true_grids = _frame_geometry(h, w, comps_meta)
    for ci in range(3):
        rows, cols_t = true_grids[ci]
        cols = layouts[ci][1]
        for r in range(rows):
            for c in range(cols_t):
                assert (sent[ci][r * cols + c] == got[ci][r * cols + c]).all()


def test_progressive_through_decode_asset():
    from quill_agent_dashboard_pbi_etl_spark.functions.multimodal import decode_asset

    rgb = _gradient_rgb(16, 16)
    fb, _ = decode_asset(jpeg.encode_baseline_jpeg(rgb, "420"), "image")
    fp, frames = decode_asset(jpeg.encode_progressive_jpeg(rgb, "420"), "image")
    assert frames == 1
    assert fp == fb  # same coefficients → exactly the same features


def test_progressive_with_restart_intervals_identical():
    """Restart markers inside progressive scans (per-MCU for interleaved
    DC, per-block for single-component scans, predictor/EOB-run reset)
    change nothing about the coefficients — pixel-identical to both the
    unmarked progressive stream and the baseline encoding."""
    import numpy as np

    from quill_agent_dashboard_pbi_etl_spark.functions.multimodal import _lcg_bytes

    pix = np.frombuffer(_lcg_bytes(13, 22 * 17 * 3), dtype=np.uint8).reshape(17, 22, 3)
    base = jpeg.decode_baseline_jpeg(jpeg.encode_baseline_jpeg(pix, "420"))
    for ri in (1, 3):
        prog = jpeg.decode_baseline_jpeg(
            jpeg.encode_progressive_jpeg(pix, "420", al=2, restart_interval=ri)
        )
        assert (base == prog).all()


def test_progressive_truncated_scan_raises():
    rgb = _gradient_rgb(16, 16)
    payload = jpeg.encode_progressive_jpeg(rgb, "444")
    with pytest.raises(ValueError):
        jpeg.decode_baseline_jpeg(payload[: len(payload) // 2])


# ---- Chroma subsampling (4:2:0 / 4:2:2) -------------------------------------


def _gradient_rgb(height: int, width: int) -> "np.ndarray":
    """Deterministic smooth image: chroma varies slowly, so the box
    downsample→replicate round loses little and tolerances stay tight."""
    yy, xx = np.mgrid[0:height, 0:width].astype(np.float64)
    r = 255.0 * xx / max(width - 1, 1)
    g = 255.0 * yy / max(height - 1, 1)
    b = 255.0 * (xx + yy) / max(width + height - 2, 1)
    return np.clip(np.round(np.stack([r, g, b], axis=-1)), 0, 255).astype(np.uint8)


@pytest.mark.parametrize("subsampling", ["420", "422"])
def test_subsampled_entropy_layer_roundtrip_exact(subsampling):
    """The entropy layer stays lossless under MCU interleaving: the decoder
    must recover the encoder's per-component quantized coefficients
    bit-for-bit, including the partial edge MCUs of non-multiple-of-16
    dims."""
    rgb = _gradient_rgb(17, 22)
    payload = jpeg.encode_baseline_jpeg(rgb, subsampling=subsampling)
    sent = jpeg.forward_quantized_components(rgb, subsampling)
    got = jpeg.decode_quantized_components(payload)
    assert len(got) == 3
    for s, g in zip(sent, got):
        assert s.shape == g.shape
        assert (s == g).all()
    # the stacked same-geometry surface refuses subsampled layouts loudly
    with pytest.raises(ValueError, match="decode_quantized_components"):
        jpeg.decode_quantized_coefficients(payload)


@pytest.mark.parametrize("subsampling", ["444", "420", "422"])
def test_subsampled_decode_close_to_source(subsampling):
    """Full round-trip on a smooth image: per-pixel error bounded by the
    quantization steps (chroma subsample adds only slow-varying error on a
    gradient), channel means within the DC-step band."""
    rgb = _gradient_rgb(24, 33)
    out = jpeg.decode_baseline_jpeg(jpeg.encode_baseline_jpeg(rgb, subsampling=subsampling))
    assert out.shape == rgb.shape
    err = np.abs(out.astype(np.float64) - rgb.astype(np.float64))
    assert err.mean() < 6.0
    assert np.abs(out.mean(axis=(0, 1)) - rgb.mean(axis=(0, 1))).max() < 8.0


@pytest.mark.parametrize("subsampling", ["444", "420"])
def test_restart_intervals_roundtrip_identical(subsampling):
    """DRI/RSTn only resyncs the entropy stream — the quantized data is
    unchanged, so the restart-marked stream must decode to PIXEL-IDENTICAL
    output, and the entropy layer stays bit-exact across the predictor
    resets (restart_interval=1 puts a marker between every MCU)."""
    rgb = _gradient_rgb(24, 33)
    plain = jpeg.decode_baseline_jpeg(jpeg.encode_baseline_jpeg(rgb, subsampling))
    marked_payload = jpeg.encode_baseline_jpeg(rgb, subsampling, restart_interval=2)
    marked = jpeg.decode_baseline_jpeg(marked_payload)
    assert (plain == marked).all()
    sent = jpeg.forward_quantized_components(rgb, subsampling)
    got = jpeg.decode_quantized_components(
        jpeg.encode_baseline_jpeg(rgb, subsampling, restart_interval=1)
    )
    for s, g in zip(sent, got):
        assert (s == g).all()
    # an out-of-sequence RST is a malformed stream (markers are never
    # byte-stuffed, so the first 0xFFD0 in the scan IS the first restart)
    broken = bytearray(marked_payload)
    idx = broken.find(b"\xff\xd0")
    assert idx > 0
    broken[idx + 1] = 0xD3
    with pytest.raises(ValueError, match="restart"):
        jpeg.decode_baseline_jpeg(bytes(broken))


def test_subsampled_and_444_featurize_alike():
    """decode_asset means for the same pixels at 4:2:0 / 4:2:2 sit within a
    tight band of the 4:4:4 rendering (chroma means are preserved by the
    box downsample up to quantization)."""
    from quill_agent_dashboard_pbi_etl_spark.functions.multimodal import decode_asset

    rgb = _gradient_rgb(16, 16)
    f444, _ = decode_asset(jpeg.encode_baseline_jpeg(rgb, "444"), "image")
    for mode in ("420", "422"):
        f, frames = decode_asset(jpeg.encode_baseline_jpeg(rgb, mode), "image")
        assert frames == 1
        assert f == pytest.approx(f444, abs=0.02)


def test_malformed_jpeg_raises_valueerror():
    payload = make_jpeg_bytes(seed=2)
    with pytest.raises(ValueError):
        jpeg.decode_baseline_jpeg(payload[:40])  # truncated mid-segment
    with pytest.raises(ValueError):
        jpeg.decode_baseline_jpeg(payload[:-2])  # missing EOI
    with pytest.raises(ValueError):
        jpeg.decode_baseline_jpeg(b"\x00\x01\x02")  # not a JPEG


def test_jpeg_container_means_close_to_lossless_containers():
    """The JPEG stripe holds the same logical pixels as PPM/BMP/PNG; its
    decoded channel means must sit within the quantization-bounded band of
    the lossless containers' means (DC steps 16/17 → per-channel mean shift
    well under 0.08 in [0,1] units)."""
    for seed in (0, 3, 11):
        ppm, _ = decode_asset(make_ppm_bytes(seed), "image")
        jp, frames = decode_asset(make_jpeg_bytes(seed), "image")
        assert frames == 1
        assert jp == pytest.approx(ppm, abs=0.08)


# Golden decoded means for the default 8×8 synthesizer payloads — pins the
# whole pipeline (LCG pixels → encoder → decoder → means) numerically.
_GOLDEN_JPEG = {
    0: [0.5074754901960784, 0.46280637254901963, 0.4699142156862745],
    2: [0.5016544117647059, 0.5189950980392157, 0.5124387254901961],
    7: [0.49613970588235295, 0.5082107843137255, 0.4624387254901961],
}


def test_jpeg_golden_features():
    for seed, want in _GOLDEN_JPEG.items():
        got, frames = decode_asset(make_jpeg_bytes(seed), "image")
        assert frames == 1
        assert got == pytest.approx(want, abs=1e-9), seed


def test_progressive_grayscale_single_component_scans():
    """Single-component frames take the non-interleaved DC walk (the one
    progressive path the 3-component encoder never emits): craft a
    grayscale SOF2 stream — DC first (ns=1), AC first, DC refine, AC
    refine — from the module's own primitives and assert it decodes
    pixel-identical to the equivalent hand-built BASELINE grayscale
    stream (identical quantized coefficients by construction)."""
    import numpy as np

    from quill_agent_dashboard_pbi_etl_spark.functions.jpeg import (
        AC_LUMA_SPEC,
        DC_LUMA_SPEC,
        QUANT_LUMA,
        _BitWriter,
        _build_huffman,
        _encode_ac_first_block,
        _encode_ac_refine_block,
        _encode_block,
        _magnitude,
        _plane_quantized_blocks,
    )
    from quill_agent_dashboard_pbi_etl_spark.functions.multimodal import _lcg_bytes

    h, w = 8, 16  # two blocks, exact multiple (no padding concerns)
    gray = np.frombuffer(_lcg_bytes(6, h * w), dtype=np.uint8).reshape(h, w)
    blocks = _plane_quantized_blocks(gray.astype(np.float64) - 128.0, QUANT_LUMA)
    dc_tab = _build_huffman(DC_LUMA_SPEC)
    ac_tab = _build_huffman(AC_LUMA_SPEC)

    def headers(sof_marker: int) -> bytes:
        dqt = _seg(
            0xFFDB,
            bytes([0]) + bytes(int(v) for v in QUANT_LUMA.reshape(-1)[jpeg._Z]),
        )
        sof = _seg(
            sof_marker,
            bytes([8]) + struct.pack(">HH", h, w) + bytes([1, 1, 0x11, 0]),
        )
        cd, sd = DC_LUMA_SPEC, AC_LUMA_SPEC
        dht = _seg(0xFFC4, bytes([0x00]) + bytes(cd[0]) + bytes(cd[1])) + _seg(
            0xFFC4, bytes([0x10]) + bytes(sd[0]) + bytes(sd[1])
        )
        return b"\xff\xd8" + dqt + sof + dht

    def sos(ss, se, ah, al) -> bytes:
        return _seg(0xFFDA, bytes([1, 1, 0x00, ss, se, (ah << 4) | al]))

    # baseline grayscale reference
    wtr = _BitWriter()
    pred = [0]
    for bi in range(blocks.shape[0]):
        _encode_block(wtr, blocks[bi], dc_tab, ac_tab, pred, 0)
    baseline = headers(0xFFC0) + sos(0, 63, 0, 0) + wtr.flush() + b"\xff\xd9"

    # progressive grayscale: single-component scans only
    al = 1
    scans = b""
    wtr = _BitWriter()  # DC first, ns=1
    pred_v = 0
    for bi in range(blocks.shape[0]):
        v = int(blocks[bi][0]) >> al
        t, bits = _magnitude(v - pred_v)
        pred_v = v
        code, ln = dc_tab[t]
        wtr.write(code, ln)
        if t:
            wtr.write(bits, t)
    scans += sos(0, 0, 0, al) + wtr.flush()
    wtr = _BitWriter()  # AC first, band 1-63
    for bi in range(blocks.shape[0]):
        _encode_ac_first_block(wtr, blocks[bi][1:], al, ac_tab)
    scans += sos(1, 63, 0, al) + wtr.flush()
    wtr = _BitWriter()  # DC refine, ns=1
    for bi in range(blocks.shape[0]):
        wtr.write(int(blocks[bi][0]) & 1, 1)
    scans += sos(0, 0, al, 0) + wtr.flush()
    wtr = _BitWriter()  # AC refine
    for bi in range(blocks.shape[0]):
        _encode_ac_refine_block(wtr, blocks[bi][1:], 0, ac_tab)
    scans += sos(1, 63, al, 0) + wtr.flush()
    progressive = headers(0xFFC2) + scans + b"\xff\xd9"

    out_b = jpeg.decode_baseline_jpeg(baseline)
    out_p = jpeg.decode_baseline_jpeg(progressive)
    assert out_b.shape == out_p.shape == (h, w, 1)
    assert (out_b == out_p).all()


def test_multiscan_sequential_raises_not_implemented():
    """A legal T.81 sequential file with multiple scans (SOF0 + the
    progressive scan script) must classify as valid-but-unsupported
    (NotImplementedError — the PIL plug-in hook), never as malformed
    ValueError: non-interleaved sequential scans are spec-legal."""
    rgb = _gradient_rgb(16, 16)
    payload = bytearray(jpeg.encode_progressive_jpeg(rgb, "444", al=0))
    idx = payload.find(b"\xff\xc2")
    assert idx >= 0
    payload[idx + 1] = 0xC0  # SOF2 -> SOF0: now a multi-scan SEQUENTIAL file
    with pytest.raises(NotImplementedError, match="multi-scan sequential"):
        jpeg.decode_baseline_jpeg(bytes(payload))


def test_partial_sequential_scan_raises_not_implemented():
    """A single SOF0 scan covering only a component subset (legal
    non-interleaved sequential) is an unsupported profile, not a
    malformed file."""
    payload = bytearray(jpeg.encode_baseline_jpeg(_gradient_rgb(8, 8)))
    idx = payload.find(b"\xff\xda")
    assert idx >= 0
    # SOS layout: FFDA len(2) Ns [Cs Td/Ta]*Ns Ss Se Ah/Al. Rewrite the
    # header to carry ONLY the first component (drop 2 entries = 4 bytes).
    ns = payload[idx + 4]
    assert ns == 3
    new_header = (
        b"\xff\xda" + struct.pack(">H", 2 + 1 + 2 + 3) + b"\x01"
        + bytes(payload[idx + 5 : idx + 7])       # first component spec
        + bytes(payload[idx + 11 : idx + 14])     # Ss Se AhAl
    )
    doctored = bytes(payload[:idx]) + new_header + bytes(payload[idx + 14 :])
    with pytest.raises(NotImplementedError, match="non-interleaved sequential"):
        jpeg.decode_baseline_jpeg(doctored)
