"""Round-9 semantic pins.

1. The baseline JPEG codec (the last documented image decode seam,
   displaced this round): constant-color closed form, gradient
   closeness, embedded-Huffman-table decode, format edge errors, and
   the unsupported-variant seams.
2. The LTTB pick score's DECIMAL(38,0)/HUGEINT promotion: a synthetic
   hot user whose score terms overflow int64 by ~11 orders of magnitude
   must neither throw nor diverge from the DuckDB oracle (the r9
   boundary-scan finding — the score was bare BIGINT on both engines).
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest

from cdc_export_system_spark.multimodal.jpeg import (
    QTABLE,
    decode_jpeg,
    encode_jpeg,
    jpeg_constant_roundtrip,
)
from cdc_export_system_spark.registry import load_all
from tests.parity import compare

# ---------------------------------------------------------------------------
# JPEG codec
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_jpeg_constant_color_closed_form(seed):
    """decode(encode(constant image)) must hit the DC-only closed form
    bit-exactly on every pixel — the property the SQL oracle mirrors."""
    rng = np.random.RandomState(seed)
    for _ in range(60):
        r, g, b = (int(x) for x in rng.randint(0, 256, 3))
        w, h = int(rng.randint(1, 40)), int(rng.randint(1, 40))
        raster = np.full((h, w, 3), (r, g, b), dtype=np.uint8)
        dec = decode_jpeg(encode_jpeg(w, h, raster.tobytes()))
        assert (dec["width"], dec["height"]) == (w, h)
        expect = np.array(jpeg_constant_roundtrip(r, g, b), dtype=np.uint8)
        assert (dec["raster"] == expect).all(), (
            (r, g, b),
            expect,
            dec["raster"][0, 0],
        )


def test_jpeg_gradient_roundtrip_close_and_deterministic():
    h, w = 33, 47
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.stack(
        [(xx * 5) % 256, (yy * 3) % 256, (xx + yy) % 256], axis=-1
    ).astype(np.uint8)
    p1 = encode_jpeg(w, h, img.tobytes())
    p2 = encode_jpeg(w, h, img.tobytes())
    assert p1 == p2  # bit-deterministic encoder
    dec = decode_jpeg(p1)
    err = np.abs(dec["raster"].astype(int) - img.astype(int))
    # smooth content through the q<=12 low-frequency table: small loss
    assert err.max() <= 12 and err.mean() < 2.0
    assert len(p1) < w * h * 3 // 4  # actually compresses


def test_jpeg_decoder_reads_embedded_tables_not_ours():
    """Re-point one DHT in an encoded file at a DIFFERENT (fixed-length)
    Huffman table and re-encode the entropy stream accordingly — the
    decoder must follow the file's tables, proving it is not hardwired
    to the encoder's."""
    # 9-bit fixed-length DC table: canonical, valid, nothing like ours
    from cdc_export_system_spark.multimodal import jpeg as J

    lengths = {cat: 9 for cat in range(12)}
    bits, vals = J._make_table(lengths)
    codes = J._canonical_codes(bits, vals)
    # encode a 1x1 GRAY image by hand with the alternate DC table: for
    # r=g=b the luma coefficients sum to 1 and the chroma ones to 0, so
    # the per-component quantized DCs are [dcq_y, 0, 0] and the coded
    # diffs (per-component prediction) are [dcq_y, 0, 0].
    val = 200
    s = val - 128
    dcq_y = int(np.floor(8.0 * s / int(QTABLE[0, 0]) + 0.5))
    wtr = J._BitWriter()
    for diff in (dcq_y, 0, 0):  # Y, Cb, Cr
        sz, bitsv = J._magnitude(diff)
        c, l = codes[sz]
        wtr.put(c, l)
        if sz:
            wtr.put(bitsv, sz)
        ac_code, ac_len = J._AC_CODES[0x00]  # EOB via the normal AC table
        wtr.put(ac_code, ac_len)
    entropy = wtr.flush()
    qz = bytes(int(QTABLE.reshape(64)[J.ZIGZAG][i]) for i in range(64))
    sof = bytes([8]) + (1).to_bytes(2, "big") + (1).to_bytes(2, "big") \
        + bytes([3]) + bytes([1, 0x11, 0]) + bytes([2, 0x11, 0]) \
        + bytes([3, 0x11, 0])
    sos = bytes([3]) + bytes([1, 0x00]) + bytes([2, 0x00]) \
        + bytes([3, 0x00]) + bytes([0, 63, 0])
    payload = (
        b"\xff\xd8"
        + J._seg(0xDB, bytes([0]) + qz)
        + J._seg(0xC0, sof)
        + J._seg(0xC4, J._dht_body(0, 0, bits, vals))  # ALTERNATE DC table
        + J._seg(0xC4, J._dht_body(1, 0, J._AC_BITS, J._AC_VALS))
        + J._seg(0xDA, sos)
        + entropy
        + b"\xff\xd9"
    )
    dec = decode_jpeg(payload)
    expect = np.array(jpeg_constant_roundtrip(val, val, val), dtype=np.uint8)
    assert (dec["raster"][0, 0] == expect).all()


def test_jpeg_unsupported_variants_keep_seam():
    img = np.zeros((8, 8, 3), dtype=np.uint8)
    payload = bytearray(encode_jpeg(8, 8, img.tobytes()))
    # SOF0 -> SOF9 (arithmetic-coded sequential; progressive SOF2 now
    # DECODES — see the progressive pins below — so the SOF seam is
    # arithmetic / lossless / hierarchical variants only)
    i = payload.find(b"\xff\xc0")
    payload[i + 1] = 0xC9
    with pytest.raises(NotImplementedError):
        decode_jpeg(bytes(payload))
    # NON-INTEGER sampling ratio (h factors 3 vs 2): the r10 seam
    # covered ALL subsampling; integer layouts now decode (see
    # test_jpeg_subsampled_*), so only this genuinely odd shape remains
    payload = bytearray(encode_jpeg(8, 8, img.tobytes()))
    i = payload.find(b"\xff\xc0")
    payload[i + 4 + 7] = 0x31  # comp 1 H/V = 3x1
    payload[i + 4 + 10] = 0x21  # comp 2 H/V = 2x1 -> 3 % 2 != 0
    with pytest.raises(NotImplementedError):
        decode_jpeg(bytes(payload))


@pytest.mark.parametrize("mode", ["420", "422"])
def test_jpeg_subsampled_constant_closed_form(mode):
    """Chroma box-averaging is exact on constant planes, so the 4:2:0 /
    4:2:2 roundtrip must land on the SAME closed form as 4:4:4 —
    including odd dims where component planes pad to MCU coverage."""
    for (w, h), (r, g, b) in [
        ((8, 8), (200, 30, 90)),
        ((17, 13), (13, 202, 77)),
        ((33, 9), (255, 0, 128)),
    ]:
        raster = np.full((h, w, 3), (r, g, b), dtype=np.uint8)
        dec = decode_jpeg(encode_jpeg(w, h, raster.tobytes(), subsampling=mode))
        assert (dec["width"], dec["height"]) == (w, h)
        expect = np.array(jpeg_constant_roundtrip(r, g, b), dtype=np.uint8)
        assert (dec["raster"] == expect).all()


def test_jpeg_subsampled_gray_equals_444_exactly():
    """On r=g=b inputs the chroma planes are the constant 128, so
    subsampling loses NOTHING: decode(encode_420) must equal
    decode(encode_444) bit-for-bit (the luma path is identical)."""
    h, w = 21, 37
    v = (np.arange(h * w).reshape(h, w) * 7 % 256).astype(np.uint8)
    img = np.stack([v, v, v], axis=-1)
    d444 = decode_jpeg(encode_jpeg(w, h, img.tobytes(), subsampling="444"))
    d420 = decode_jpeg(encode_jpeg(w, h, img.tobytes(), subsampling="420"))
    assert (d444["raster"] == d420["raster"]).all()


def test_jpeg_subsampled_color_gradient_bounded_and_deterministic():
    """Color gradients DO lose chroma detail under 4:2:0 — the loss
    must be bounded (smooth input: a few quantization steps) and the
    whole pipeline deterministic (same bytes both times)."""
    yy, xx = np.mgrid[0:24, 0:40]
    img = np.stack(
        [(xx * 6) % 256, (yy * 9) % 256, ((xx + yy) * 4) % 256], axis=-1
    ).astype(np.uint8)
    p1 = encode_jpeg(40, 24, img.tobytes(), subsampling="420")
    p2 = encode_jpeg(40, 24, img.tobytes(), subsampling="420")
    assert p1 == p2
    assert len(p1) < len(encode_jpeg(40, 24, img.tobytes()))  # fewer blocks
    dec = decode_jpeg(p1)
    err = np.abs(dec["raster"].astype(int) - img.astype(int)).max()
    assert err <= 16, f"4:2:0 smooth-gradient error {err} out of bounds"


def test_jpeg_restart_interval_roundtrip_and_cycling():
    """DRI/RSTn (the r10 seam's restart leg, closed in r11): a
    restart-interval file must decode IDENTICALLY to its no-restart
    sibling — markers change the entropy framing, never the
    coefficients — including with enough intervals to cycle the marker
    number past RST7, and the DC predictor must genuinely reset (a
    gradient image makes every predictor nonzero, so a missed reset
    shifts whole intervals)."""
    yy, xx = np.mgrid[0:33, 0:47]
    img = np.stack(
        [(xx * 5) % 256, (yy * 3) % 256, (xx + yy) % 256], axis=-1
    ).astype(np.uint8)
    base = decode_jpeg(encode_jpeg(47, 33, img.tobytes()))
    for ri, sub in [(1, "444"), (2, "444"), (7, "444"), (2, "420")]:
        p = encode_jpeg(
            47, 33, img.tobytes(), subsampling=sub, restart_interval=ri
        )
        assert b"\xff\xdd" in p  # DRI present
        n_rst = sum(
            p[i] == 0xFF and 0xD0 <= p[i + 1] <= 0xD7
            for i in range(len(p) - 1)
        )
        if sub == "444":
            # 6x5 = 30 MCUs at 8x8: floor(29/ri) markers (ri=1 -> 29,
            # cycling past RST7 three times)
            assert n_rst == 29 // ri, (ri, n_rst)
            d = decode_jpeg(p)
            assert (d["raster"] == base["raster"]).all(), (ri, sub)
        else:
            assert n_rst >= 1
            decode_jpeg(p)  # 420 sibling: decodes without error


def test_jpeg_restart_marker_out_of_sequence_errors():
    """A wrong RSTn number is stream corruption: the decoder must
    refuse to resync rather than silently mis-place MCUs."""
    img = np.full((24, 8, 3), 100, dtype=np.uint8)
    p = bytearray(encode_jpeg(8, 24, img.tobytes(), restart_interval=1))
    i = p.find(b"\xff\xd0")  # first RST0 -> RST5
    assert i > 0
    p[i + 1] = 0xD5
    with pytest.raises(ValueError, match="restart marker"):
        decode_jpeg(bytes(p))


def test_jpeg_corrupt_payloads_error():
    img = np.zeros((16, 16, 3), dtype=np.uint8)
    good = encode_jpeg(16, 16, img.tobytes())
    with pytest.raises(ValueError):
        decode_jpeg(good[:2])  # SOI only
    with pytest.raises(ValueError):
        decode_jpeg(good[: len(good) // 2])  # truncated mid-stream
    with pytest.raises(ValueError):
        decode_jpeg(b"\x00" + good[1:])  # bad magic


def test_jpeg_dispatches_through_sniff_decode():
    from cdc_export_system_spark.multimodal.codecs import sniff_decode

    img = np.full((9, 5, 3), 77, dtype=np.uint8)
    d = sniff_decode(encode_jpeg(5, 9, img.tobytes()))
    assert d["codec"] == "jpeg" and (d["width"], d["height"]) == (5, 9)


# ---------------------------------------------------------------------------
# Progressive JPEG (SOF2) — the codec seam's largest leg, closed in r11
# ---------------------------------------------------------------------------


def _test_images(rng, n):
    for trial in range(n):
        w, h = int(rng.randint(1, 60)), int(rng.randint(1, 60))
        kind = trial % 3
        if kind == 0:
            img = np.full((h, w, 3), rng.randint(0, 256, 3), dtype=np.uint8)
        elif kind == 1:
            yy, xx = np.mgrid[0:h, 0:w]
            img = np.stack(
                [(xx * 5) % 256, (yy * 3) % 256, (xx + yy) % 256], axis=-1
            ).astype(np.uint8)
        else:
            img = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
        yield w, h, img


def test_jpeg_progressive_equals_sequential_exactly():
    """THE equality pin: both encoders share _quantized_blocks, so a
    progressive file carries bit-identical coefficients to its
    sequential sibling and the decoded rasters must match exactly —
    constant, gradient, and full-noise content, dims crossing MCU
    boundaries. Noise images make every AC band dense (exercising ZRL
    + refinement correction-bit interleave); constant images make
    every AC band empty (exercising maximal EOBRUN carry)."""
    from cdc_export_system_spark.multimodal.jpeg_progressive import (
        encode_jpeg_progressive,
    )

    rng = np.random.RandomState(0)
    for w, h, img in _test_images(rng, 45):
        seq = decode_jpeg(encode_jpeg(w, h, img.tobytes()))
        p = encode_jpeg_progressive(w, h, img.tobytes())
        assert p[:4] == b"\xff\xd8\xff\xe0" and b"\xff\xc2" in p  # SOF2
        prog = decode_jpeg(p)  # sniffed + delegated via the SOF2 marker
        assert (prog["width"], prog["height"]) == (w, h)
        assert (prog["raster"] == seq["raster"]).all(), (w, h)


def test_jpeg_progressive_general_scan_scripts():
    """The decoder must handle ARBITRARY legal scan scripts, not just
    our encoder's default ladder: spectral-band splits (libjpeg's
    default script shape) and a deeper 3-level successive-approximation
    ladder (Al=2 first scans, two refinement passes per band)."""
    from cdc_export_system_spark.multimodal.jpeg_progressive import (
        encode_jpeg_progressive,
    )

    ladder = [
        (None, 0, 0, 0, 2),
        (0, 1, 5, 0, 2), (1, 1, 5, 0, 2), (2, 1, 5, 0, 2),
        (0, 6, 63, 0, 2), (1, 6, 63, 0, 2), (2, 6, 63, 0, 2),
        (None, 0, 0, 1, 1),
        (0, 1, 5, 2, 1), (1, 1, 5, 2, 1), (2, 1, 5, 2, 1),
        (0, 6, 63, 2, 1), (1, 6, 63, 2, 1), (2, 6, 63, 2, 1),
        (None, 0, 0, 1, 0),
        (0, 1, 5, 1, 0), (1, 1, 5, 1, 0), (2, 1, 5, 1, 0),
        (0, 6, 63, 1, 0), (1, 6, 63, 1, 0), (2, 6, 63, 1, 0),
    ]
    split = [
        (None, 0, 0, 0, 0),
        (0, 1, 2, 0, 0), (0, 3, 63, 0, 0),
        (1, 1, 63, 0, 0), (2, 1, 10, 0, 0), (2, 11, 63, 0, 0),
    ]
    rng = np.random.RandomState(7)
    for script in (ladder, split):
        for w, h, img in _test_images(rng, 12):
            seq = decode_jpeg(encode_jpeg(w, h, img.tobytes()))
            prog = decode_jpeg(
                encode_jpeg_progressive(w, h, img.tobytes(), scan_script=script)
            )
            assert (prog["raster"] == seq["raster"]).all(), (w, h, len(script))


def test_jpeg_progressive_deterministic_and_sniffed():
    from cdc_export_system_spark.multimodal.codecs import sniff_decode
    from cdc_export_system_spark.multimodal.jpeg_progressive import (
        encode_jpeg_progressive,
    )

    img = np.full((9, 5, 3), 77, dtype=np.uint8)
    p1 = encode_jpeg_progressive(5, 9, img.tobytes())
    p2 = encode_jpeg_progressive(5, 9, img.tobytes())
    assert p1 == p2  # bit-deterministic encoder
    d = sniff_decode(p1)
    assert d["codec"] == "jpeg_progressive"
    assert (d["width"], d["height"]) == (5, 9)


def test_jpeg12_constant_closed_form():
    """12-bit extended sequential (SOF1): decode(encode(constant)) must
    hit the center-2048 / q00-128 closed form bit-exactly — including
    the s % 16 == 8 floor-boundary colors the einsum DCT's epsilon
    would flip without the exact-DC path (jpeg._quantized_blocks)."""
    from cdc_export_system_spark.multimodal.jpeg import (
        encode_jpeg12,
        jpeg12_constant_roundtrip,
    )

    rng = np.random.RandomState(3)
    cases = [
        (int(rng.randint(1, 40)), int(rng.randint(1, 40)),
         *(int(x) for x in rng.randint(0, 4096, 3)))
        for _ in range(40)
    ]
    # force floor-boundary luma samples (s % 16 == 8 -> 8s/128 ends .5)
    cases += [(9, 9, v, v, v) for v in (8, 24, 2040, 2056, 4088)]
    for w, h, r, g, b in cases:
        img = np.full((h, w, 3), (r, g, b), dtype="<u2")
        p = encode_jpeg12(w, h, img.tobytes())
        assert b"\xff\xc1" in p  # SOF1
        d = decode_jpeg(p)
        assert d["codec"] == "jpeg12" and d["raster"].dtype == np.uint16
        assert (d["width"], d["height"]) == (w, h)
        exp = np.array(jpeg12_constant_roundtrip(r, g, b), dtype=np.uint16)
        assert (d["raster"] == exp).all(), ((r, g, b), exp, d["raster"][0, 0])


def test_jpeg12_gradient_roundtrip_and_errors():
    """Smooth 12-bit content roundtrips with loss bounded by the x16
    quant table (same relative scale as the 8-bit bound), the encoder
    is bit-deterministic, and out-of-range samples / SOF0-with-12-bit
    are rejected."""
    from cdc_export_system_spark.multimodal.jpeg import encode_jpeg12

    h, w = 33, 47
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.stack(
        [(xx * 80) % 4096, (yy * 48) % 4096, ((xx + yy) * 16) % 4096],
        axis=-1,
    ).astype("<u2")
    p1 = encode_jpeg12(w, h, img.tobytes())
    assert p1 == encode_jpeg12(w, h, img.tobytes())
    d = decode_jpeg(p1)
    err = np.abs(d["raster"].astype(int) - img.astype(int))
    assert err.max() <= 12 * 16 and err.mean() < 32.0
    assert len(p1) < w * h * 6 // 4  # compresses 16-bit samples
    with pytest.raises(ValueError, match="0..4095"):
        bad = np.full((8, 8, 3), 4096, dtype="<u2")
        encode_jpeg12(8, 8, bad.tobytes())
    # 12-bit precision inside a baseline SOF0 is malformed
    i = p1.find(b"\xff\xc1")
    mut = bytearray(p1)
    mut[i + 1] = 0xC0
    with pytest.raises(ValueError, match="SOF1"):
        decode_jpeg(bytes(mut))
    # precision other than 8/12 keeps the seam
    mut = bytearray(p1)
    mut[i + 4] = 10
    with pytest.raises(NotImplementedError, match="precision"):
        decode_jpeg(bytes(mut))


def test_jpeg_lossless_roundtrip_all_predictors_and_precisions():
    """SOF3 lossless: decode(encode(x)) == x bit-for-bit for every
    predictor 1..7, precisions 8/12/16, color + grayscale, including
    1-pixel-wide/tall edge shapes (first-row/first-column predictor
    rules dominate there)."""
    from cdc_export_system_spark.multimodal.jpeg_lossless import (
        encode_jpeg_lossless,
    )

    rng = np.random.RandomState(5)
    for trial in range(21):
        w, h = int(rng.randint(1, 48)), int(rng.randint(1, 40))
        if trial % 7 == 5:
            w = 1
        if trial % 7 == 6:
            h = 1
        prec = [8, 12, 16][trial % 3]
        dtype = np.uint8 if prec <= 8 else "<u2"
        img = rng.randint(0, 1 << prec, (h, w, 3)).astype(dtype)
        preds = tuple(1 + (trial + k) % 7 for k in range(3))
        p = encode_jpeg_lossless(
            w, h, img.tobytes(), precision=prec, predictors=preds
        )
        assert b"\xff\xc3" in p  # SOF3
        d = decode_jpeg(p)  # sniffed + delegated
        assert d["codec"] == "jpeg_lossless" and d["precision"] == prec
        assert (d["raster"] == img).all(), (trial, w, h, prec, preds)
    gray = rng.randint(0, 4096, (20, 30, 1)).astype("<u2")
    d = decode_jpeg(
        encode_jpeg_lossless(
            30, 20, gray.tobytes(), precision=12, components=1,
            predictors=(4,),
        )
    )
    assert (d["raster"][:, :, 0] == gray[:, :, 0]).all()
    assert (d["raster"][:, :, 2] == gray[:, :, 0]).all()


def test_jpeg_lossless_seams_and_validation():
    from cdc_export_system_spark.multimodal import jpeg as J
    from cdc_export_system_spark.multimodal.jpeg_lossless import (
        encode_jpeg_lossless,
    )

    img = np.full((8, 8, 3), 100, dtype=np.uint8)
    p = encode_jpeg_lossless(8, 8, img.tobytes())
    # point transform (Al != 0) keeps the seam
    i = p.find(b"\xff\xda")
    mut = bytearray(p)
    # FF DA len2 ns cid tables Ss Se AhAl -> AhAl is at offset 9
    assert mut[i + 9] == 0
    mut[i + 9] = 1
    with pytest.raises(NotImplementedError, match="point transform"):
        decode_jpeg(bytes(mut))
    # restart intervals keep the seam
    dri = J._seg(0xDD, (2).to_bytes(2, "big"))
    with pytest.raises(NotImplementedError, match="restart"):
        decode_jpeg(p[:i] + dri + p[i:])
    # subsampled lossless components keep the seam
    j = p.find(b"\xff\xc3")
    mut = bytearray(p)
    mut[j + 4 + 7] = 0x21  # comp 1 H/V = 2x1
    with pytest.raises(NotImplementedError, match="subsampled"):
        decode_jpeg(bytes(mut))
    # out-of-range samples / bad predictor are rejected at encode
    with pytest.raises(ValueError, match="range"):
        encode_jpeg_lossless(8, 8, img.tobytes(), precision=6)
    with pytest.raises(ValueError, match="predictor"):
        encode_jpeg_lossless(8, 8, img.tobytes(), predictors=(8, 1, 1))
    # truncated payload errors
    with pytest.raises(ValueError):
        decode_jpeg(p[: len(p) // 2])


def test_adpcm_state_lockstep_and_blocks():
    """IMA ADPCM: the decoder must land exactly on the encoder's
    reconstructed predictor at every sample (state lockstep), block
    first-samples must be EXACT (they ride in the 4-byte header), the
    0-padded tail of the final block must advance state without
    emitting frames, and the index must carry across block headers."""
    from cdc_export_system_spark.multimodal.codecs import (
        _adpcm_decode_nibble,
        _adpcm_step,
        decode_wav,
        encode_wav_adpcm,
        sniff_decode,
    )

    rng = np.random.RandomState(9)
    for trial in range(18):
        n = int(rng.randint(1, 300))
        s = rng.randint(-32768, 32768, n).astype(np.int16)
        ba = [8, 12, 256][trial % 3]
        d = decode_wav(encode_wav_adpcm(8000, s, block_align=ba))
        assert d["encoding"] == "ima_adpcm" and d["n_frames"] == n
        dec = d["samples"].reshape(-1)
        spb = (ba - 4) * 2 + 1
        assert (dec[::spb] == s[::spb]).all()  # header samples exact
        exp, index = [], 0
        for b0 in range(0, n, spb):
            pred = int(s[b0])
            exp.append(pred)
            for v in s[b0 + 1 : b0 + spb]:
                _nib, pred, index = _adpcm_step(pred, index, int(v))
                exp.append(pred)
            for _ in range(len(s[b0 + 1 : b0 + spb]), (ba - 4) * 2):
                pred, index = _adpcm_decode_nibble(pred, index, 0)
        assert (dec == np.array(exp[:n], dtype=np.int16)).all(), trial
    # smooth content tracks closely (the codec is actually predictive)
    t = np.arange(500)
    s = (3000 * np.sin(t / 20)).astype(np.int16)
    d = decode_wav(encode_wav_adpcm(8000, s))
    err = np.abs(d["samples"].reshape(-1).astype(int) - s.astype(int))
    assert err.mean() < 100
    assert sniff_decode(encode_wav_adpcm(8000, s))["encoding"] == "ima_adpcm"


def test_adpcm_validation_errors():
    from cdc_export_system_spark.multimodal.codecs import (
        decode_wav,
        encode_wav_adpcm,
    )

    s = np.arange(-50, 50, dtype=np.int16)
    with pytest.raises(ValueError, match="block_align"):
        encode_wav_adpcm(8000, s, block_align=10)
    p = encode_wav_adpcm(8000, s, block_align=12)
    # corrupt step index in the first block header
    i = p.find(b"data") + 8
    mut = bytearray(p)
    mut[i + 2] = 89
    with pytest.raises(ValueError, match="step index"):
        decode_wav(bytes(mut))
    # truncated final block
    with pytest.raises(ValueError):
        decode_wav(p[:-3])


def test_jpeg_progressive_restart_seam_and_corruption():
    """Restart intervals INSIDE progressive scans keep an injectable
    NotImplementedError seam (our encoder never emits them); truncated
    progressive payloads must error, not return a partial raster."""
    from cdc_export_system_spark.multimodal import jpeg as J
    from cdc_export_system_spark.multimodal.jpeg_progressive import (
        encode_jpeg_progressive,
    )

    img = np.full((16, 16, 3), 50, dtype=np.uint8)
    p = encode_jpeg_progressive(16, 16, img.tobytes())
    # splice a DRI segment in front of the first SOS
    i = p.find(b"\xff\xda")
    dri = J._seg(0xDD, (2).to_bytes(2, "big"))
    with pytest.raises(NotImplementedError, match="restart"):
        decode_jpeg(p[:i] + dri + p[i:])
    with pytest.raises(ValueError):
        decode_jpeg(p[: len(p) // 3])  # truncated mid-scan


# ---------------------------------------------------------------------------
# LTTB DECIMAL promotion at the old int64 death point
# ---------------------------------------------------------------------------


def test_lttb_exact_survives_hot_user_beyond_int64(spark, tmp_path):
    """600 events spanning ~9 years with |value| ~ 1e14: the pre-r9
    BIGINT score terms (k*span_x*span_y ~ 1e9*3e8*1e16) overflow int64
    by orders of magnitude; the DECIMAL(38,0)/HUGEINT forms must agree
    across engines bit-exactly."""
    n = 600
    rng = np.random.RandomState(42)
    ts = pd.to_datetime(1_500_000_000 + np.sort(
        rng.choice(np.arange(0, 280_000_000, 7, dtype=np.int64), n, False)
    ), unit="s")
    pdf = pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts,
        "user_id": np.int64(7),
        "event_type": "view",
        "value": rng.uniform(-1e14, 1e14, n),
        "props": "{}",
    })
    # the oracle reads all events columns; keep the full schema
    path = str(tmp_path / "events.parquet")
    pdf.to_parquet(path)
    reg = load_all()
    sdf = reg["ts_downsample_lttb_exact"].fn(spark, str(tmp_path))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')"
    )
    r = compare(sdf, con, reg["ts_downsample_lttb_exact"].oracle)
    assert r["match"], r["detail"]
