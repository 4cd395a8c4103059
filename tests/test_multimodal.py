"""Multimodal binary-operator pins: the codec-injection seams and the
fan-out/fan-in contracts that the oracle parity suite can't see (it only
checks the default deterministic codecs)."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from cdc_export_system_spark.io.sources import load_table
from cdc_export_system_spark.multimodal.binary_ops import (
    FRAME_BYTES,
    FRAME_STRIDE,
    decode_media,
    fake_decoder,
    resize_media,
    sample_frames,
)
from cdc_export_system_spark.multimodal.jpeg import (
    QTABLE,
    decode_jpeg,
    encode_jpeg,
    jpeg_constant_roundtrip,
)
from tests.conftest import SF_DIR


def _payload_docs(spark, n=20):
    return (
        load_table(spark, SF_DIR, "documents")
        .limit(n)
        .select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    )


def test_decode_media_default_raises(spark):
    # no codec libs in this container: the default decoder must fail loudly,
    # not silently fabricate media properties
    df = decode_media(_payload_docs(spark, 2))
    with pytest.raises(Exception, match="NotImplementedError|codec not available"):
        df.collect()


def test_decode_media_injected_codec(spark):
    rows = decode_media(_payload_docs(spark, 10), decoder=fake_decoder).collect()
    assert len(rows) == 10
    for r in rows:
        assert 64 <= r["width"] < 256 and 64 <= r["height"] < 256
        assert 1 <= r["n_frames"] <= 8


def test_resize_media_aspect_fit_and_injected_resizer(spark):
    docs = _payload_docs(spark, 30).select(
        "doc_id",
        "payload",
        (F.lit(64) + (F.length("payload") * 7) % 192).cast("int").alias("in_w"),
        (F.lit(64) + (F.col("doc_id") * 13) % 192).cast("int").alias("in_h"),
    )
    payload_len = {
        r["doc_id"]: r["n"]
        for r in docs.select("doc_id", F.length("payload").alias("n")).collect()
    }
    seen = resize_media(docs, resizer=lambda p, iw, ih, ow, oh: p[: ow + oh]).collect()
    assert len(seen) == 30
    for r in seen:
        # aspect fit: long side pinned to the box, short side scaled down
        assert max(r["out_w"], r["out_h"]) == 224
        assert r["out_w"] <= 224 and r["out_h"] <= 224
        # scaled side preserves the aspect ratio within integer truncation
        if r["in_w"] >= r["in_h"]:
            assert r["out_h"] == r["in_h"] * 224 // r["in_w"]
        else:
            assert r["out_w"] == r["in_w"] * 224 // r["in_h"]
        # the injected resizer's output size is observed, not the fake's
        assert r["out_bytes"] == min(r["out_w"] + r["out_h"], payload_len[r["doc_id"]])


def test_frame_sample_fanout_matches_python(spark):
    rows = (
        _payload_docs(spark, 15)
        .mapInPandas(sample_frames, "doc_id long, frame_idx int, frame_bytes int, frame_md5 string")
        .collect()
    )
    texts = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, SF_DIR, "documents").limit(15).collect()
    }
    expected = {}
    for doc_id, text in texts.items():
        b = text.encode()
        n = (len(b) + FRAME_BYTES - 1) // FRAME_BYTES
        for i in range(0, n, FRAME_STRIDE):
            frame = b[i * FRAME_BYTES : (i + 1) * FRAME_BYTES]
            expected[(doc_id, i)] = (len(frame), hashlib.md5(frame).hexdigest())
    got = {(r["doc_id"], r["frame_idx"]): (r["frame_bytes"], r["frame_md5"]) for r in rows}
    assert got == expected


# ---------------------------------------------------------------------------
# G.711 companding (the compressed-audio codec leg, closed in r11)
# ---------------------------------------------------------------------------


def test_g711_roundtrip_matches_closed_form_exhaustively():
    """decode(encode(x)) must equal the closed-form mirrors over the
    ENTIRE int16 domain for both laws — the property the SQL oracle of
    multimodal_audio_g711_stats replicates segment-by-segment."""
    import numpy as np

    from cdc_export_system_spark.multimodal.codecs import (
        g711_alaw_decode,
        g711_alaw_encode,
        g711_mulaw_decode,
        g711_mulaw_encode,
        g711_roundtrip_alaw,
        g711_roundtrip_mulaw,
    )

    x = np.arange(-32768, 32768, dtype=np.int16)
    mu = g711_mulaw_decode(g711_mulaw_encode(x)).astype(np.int64)
    al = g711_alaw_decode(g711_alaw_encode(x)).astype(np.int64)
    exp_mu = np.array(
        [g711_roundtrip_mulaw(abs(int(v))) * (1 if v >= 0 else -1) for v in x]
    )
    exp_al = np.array([g711_roundtrip_alaw(int(v)) for v in x])
    assert np.array_equal(mu, exp_mu)
    assert np.array_equal(al, exp_al)
    # companders are idempotent on their own output (quantizer fixed points)
    assert np.array_equal(g711_mulaw_decode(g711_mulaw_encode(mu.astype(np.int16))), mu)
    assert np.array_equal(g711_alaw_decode(g711_alaw_encode(al.astype(np.int16))), al)


def test_g711_known_anchor_bytes():
    """Spot anchors every conformant G.711 implementation shares:
    mu-law encodes 0 -> 0xFF and decodes 0xFF -> 0; A-law's smallest
    positive cell decodes to +8; max-magnitude cells decode to 32124
    (mu) / 32256 (A)."""
    import numpy as np

    from cdc_export_system_spark.multimodal.codecs import (
        g711_alaw_decode,
        g711_mulaw_decode,
        g711_mulaw_encode,
    )

    assert int(g711_mulaw_encode(np.array([0], dtype=np.int16))[0]) == 0xFF
    assert int(g711_mulaw_decode(np.array([0xFF], dtype=np.uint8))[0]) == 0
    # mu byte 0x80 = max positive cell; A byte 0xAA (0xFF^0x55) likewise
    assert int(g711_mulaw_decode(np.array([0x80], dtype=np.uint8))[0]) == 32124
    assert int(g711_alaw_decode(np.array([0xAA], dtype=np.uint8))[0]) == 32256
    # A-law: aval 0x80 (sign|seg0|q0) ^ 0x55 = 0xD5 decodes to +8
    assert int(g711_alaw_decode(np.array([0xD5], dtype=np.uint8))[0]) == 8


def test_g711_wav_container_roundtrip_and_unknown_tag_seam():
    """The WAV chunk walk must dispatch tags 6/7 to the expanders (58+n
    closed-form size) and keep the NotImplementedError seam for tags it
    has no decoder for (e.g. IMA ADPCM 0x11)."""
    import numpy as np
    import pytest as _pytest

    from cdc_export_system_spark.multimodal.codecs import (
        decode_wav,
        encode_wav_g711,
        g711_alaw_decode,
        g711_alaw_encode,
        g711_mulaw_decode,
        g711_mulaw_encode,
    )

    s = np.array([700, -700, 12345, -12345, 0, 31000], dtype=np.int16)
    for law, enc, dec in (
        ("mulaw", g711_mulaw_encode, g711_mulaw_decode),
        ("alaw", g711_alaw_encode, g711_alaw_decode),
    ):
        p = encode_wav_g711(8000, s, law=law)
        assert len(p) == 58 + len(s)
        d = decode_wav(p)
        assert d["encoding"] == law and d["n_frames"] == len(s)
        assert np.array_equal(d["samples"].reshape(-1), dec(enc(s)))
    # unknown compressed tag keeps the injectable seam
    p = bytearray(encode_wav_g711(8000, s, law="mulaw"))
    p[20] = 0x11  # fmt tag -> IMA ADPCM
    with _pytest.raises(NotImplementedError):
        decode_wav(bytes(p))


# ---------------------------------------------------------------------------
# JPEG container (multimodal/jpeg.py); the codec's round-9 pins live in
# tests/test_round9_semantics.py
# ---------------------------------------------------------------------------


def _separate_scan_jpeg(w, h, img, subsampling, drop_last_scan=False):
    """encode_jpeg's frame with each component coded in its OWN
    one-component SOS (T.81 A.2.2, legal in any sequential frame): the
    component's true block grid in raster order, one DC predictor per
    scan."""
    from cdc_export_system_spark.multimodal import jpeg as J

    factors = J._SUBSAMPLING[subsampling]
    blocks, _mcux, _mcuy = J._quantized_blocks(w, h, img.tobytes(), factors)
    hmax = max(f[0] for f in factors)
    vmax = max(f[1] for f in factors)
    qz = bytes(int(QTABLE.reshape(64)[J.ZIGZAG][i]) for i in range(64))
    sof = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") + bytes([3])
    for cid, (hi, vi) in enumerate(factors, 1):
        sof += bytes([cid, hi * 16 + vi, 0])
    out = (
        b"\xff\xd8"
        + J._seg(0xDB, bytes([0]) + qz)
        + J._seg(0xC0, sof)
        + J._seg(0xC4, J._dht_body(0, 0, J._DC_BITS, J._DC_VALS))
        + J._seg(0xC4, J._dht_body(1, 0, J._AC_BITS, J._AC_VALS))
    )
    for c, (hi, vi) in enumerate(factors[: 2 if drop_last_scan else 3]):
        ch, cw = -(-h * vi // vmax), -(-w * hi // hmax)  # true extent
        wtr = J._BitWriter()
        pred = 0
        for r in range(-(-ch // 8)):
            for col in range(-(-cw // 8)):
                pred = J._encode_block(
                    wtr, blocks[c][r, col].reshape(64)[J.ZIGZAG], pred,
                    J._DC_CODES, J._AC_CODES,
                )
        out += J._seg(0xDA, bytes([1, c + 1, 0x00, 0, 63, 0])) + wtr.flush()
    return out + b"\xff\xd9"


@pytest.mark.parametrize("subsampling", ["444", "420"])
def test_jpeg_sequential_frame_with_one_scan_per_component(subsampling):
    """A sequential frame may code its components in separate
    non-interleaved scans; every scan must land in the raster, which
    then equals the interleaved file's. Dims cross MCU boundaries, so
    a one-component scan's true block grid is smaller than the MCU-
    padded one."""
    yy, xx = np.mgrid[0:13, 0:19]
    images = [
        np.full((8, 16, 3), (200, 30, 90), dtype=np.uint8),
        np.stack(
            [(xx * 9) % 256, (yy * 13) % 256, (xx + yy) * 4 % 256], axis=-1
        ).astype(np.uint8),
        np.random.RandomState(4).randint(0, 256, (21, 35, 3)).astype(np.uint8),
    ]
    for img in images:
        h, w = img.shape[:2]
        sep = decode_jpeg(_separate_scan_jpeg(w, h, img, subsampling))
        ref = decode_jpeg(encode_jpeg(w, h, img.tobytes(), subsampling))
        assert sep["codec"] == "jpeg" and (sep["width"], sep["height"]) == (w, h)
        assert (sep["raster"] == ref["raster"]).all(), (w, h)
    expect = np.array(jpeg_constant_roundtrip(200, 30, 90), dtype=np.uint8)
    const = decode_jpeg(_separate_scan_jpeg(16, 8, images[0], subsampling))
    assert (const["raster"] == expect).all()


def test_jpeg_scans_missing_a_component_error():
    """A frame whose scans never cover a declared component must fail
    naming it, not decode the scanned planes as something else."""
    img = np.full((8, 16, 3), (200, 30, 90), dtype=np.uint8)
    with pytest.raises(ValueError, match="component 3"):
        decode_jpeg(_separate_scan_jpeg(16, 8, img, "444", drop_last_scan=True))


def test_jpeg_gray_frame_declaring_2x2_sampling_reads_block_raster_order():
    """A one-component frame's only scan is non-interleaved whatever
    sampling factors its SOF declares (T.81 A.2.2): one block per MCU in
    raster order, so a 2x2 declaration decodes like a 1x1 one."""
    from cdc_export_system_spark.multimodal import jpeg as J

    w, h = 37, 21
    img = np.random.RandomState(1).randint(0, 256, (h, w, 3)).astype(np.uint8)
    blocks, _mcux, _mcuy = J._quantized_blocks(
        w, h, img.tobytes(), J._SUBSAMPLING["444"]
    )
    qz = bytes(int(QTABLE.reshape(64)[J.ZIGZAG][i]) for i in range(64))
    wtr = J._BitWriter()
    pred = 0
    for r in range(-(-h // 8)):
        for c in range(-(-w // 8)):
            pred = J._encode_block(
                wtr, blocks[0][r, c].reshape(64)[J.ZIGZAG], pred,
                J._DC_CODES, J._AC_CODES,
            )
    entropy = wtr.flush()

    def gray(hv):
        sof = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") \
            + bytes([1, 1, hv, 0])
        return (
            b"\xff\xd8"
            + J._seg(0xDB, bytes([0]) + qz)
            + J._seg(0xC0, sof)
            + J._seg(0xC4, J._dht_body(0, 0, J._DC_BITS, J._DC_VALS))
            + J._seg(0xC4, J._dht_body(1, 0, J._AC_BITS, J._AC_VALS))
            + J._seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
            + entropy
            + b"\xff\xd9"
        )

    one = decode_jpeg(gray(0x11))["raster"]
    assert (decode_jpeg(gray(0x22))["raster"] == one).all()


# sha256 of every encoder's bytes on three fixed images (dims not
# multiples of 8): a refactor of the codec must not move a single byte
_ENCODER_SHA256 = {
    ("seq444", "constant"): "f96b28fe6ee665f7f9f427b9d8d7926f9ba0600370ec60347170db6d76b17e76",
    ("seq420", "constant"): "509d82063e1d50890c72e9b9ecc9eb18951edb52d99d954c5564926f260f6855",
    ("seq444_rst2", "constant"): "65a151c0f0f6fdf5574ca5506248066c15d091d4ab70adca76e3cdd75ede25bc",
    ("jpeg12", "constant"): "c9a5e05fb2fedeec30cd5686eaab594815b6a1a7a768b9423e00ce66a462e4e5",
    ("progressive", "constant"): "d0eede77214a78d6974d6e4abea2d4c0886189b05e7d135d24c0d1ad98f5b20f",
    ("lossless", "constant"): "b445081150e732d7da71d3e472e5ccffcc45c2534e4425413d426ce8191770ca",
    ("seq444", "gradient"): "12e668aea298dcaf3a1fc3d5089418a4dcb52087bf3d1a99b8b6e64123688348",
    ("seq420", "gradient"): "0181144b6eeea0efe8db1c163114e8ef0eb4bd04891d435436d0967846400c84",
    ("seq444_rst2", "gradient"): "675a68bf8a96e9a8a6ccb8a9e7e12da806d388ba7c8de554f4fe53d613f720bd",
    ("jpeg12", "gradient"): "ac4748e1ea87a760ae31a4b0be3b5436c362c3e51129ea24930fcd35f02b66ea",
    ("progressive", "gradient"): "d1e22d70f2687677e5a467be63d362655e51ce55ec3b7e2139a071a8aec00e18",
    ("lossless", "gradient"): "46cd20690c8153c8794777a745116fe172776a3386ec0ebf29021f1df28dcc75",
    ("seq444", "noise"): "e5f124cde3c20200248b5b29336315f8bc1fb2240460c27d77e8ebf5bfb8d029",
    ("seq420", "noise"): "0e6d60f8430fb691ef1483df17b178db4574ce7f9b0b556cf875c3c4f9093223",
    ("seq444_rst2", "noise"): "ea2b88c5d59198b522d47b937609f89da15dcc154f2544793756d1e4b9a1de10",
    ("jpeg12", "noise"): "631f5c631ad474f20bbc8d8dd3c7d5b70302da279556eafe77e25f2729d929a6",
    ("progressive", "noise"): "c80c84b944e048d45432dc84bcbfc921cdbe6f3ccd5cc99fa579349526defd33",
    ("lossless", "noise"): "991bb074be785adf19b6a8af36ab369aabf46d420763a5e1e0ed4e1c748279a0",
}


def test_jpeg_encoder_bytes_pinned():
    from cdc_export_system_spark.multimodal.jpeg import encode_jpeg12
    from cdc_export_system_spark.multimodal.jpeg_lossless import (
        encode_jpeg_lossless,
    )
    from cdc_export_system_spark.multimodal.jpeg_progressive import (
        encode_jpeg_progressive,
    )

    yy, xx = np.mgrid[0:13, 0:19]
    images = {
        "constant": np.full((11, 13, 3), (200, 30, 90), dtype=np.uint8),
        "gradient": np.stack(
            [(xx * 9) % 256, (yy * 13) % 256, (xx + yy) * 4 % 256], axis=-1
        ).astype(np.uint8),
        "noise": np.random.RandomState(11)
        .randint(0, 256, (9, 21, 3))
        .astype(np.uint8),
    }
    encoders = {
        "seq444": lambda w, h, img: encode_jpeg(w, h, img.tobytes()),
        "seq420": lambda w, h, img: encode_jpeg(w, h, img.tobytes(), "420"),
        "seq444_rst2": lambda w, h, img: encode_jpeg(
            w, h, img.tobytes(), restart_interval=2
        ),
        "jpeg12": lambda w, h, img: encode_jpeg12(
            w, h, (img.astype("<u2") * 16 + img % 16).tobytes()
        ),
        "progressive": lambda w, h, img: encode_jpeg_progressive(
            w, h, img.tobytes()
        ),
        "lossless": lambda w, h, img: encode_jpeg_lossless(w, h, img.tobytes()),
    }
    got = {
        (enc, name): hashlib.sha256(f(img.shape[1], img.shape[0], img)).hexdigest()
        for name, img in images.items()
        for enc, f in encoders.items()
    }
    assert got == _ENCODER_SHA256
