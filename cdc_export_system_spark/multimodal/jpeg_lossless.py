"""Lossless JPEG (ITU-T T.81 SOF3, Annex H) — predictive, Huffman.

Closes the LOSSLESS leg of the codec seam. Lossless JPEG is not a
curiosity: it is the compression inside DNG raw camera files and
DICOM's "JPEG Lossless (Process 14)" transfer syntax, so raw-photo
and medical corpora in a 100 TB crawl carry exactly these streams.

* ``encode_jpeg_lossless`` — any precision 2..16 (uint8 raster for
  <=8, little-endian uint16 above), 3-component RGB (no color
  transform — lossless JPEG codes components independently and DNG
  stores camera RGB this way) or 1-component grayscale. One scan per
  component, each with its own predictor Ss in 1..7 (T.81 H.1.2.1:
  Ra, Rb, Rc, Ra+Rb-Rc, Ra+(Rb-Rc)>>1, Rb+(Ra-Rc)>>1, (Ra+Rb)>>1),
  first sample predicted at 2^(P-1), first row from Ra, first column
  from Rb. Differences reduce mod 2^16 into [-32768, 32767] and code
  as DC-style SSSS categories 0..16 (category 16 carries no appended
  bits and means 32768 — the T.81 H.1.2.2 special case). Because
  reconstruction is exact, the prediction inputs equal the source
  samples and the whole predictor/difference pass VECTORIZES in
  numpy; only the bit-serial Huffman write is a Python loop.
* ``_decode_scan`` — what ``jpeg.decode_jpeg`` runs for each SOS of an
  SOF3 frame (the container, SOF and DHT parsing belong to ``jpeg``):
  any precision 2..16, interleaved or per-component scans (all
  sampling factors 1x1 — subsampling is meaningless for lossless
  RGB), per-scan predictor, mod-2^16 reconstruction. Point transforms
  (Al != 0) and restart intervals keep an injectable
  ``NotImplementedError`` seam.

Exactness contract: decode(encode(x)) == x bit-for-bit for EVERY
input — the strongest oracle in the codec family. The driver query
``multimodal_jpeg_lossless_stats`` leans on it with linear-gradient
images whose channel sums have integer closed forms in SQL.

Scale: row-local inside mapInPandas batches; the query fans the
single-file documents scan out to cluster parallelism first
(io.sources.fan_out) because per-row CPU dominates the scan.
"""

from __future__ import annotations

import numpy as np

from cdc_export_system_spark.multimodal.jpeg import (
    _BitWriter,
    _DC12_LENGTHS,
    _extend,
    _frame_header,
    _huff_decode,
    _huffman,
    _magnitude,
    _sos,
)

# difference categories 0..16 (T.81 H.1.2.2; 16 = the no-bits 32768)
_LL_BITS, _LL_VALS, _LL_CODES = _huffman({**_DC12_LENGTHS, 16: 16})

# T.81 Table H.1 predictors over Ra (left), Rb (above), Rc (above-left);
# the same expressions serve numpy grids (encoder) and samples (decoder)
_PREDICTORS = {
    1: lambda a, b, c: a,
    2: lambda a, b, c: b,
    3: lambda a, b, c: c,
    4: lambda a, b, c: a + b - c,
    5: lambda a, b, c: a + ((b - c) >> 1),
    6: lambda a, b, c: b + ((a - c) >> 1),
    7: lambda a, b, c: (a + b) >> 1,
}


def _predictions(s: np.ndarray, predictor: int, precision: int) -> np.ndarray:
    """Vectorized T.81 H.1.2.1 prediction grid for one component.
    Valid for ENCODING (and for checking) because lossless
    reconstruction makes the neighbor context equal the source."""
    h, w = s.shape
    a = np.zeros_like(s)  # Ra: left
    b = np.zeros_like(s)  # Rb: above
    c = np.zeros_like(s)  # Rc: above-left
    a[:, 1:] = s[:, :-1]
    b[1:, :] = s[:-1, :]
    c[1:, 1:] = s[:-1, :-1]
    if predictor not in _PREDICTORS:
        raise ValueError(f"predictor must be 1..7, got {predictor}")
    pred = np.array(_PREDICTORS[predictor](a, b, c))
    pred[0, 1:] = a[0, 1:]  # first row: Ra regardless of predictor
    if h > 1:
        pred[1:, 0] = b[1:, 0]  # first column: Rb
    pred[0, 0] = 1 << (precision - 1)
    return pred


def encode_jpeg_lossless(
    width: int,
    height: int,
    raster: bytes,
    precision: int = 8,
    predictors: tuple[int, ...] = (4, 5, 7),
    components: int = 3,
) -> bytes:
    """Lossless JFIF-style stream (SOF3) from a raw raster: uint8
    samples for precision <= 8, little-endian uint16 otherwise,
    h*w*components values row-major. One scan per component, scan i
    using ``predictors[i]``."""
    if not 2 <= precision <= 16:
        raise ValueError("precision must be 2..16")
    if len(predictors) != components:
        raise ValueError("one predictor per component")
    dtype = np.uint8 if precision <= 8 else "<u2"
    img = np.frombuffer(raster, dtype=dtype, count=height * width * components)
    img = img.reshape(height, width, components).astype(np.int64)
    if int(img.max(initial=0)) >= 1 << precision:
        raise ValueError(f"samples exceed {precision}-bit range")

    chunks = []
    for ci in range(components):
        s = img[:, :, ci]
        pred = _predictions(s, predictors[ci], precision)
        diff = ((s - pred + 32768) % 65536) - 32768  # mod 2^16, signed
        w = _BitWriter()
        for v in diff.reshape(-1):
            v = int(v)
            if v == -32768:  # category 16: no appended bits (H.1.2.2)
                code, length = _LL_CODES[16]
                w.put(code, length)
                continue
            size, bits = _magnitude(v)
            code, length = _LL_CODES[size]
            w.put(code, length)
            if size:
                w.put(bits, size)
        chunks.append(_sos((ci + 1,), predictors[ci], 0, 0) + w.flush())
    return (
        _frame_header(  # SOF3: lossless sequential (no DQT at all)
            0xC3, precision, width, height, [(1, 1)] * components,
            [(0, 0, _LL_BITS, _LL_VALS)],
        )
        + b"".join(chunks)
        + b"\xff\xd9"
    )


def _decode_scan(reader, frame, scan, htables, predictor, pt) -> None:
    """One SOS of an SOF3 frame (T.81 H.2): per-sample differences
    against the scan's predictor, reconstructed mod 2^16 into the
    frame's sample planes."""
    if pt != 0:
        raise NotImplementedError("lossless point transform")
    if predictor not in _PREDICTORS:
        raise ValueError(f"invalid predictor {predictor}")
    predict = _PREDICTORS[predictor]
    comps = [(frame.planes[ci], htables[(0, td)]) for ci, td, _ta in scan]
    half = 1 << (frame.precision - 1)
    for y in range(frame.height):
        for x in range(frame.width):
            for p, table in comps:
                if y == 0 and x == 0:
                    pr = half
                elif y == 0:
                    pr = p[0, x - 1]
                elif x == 0:
                    pr = p[y - 1, 0]
                else:
                    pr = predict(p[y, x - 1], p[y - 1, x], p[y - 1, x - 1])
                ssss = _huff_decode(reader, table)
                if ssss == 16:
                    diff = 32768
                else:
                    diff = _extend(reader.bits(ssss), ssss)
                p[y, x] = (pr + diff) % 65536
