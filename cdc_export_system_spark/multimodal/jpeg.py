"""JPEG (ITU-T T.81) codec in pure Python + numpy — the one owner of
the JPEG container for every frame type the engine reads or writes.

* Encoders. ``encode_jpeg`` writes baseline SOF0 (8-bit YCbCr at
  4:4:4, 4:2:2 or 4:2:0: box-average chroma downsampling, T.81
  sampling factors, hi*vi blocks per component per MCU, optional
  DRI/RSTn restart intervals); ``encode_jpeg12`` writes extended
  sequential SOF1 (12-bit 4:4:4, the x16 quant table in a Pq=1 DQT,
  DC categories to 15 and AC sizes to 14 per T.81 F.1.2); the
  progressive SOF2 and lossless SOF3 encoders live in
  ``jpeg_progressive`` and ``jpeg_lossless``. Every DCT encoder
  quantizes through ``_quantized_blocks`` (float DCT-II on 8x8
  blocks), so all of them emit IDENTICAL coefficients for one image;
  every encoder writes SOI..DRI through ``_frame_header`` and each
  scan header through ``_sos``. Huffman tables are CANONICAL, built
  in code and CARRIED IN THE FILE's DHT segments, so any compliant
  decoder reads our files and the tables need not match Annex K.
* Decoder. ``decode_jpeg`` walks the markers once (DQT with 8- or
  16-bit entries, DHT rebuilt by the T.81 F.2.2.3 mincode/maxcode/
  valptr construction so any embedded tables decode, DRI, SOF, SOS)
  and the SOF marker picks the scan decoder: sequential here
  (SOF0/SOF1, any number of scans, interleaved or one component per
  scan, restart intervals resynchronized at every RSTn), progressive
  DC/AC-first/AC-refine (``jpeg_progressive``, SOF2) or lossless
  prediction (``jpeg_lossless``, SOF3). DCT frames collect zigzag
  coefficients per component across all scans and are rebuilt once
  at EOI: dequantize, IDCT, crop, nearest-neighbor upsample (any
  integer sampling layout), then YCbCr->RGB or gray. A frame whose
  scans never cover a declared component is an error, not a gray
  image. Arithmetic coding, hierarchical frames, non-integer
  sampling ratios, other precisions, restart intervals inside
  progressive or lossless scans and lossless point transforms keep
  the injectable ``NotImplementedError`` seam.

Exactness contract: JPEG is lossy, but the LOSS IS DETERMINISTIC — and
for constant-color inputs every block quantizes to a DC-only spectrum,
so the decoded value has the closed form

    y'  = clip(round(round(8 * (y - 128) / q00) * q00 / 8) + 128)

per channel, which is expressible in DuckDB SQL. That closed form is
the oracle behind ``multimodal_jpeg_stats``: the full encode ->
entropy-code -> parse -> Huffman-decode -> IDCT pipeline must land on
it bit-exactly for every row. The 12-bit form is the same with center
2048 and q00 = 128 (``jpeg12_constant_roundtrip``, the oracle behind
``multimodal_jpeg12_stats``).

Scale: like the other codecs, this runs row-locally inside mapInPandas
batches; the DCT is one (64x64) @ (64xN) numpy matmul per image's
block set, and payload bytes never shuffle.
"""

from __future__ import annotations

import numpy as np

# ---------------------------------------------------------------------------
# constants
# ---------------------------------------------------------------------------

# quality-75-like luminance table (also used for chroma: 4:4:4 keeps the
# codec simple and the closed-form oracle single-table)
QTABLE = np.array(
    [
        [8, 6, 5, 8, 12, 20, 26, 31],
        [6, 6, 7, 10, 13, 29, 30, 28],
        [7, 7, 8, 12, 20, 29, 35, 28],
        [7, 9, 11, 15, 26, 44, 40, 31],
        [9, 11, 19, 28, 34, 55, 52, 39],
        [12, 18, 28, 32, 41, 52, 57, 46],
        [25, 32, 39, 44, 52, 61, 60, 51],
        [36, 46, 48, 49, 56, 50, 52, 50],
    ],
    dtype=np.int64,
)

# 12-bit quantization table: the 8-bit table scaled x16 keeps the same
# relative masking curve while forcing Pq=1 (entries up to 976 > 255)
QTABLE12 = QTABLE * 16

ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# orthonormal 8-point DCT-II matrix
_C = np.zeros((8, 8))
for _k in range(8):
    for _n in range(8):
        _a = np.sqrt(0.5) if _k == 0 else 1.0
        _C[_k, _n] = 0.5 * _a * np.cos((2 * _n + 1) * _k * np.pi / 16.0)


def _dct2(blocks: np.ndarray) -> np.ndarray:
    """(n, 8, 8) spatial -> frequency."""
    return np.einsum("ij,njk,lk->nil", _C, blocks, _C)


def _idct2(blocks: np.ndarray) -> np.ndarray:
    """(n, 8, 8) frequency -> spatial."""
    return np.einsum("ji,njk,kl->nil", _C, blocks, _C)


# ---------------------------------------------------------------------------
# canonical Huffman tables (ours, for encoding; files always carry theirs)
# ---------------------------------------------------------------------------


def _canonical_codes(bits: list[int], values: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) per the T.81 Annex C canonical order."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[values[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _make_table(lengths: dict[int, int]) -> tuple[list[int], list[int]]:
    """(BITS, HUFFVAL) from symbol -> code length, canonical order.
    Asserts the Kraft sum leaves the all-ones code unassigned (T.81
    reserves it)."""
    bits = [0] * 16
    values: list[int] = []
    for sym in sorted(lengths, key=lambda x: (lengths[x], x)):
        bits[lengths[sym] - 1] += 1
        values.append(sym)
    kraft = sum(n * 2.0 ** -(i + 1) for i, n in enumerate(bits))
    assert kraft < 1.0, "table would assign the reserved all-ones code"
    return bits, values


def _huffman(lengths: dict[int, int]):
    """(BITS, HUFFVAL, symbol -> (code, length)) for one table."""
    bits, values = _make_table(lengths)
    return bits, values, _canonical_codes(bits, values)


# DC: categories 0..11
_DC_LENGTHS = {0: 2, 1: 2, 2: 3, 3: 3, 4: 3, 5: 4, 6: 5, 7: 6, 8: 7,
               9: 8, 10: 9, 11: 10}
# AC: (run, size) packed as run*16+size, plus EOB (0x00) and ZRL (0xF0)
_AC_LENGTHS = {0x00: 3, 0x01: 3, 0x02: 3, 0x03: 4, 0x04: 4, 0x05: 5,
               0x06: 6, 0xF0: 7}
for _run in range(16):
    for _size in range(1, 11):
        _AC_LENGTHS.setdefault(_run * 16 + _size, 11)

# 12-bit symbol ranges (T.81 F.1.2): DC categories 0..15, AC sizes
# 1..14 — the 8-bit lengths extended with long codes for the rare wide
# symbols (Kraft-checked by _make_table)
_DC12_LENGTHS = {**_DC_LENGTHS, 12: 12, 13: 13, 14: 14, 15: 15}
_AC12_LENGTHS = dict(_AC_LENGTHS)
for _run in range(16):
    for _size in range(1, 15):
        _AC12_LENGTHS.setdefault(_run * 16 + _size, 11)

_DC_BITS, _DC_VALS, _DC_CODES = _huffman(_DC_LENGTHS)
_AC_BITS, _AC_VALS, _AC_CODES = _huffman(_AC_LENGTHS)

# sequential frames per precision: SOF marker, quant table, DC and AC
# tables as (BITS, HUFFVAL, codes)
_SEQUENTIAL = {
    8: (0xC0, QTABLE, (_DC_BITS, _DC_VALS, _DC_CODES),
        (_AC_BITS, _AC_VALS, _AC_CODES)),
    12: (0xC1, QTABLE12, _huffman(_DC12_LENGTHS), _huffman(_AC12_LENGTHS)),
}


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.out.append(0x00)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def pad_to_byte(self) -> None:
        """1-pad to the next byte boundary (T.81 F.1.2.3; stuffing
        still applies if the padded byte lands on 0xFF)."""
        if self.nbits:
            pad = 8 - self.nbits
            self.put((1 << pad) - 1, pad)

    def raw(self, data: bytes) -> None:
        """Append marker bytes verbatim (caller must be byte-aligned)."""
        assert self.nbits == 0, "raw bytes require byte alignment"
        self.out += data

    def flush(self) -> bytes:
        self.pad_to_byte()
        return bytes(self.out)


def _magnitude(v: int) -> tuple[int, int]:
    """value -> (category size, appended bits)."""
    if v == 0:
        return 0, 0
    size = int(abs(v)).bit_length()
    bits = v if v >= 0 else v + (1 << size) - 1
    return size, bits


# ---------------------------------------------------------------------------
# encoder
# ---------------------------------------------------------------------------


def _rgb_to_ycbcr(raster: np.ndarray, center: float = 128.0) -> np.ndarray:
    """JFIF color transform with the chroma center at 2^(P-1); samples
    clip to 0..2*center-1."""
    r = raster[..., 0].astype(np.float64)
    g = raster[..., 1].astype(np.float64)
    b = raster[..., 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = center - 0.168735892 * r - 0.331264108 * g + 0.5 * b
    cr = center + 0.5 * r - 0.418687589 * g - 0.081312411 * b
    # round to integer samples BEFORE the DCT: keeps the constant-color
    # closed form integer-exact (see module doc)
    return np.stack(
        [np.floor(y + 0.5), np.floor(cb + 0.5), np.floor(cr + 0.5)], axis=0
    ).clip(0, 2 * center - 1)


def _seg(marker: int, body: bytes) -> bytes:
    return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body


def _dht_body(tclass: int, ident: int, bits: list[int], vals: list[int]) -> bytes:
    return bytes([tclass * 16 + ident]) + bytes(bits) + bytes(vals)


def _frame_header(
    sof: int,
    precision: int,
    width: int,
    height: int,
    factors,
    dht,
    qtable: np.ndarray | None = None,
    restart_interval: int = 0,
) -> bytes:
    """SOI through DRI for every frame this package writes. DCT frames
    (``qtable`` given) carry JFIF APP0 and one DQT, table 0, with 8-bit
    entries (Pq=0) or 16-bit ones above 8-bit precision (Pq=1);
    lossless frames carry neither. The SOF lists components 1..n with
    their (h, v) ``factors`` and quant table 0; ``dht`` is a list of
    (class, id, BITS, HUFFVAL); a DRI follows when restart_interval."""
    out = b"\xff\xd8"
    if qtable is not None:
        pq = int(precision > 8)
        dqt = bytes([pq << 4]) + b"".join(
            int(q).to_bytes(pq + 1, "big") for q in qtable.reshape(64)[ZIGZAG]
        )
        out += _seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
        out += _seg(0xDB, dqt)
    sof_body = bytes([precision]) + height.to_bytes(2, "big") \
        + width.to_bytes(2, "big") + bytes([len(factors)])
    for cid, (hi, vi) in enumerate(factors, 1):
        sof_body += bytes([cid, hi * 16 + vi, 0])
    out += _seg(sof, sof_body)
    for tclass, ident, bits, vals in dht:
        out += _seg(0xC4, _dht_body(tclass, ident, bits, vals))
    if restart_interval:
        out += _seg(0xDD, int(restart_interval).to_bytes(2, "big"))
    return out


def _sos(cids, ss: int, se: int, ahal: int) -> bytes:
    """Scan header over component ids ``cids``, every one on tables 0."""
    return _seg(
        0xDA,
        bytes([len(cids)]) + b"".join(bytes([c, 0x00]) for c in cids)
        + bytes([ss, se, ahal]),
    )


# (h_factor, v_factor) per component for each supported layout
_SUBSAMPLING = {
    "444": ((1, 1), (1, 1), (1, 1)),
    "422": ((2, 1), (1, 1), (1, 1)),
    "420": ((2, 2), (1, 1), (1, 1)),
}


def _downsample(plane: np.ndarray, fh: int, fv: int) -> np.ndarray:
    """JFIF chroma downsampling: fv x fh box AVERAGE with floor(x+0.5)
    rounding back to integer samples (a constant plane stays the exact
    same constant — the closed-form oracle survives subsampling)."""
    if fh == 1 and fv == 1:
        return plane
    h, w = plane.shape
    ph, pw = -(-h // fv) * fv, -(-w // fh) * fh
    p = np.pad(plane, ((0, ph - h), (0, pw - w)), mode="edge")
    boxes = p.reshape(ph // fv, fv, pw // fh, fh)
    return np.floor(boxes.mean(axis=(1, 3)) + 0.5)


def _encode_block(
    w: "_BitWriter", block: np.ndarray, pred: int, dc_codes, ac_codes
) -> int:
    """Entropy-code one zigzagged 64-coefficient block through the
    given DC/AC code tables; returns the new DC predictor."""
    dc = int(block[0])
    size, bits = _magnitude(dc - pred)
    code, length = dc_codes[size]
    w.put(code, length)
    if size:
        w.put(bits, size)
    run = 0
    ac = block[1:]
    nz = np.nonzero(ac)[0]
    last_nz = nz[-1] + 1 if len(nz) else 0
    for i in range(last_nz):
        v = int(ac[i])
        if v == 0:
            run += 1
            if run == 16:
                code, length = ac_codes[0xF0]  # ZRL
                w.put(code, length)
                run = 0
            continue
        size, bits = _magnitude(v)
        code, length = ac_codes[run * 16 + size]
        w.put(code, length)
        w.put(bits, size)
        run = 0
    if last_nz < 63:
        code, length = ac_codes[0x00]  # EOB
        w.put(code, length)
    return dc


def _quantized_blocks(
    width: int, height: int, raster: bytes, factors, precision: int = 8
) -> tuple[list[np.ndarray], int, int]:
    """RGB raster (uint8 samples at 8-bit precision, little-endian
    uint16 at 12) -> per-component quantized coefficient block grids
    ((rows, cols, 8, 8) int64 per component, padded to MCU coverage)
    plus the MCU grid dims — shared by every DCT encoder, so they all
    emit IDENTICAL coefficients by construction."""
    center = 1 << (precision - 1)
    img = np.frombuffer(
        raster, dtype=np.uint8 if precision == 8 else "<u2",
        count=height * width * 3,
    ).reshape(height, width, 3)
    if int(img.max(initial=0)) >= 2 * center:
        raise ValueError(
            f"{precision}-bit samples must be in 0..{2 * center - 1}"
        )
    planes = _rgb_to_ycbcr(img, float(center))
    qtable = _SEQUENTIAL[precision][1]
    hmax = max(f[0] for f in factors)
    vmax = max(f[1] for f in factors)
    mcux = -(-width // (8 * hmax))
    mcuy = -(-height // (8 * vmax))
    comp_blocks = []
    for c, (hi, vi) in enumerate(factors):
        plane = _downsample(planes[c], hmax // hi, vmax // vi)
        # pad the component plane to its MCU coverage (mcuy*vi x mcux*hi
        # blocks) so every MCU is complete; edge padding keeps constant
        # images constant
        th, tw = mcuy * vi * 8, mcux * hi * 8
        p = np.pad(
            plane,
            ((0, th - plane.shape[0]), (0, tw - plane.shape[1])),
            mode="edge",
        )
        blocks = (
            p.reshape(th // 8, 8, tw // 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(-1, 8, 8)
        ) - float(center)
        coeffs = _dct2(blocks)
        if precision == 12:
            # The einsum DCT carries ~1e-12 relative error, and with
            # q00 = 128 the DC ratio 8s/128 = s/16 lands EXACTLY on a
            # floor(x+0.5) boundary whenever s % 16 == 8 — the epsilon
            # would flip the quantized DC vs the SQL closed form. The DC
            # of an orthonormal 8x8 DCT is sum/8 with an integer sum, so
            # compute it exactly: floor(sum/1024 + 0.5) is exact in
            # doubles (sum < 2^18, divisor a power of two) and is
            # literally the closed form's dcq. (8-bit keeps the einsum
            # DC: switching would change its bytes.)
            coeffs[:, 0, 0] = blocks.sum(axis=(1, 2)) / 8.0
        q = np.floor(coeffs / qtable + 0.5).astype(np.int64)
        comp_blocks.append(q.reshape(th // 8, tw // 8, 8, 8))
    return comp_blocks, mcux, mcuy


def _encode_sequential(
    width: int, height: int, raster: bytes, factors, restart_interval: int,
    precision: int,
) -> bytes:
    """One interleaved scan over all three components (SOF0 at 8-bit,
    SOF1 at 12-bit), RSTn after every ``restart_interval`` MCUs."""
    sof, qtable, dc, ac = _SEQUENTIAL[precision]
    comp_blocks, mcux, mcuy = _quantized_blocks(
        width, height, raster, factors, precision
    )
    w = _BitWriter()
    pred = [0, 0, 0]
    mcu_idx = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_idx and mcu_idx % restart_interval == 0:
                w.pad_to_byte()
                rst = (mcu_idx // restart_interval - 1) % 8
                w.raw(bytes([0xFF, 0xD0 + rst]))
                pred = [0, 0, 0]
            for c, (hi, vi) in enumerate(factors):
                for dy in range(vi):
                    for dx in range(hi):
                        blk = comp_blocks[c][my * vi + dy, mx * hi + dx]
                        pred[c] = _encode_block(
                            w, blk.reshape(64)[ZIGZAG], pred[c], dc[2], ac[2]
                        )
            mcu_idx += 1
    return (
        _frame_header(
            sof, precision, width, height, factors,
            [(0, 0, dc[0], dc[1]), (1, 0, ac[0], ac[1])],
            qtable, restart_interval,
        )
        + _sos((1, 2, 3), 0, 63, 0)
        + w.flush()
        + b"\xff\xd9"  # EOI
    )


def encode_jpeg(
    width: int,
    height: int,
    raster: bytes,
    subsampling: str = "444",
    restart_interval: int = 0,
) -> bytes:
    """Baseline JFIF from an RGB24 raster (h*w*3 bytes, row-major).

    ``subsampling``: '444' (the r9 baseline), '422' (chroma halved
    horizontally), or '420' (halved both ways — the ubiquitous camera/
    web layout). Subsampled chroma planes are box-averaged, components
    carry their T.81 sampling factors in SOF0, and MCUs interleave
    hi*vi blocks per component in the spec's raster order.

    ``restart_interval``: when > 0, a DRI segment declares the interval
    and an RSTn marker (n cycling 0..7) is written after every N MCUs
    except the last — the bit stream 1-pads to a byte boundary and the
    DC predictors reset, exactly the T.81 E.1.4 semantics."""
    try:
        factors = _SUBSAMPLING[subsampling]
    except KeyError:
        raise ValueError(f"unsupported subsampling {subsampling!r}") from None
    return _encode_sequential(width, height, raster, factors, restart_interval, 8)


def encode_jpeg12(width: int, height: int, raster: bytes) -> bytes:
    """12-bit extended sequential JFIF (SOF1, 4:4:4) from an RGB
    raster of little-endian uint16 samples (h*w*3 values, 0..4095,
    row-major): level shift 2048, QTABLE12 in a Pq=1 DQT, the wide
    12-bit Huffman tables — 12-bit JPEG is DICOM's "JPEG Extended
    (Process 2 & 4)" transfer syntax."""
    return _encode_sequential(width, height, raster, _SUBSAMPLING["444"], 0, 12)


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------


class _BitReader:
    """MSB-first reader over the entropy segment with 0xFF00 unstuffing;
    stops at any non-RST marker."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        d = self.data
        if self.pos >= len(d):
            raise ValueError("truncated JPEG entropy data")
        byte = d[self.pos]
        if byte == 0xFF:
            nxt = d[self.pos + 1] if self.pos + 1 < len(d) else None
            if nxt != 0x00:
                raise ValueError("unexpected marker inside entropy data")
            self.pos += 2
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | byte
        self.nbits += 8


    def bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def sync_restart(self, n: int) -> None:
        """Byte-align (discarding the encoder's 1-padding bits) and
        consume the expected RSTn marker — T.81 E.2.4 resync. The
        padded byte, if any, was already (partially) consumed by bit
        fills, so dropping the accumulator realigns exactly."""
        self.acc = 0
        self.nbits = 0
        d = self.data
        if self.pos + 2 > len(d) or d[self.pos] != 0xFF or d[
            self.pos + 1
        ] != 0xD0 + n:
            got = d[self.pos : self.pos + 2].hex() if self.pos + 2 <= len(d) else "EOF"
            raise ValueError(f"expected restart marker RST{n}, got {got}")
        self.pos += 2

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v


def _build_decode_table(bits: list[int], vals: list[int]):
    """T.81 F.2.2.3: per-length MINCODE/MAXCODE/VALPTR."""
    mincode = [0] * 17
    maxcode = [-1] * 17
    valptr = [0] * 17
    code = 0
    k = 0
    for length in range(1, 17):
        if bits[length - 1]:
            valptr[length] = k
            mincode[length] = code
            code += bits[length - 1]
            k += bits[length - 1]
            maxcode[length] = code - 1
        code <<= 1
    return mincode, maxcode, valptr, vals


def _huff_decode(reader: _BitReader, table) -> int:
    mincode, maxcode, valptr, vals = table
    code = reader.bit()
    length = 1
    while code > maxcode[length]:
        code = (code << 1) | reader.bit()
        length += 1
        if length > 16:
            raise ValueError("invalid Huffman code")
    return vals[valptr[length] + code - mincode[length]]


def _extend(bits: int, size: int) -> int:
    if size == 0:
        return 0
    return bits if bits >= (1 << (size - 1)) else bits - (1 << size) + 1


def _ycbcr_to_rgb(
    y: np.ndarray,
    cb: np.ndarray,
    cr: np.ndarray,
    center: float = 128.0,
    maxv: int = 255,
) -> np.ndarray:
    r = y + 1.402 * (cr - center)
    g = y - 0.344136286 * (cb - center) - 0.714136286 * (cr - center)
    b = y + 1.772 * (cb - center)
    dtype = np.uint8 if maxv <= 255 else np.uint16
    return np.stack(
        [np.floor(r + 0.5), np.floor(g + 0.5), np.floor(b + 0.5)], axis=-1
    ).clip(0, maxv).astype(dtype)


_CODEC = {0xC0: "jpeg", 0xC1: "jpeg", 0xC2: "jpeg_progressive",
          0xC3: "jpeg_lossless"}


class _Frame:
    """One SOF's fields plus what its scans have decoded so far: zigzag
    coefficient grids per component (DCT frames) or sample planes
    (lossless)."""

    def __init__(self, marker: int, body: bytes) -> None:
        self.marker = marker
        self.precision = prec = body[0]
        self.height = h = int.from_bytes(body[1:3], "big")
        self.width = w = int.from_bytes(body[3:5], "big")
        self.comps = []  # (id, h factor, v factor, quant table id)
        for c in range(body[5]):
            cid, hv, tq = body[6 + 3 * c : 9 + 3 * c]
            self.comps.append((cid, hv >> 4, hv & 15, tq))
        # component index -> the quant table installed when its first
        # scan began (None in lossless frames)
        self.scanned: dict[int, np.ndarray | None] = {}
        if marker == 0xC3:
            if not 2 <= prec <= 16:
                raise ValueError(f"invalid lossless precision {prec}")
            if any(c[1:3] != (1, 1) for c in self.comps):
                raise NotImplementedError(
                    "lossless JPEG with subsampled components"
                )
            self.planes = [np.zeros((h, w), dtype=np.int64) for _ in self.comps]
        else:
            if marker == 0xC2 and prec != 8:
                raise NotImplementedError("only 8-bit precision (progressive)")
            if prec not in (8, 12):
                raise NotImplementedError(
                    f"only 8- or 12-bit precision (got {prec})"
                )
            if prec == 12 and marker == 0xC0:
                raise ValueError("12-bit precision requires SOF1, not SOF0")
            self.hmax = max(c[1] for c in self.comps)
            self.vmax = max(c[2] for c in self.comps)
            for _cid, hi, vi, _tq in self.comps:
                if not (
                    1 <= hi <= 4
                    and 1 <= vi <= 4
                    and self.hmax % hi == 0
                    and self.vmax % vi == 0
                ):
                    # non-integer upsampling ratios (e.g. 3:2) keep the
                    # injectable seam; every standard layout (4:4:4,
                    # 4:2:2, 4:2:0, 4:1:1, 4:4:0) decodes
                    raise NotImplementedError(
                        f"unsupported sampling factors {hi}x{vi}"
                    )
            self.mcux = -(-w // (8 * self.hmax))
            self.mcuy = -(-h // (8 * self.vmax))
            self.coef = [
                np.zeros((self.mcuy * vi, self.mcux * hi, 64), dtype=np.int64)
                for _cid, hi, vi, _tq in self.comps
            ]
        if len(self.comps) not in (1, 3):
            raise NotImplementedError(f"{len(self.comps)}-component frame")

    def extent(self, ci: int) -> tuple[int, int]:
        """Component ci's true sample dims (T.81 A.1.1)."""
        _cid, hi, vi, _tq = self.comps[ci]
        return -(-self.height * vi // self.vmax), -(-self.width * hi // self.hmax)

    def blocks(self, ci: int) -> tuple[int, int]:
        """Component ci's true block-grid dims."""
        ch, cw = self.extent(ci)
        return -(-ch // 8), -(-cw // 8)

    def mcus(self, cis: list[int]):
        """T.81 A.2: the MCUs of a scan over component indices ``cis``,
        each a list of (component index, block row, block col). An
        interleaved scan walks the frame's MCU grid, hi x vi blocks per
        component per MCU; a one-component scan walks that component's
        own (not MCU-padded) block grid, one block per MCU."""
        if len(cis) == 1:
            rows, cols = self.blocks(cis[0])
            return ([(cis[0], r, c)] for r in range(rows) for c in range(cols))
        layout = [
            (ci, dy, dx, self.comps[ci][1], self.comps[ci][2])
            for ci in cis
            for dy in range(self.comps[ci][2])
            for dx in range(self.comps[ci][1])
        ]
        return (
            [(ci, my * vi + dy, mx * hi + dx) for ci, dy, dx, hi, vi in layout]
            for my in range(self.mcuy)
            for mx in range(self.mcux)
        )

    def result(self) -> dict:
        """The decoded dict, once every component has been scanned."""
        for ci, (cid, *_rest) in enumerate(self.comps):
            if ci not in self.scanned:
                raise ValueError(f"JPEG scans never cover component {cid}")
        out = {"codec": _CODEC[self.marker], "width": self.width,
               "height": self.height, "channels": 3}
        maxv = (1 << self.precision) - 1
        dtype = np.uint8 if maxv <= 255 else np.uint16
        if self.marker == 0xC3:
            planes = [p.astype(dtype) for p in self.planes]
            raster = np.stack(planes if len(planes) == 3 else planes * 3, axis=-1)
            return {**out, "precision": self.precision, "raster": raster}
        if self.precision == 12:
            out["codec"] = "jpeg12"
        level = float(1 << (self.precision - 1))
        planes = [self._plane(ci, level) for ci in range(len(self.comps))]
        if len(planes) == 3:
            raster = _ycbcr_to_rgb(*planes, center=level, maxv=maxv)
        else:
            g = np.floor(planes[0] + 0.5).clip(0, maxv).astype(dtype)
            raster = np.stack([g, g, g], axis=-1)
        return {**out, "raster": raster}

    def _plane(self, ci: int, level: float) -> np.ndarray:
        """Dequantize, IDCT, crop to the component's true extent,
        replicate samples back to full resolution (JFIF nearest-
        neighbor upsampling), then crop to the frame."""
        cid, hi, vi, tq = self.comps[ci]
        qt = self.scanned[ci]
        if qt is None:
            raise ValueError(f"no quantization table {tq} for component {cid}")
        coef = self.coef[ci]
        gh, gw = coef.shape[:2]
        nat = np.zeros_like(coef)
        nat[:, :, ZIGZAG] = coef
        deq = nat.reshape(-1, 8, 8) * qt
        spatial = _idct2(deq.astype(np.float64)) + level
        plane = (
            spatial.reshape(gh, gw, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(gh * 8, gw * 8)
        )
        ch, cw = self.extent(ci)
        plane = plane[:ch, :cw]
        if hi != self.hmax or vi != self.vmax:
            plane = np.repeat(
                np.repeat(plane, self.vmax // vi, axis=0),
                self.hmax // hi,
                axis=1,
            )
        return plane[: self.height, : self.width]


def _decode_sequential_scan(reader, frame, scan, htables, restart_interval):
    """One SOF0/SOF1 scan (T.81 F.2.2) into the frame's coefficient
    grids, resynchronizing and resetting the DC predictors at every
    restart marker."""
    tables = {ci: (htables[(0, td)], htables[(1, ta)]) for ci, td, ta in scan}
    pred = dict.fromkeys(tables, 0)
    for n, mcu in enumerate(frame.mcus([ci for ci, _td, _ta in scan])):
        if restart_interval and n and n % restart_interval == 0:
            reader.sync_restart((n // restart_interval - 1) % 8)
            pred = dict.fromkeys(tables, 0)
        for ci, by, bx in mcu:
            dc_t, ac_t = tables[ci]
            blk = frame.coef[ci][by, bx]
            size = _huff_decode(reader, dc_t)
            pred[ci] += _extend(reader.bits(size), size)
            blk[0] = pred[ci]
            k = 1
            while k < 64:
                rs = _huff_decode(reader, ac_t)
                run, size = rs >> 4, rs & 15
                if rs == 0x00:  # EOB
                    break
                if rs == 0xF0:  # ZRL
                    k += 16
                    continue
                k += run
                if k > 63:
                    raise ValueError("AC run past block end")
                blk[k] = _extend(reader.bits(size), size)
                k += 1


def decode_jpeg(payload: bytes) -> dict:
    """Sequential (SOF0/SOF1, 8- or 12-bit), progressive (SOF2) or
    lossless (SOF3) JPEG -> dict with codec tag ("jpeg", "jpeg12",
    "jpeg_progressive", "jpeg_lossless"), dims, and an (h, w, 3) RGB
    raster (uint8 up to 8-bit precision, uint16 above; grayscale frames
    replicate to 3 channels; lossless adds its "precision"). Any
    integer sampling layout, any number of scans, any embedded Huffman
    tables; restart intervals in sequential scans. The unsupported
    variants (see module doc) raise NotImplementedError."""
    from cdc_export_system_spark.multimodal import jpeg_lossless, jpeg_progressive

    d = bytes(payload)
    if d[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], tuple] = {}
    frame = None
    restart_interval = 0
    while pos + 4 <= len(d):
        if d[pos] != 0xFF:
            raise ValueError("marker expected")
        marker = d[pos + 1]
        if marker == 0xD9:  # EOI
            break
        seglen = int.from_bytes(d[pos + 2 : pos + 4], "big")
        body = d[pos + 4 : pos + 2 + seglen]
        if len(body) != seglen - 2:
            raise ValueError("truncated JPEG segment")
        pos += 2 + seglen
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            b = body
            while b:
                pq, tq = b[0] >> 4, b[0] & 15
                n = 64 * (pq + 1)  # Pq=1: 16-bit entries
                tbl = np.zeros(64, dtype=np.int64)
                tbl[ZIGZAG] = np.frombuffer(
                    b[1 : 1 + n], dtype=">u2" if pq else np.uint8
                )
                qtables[tq] = tbl.reshape(8, 8)
                b = b[1 + n :]
        elif marker == 0xC4:  # DHT
            b = body
            while b:
                tclass, ident = b[0] >> 4, b[0] & 15
                bits = list(b[1:17])
                n = sum(bits)
                vals = list(b[17 : 17 + n])
                htables[(tclass, ident)] = _build_decode_table(bits, vals)
                b = b[17 + n :]
        elif marker == 0xDD:  # DRI
            restart_interval = int.from_bytes(body[:2], "big")
        elif marker in _CODEC:  # SOF0..SOF3
            frame = _Frame(marker, body)
        elif marker in (0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"only sequential SOF0/SOF1, progressive SOF2, and "
                f"lossless SOF3 supported (got SOF marker {marker:#x})"
            )
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("SOS before SOF")
            index = {c[0]: i for i, c in enumerate(frame.comps)}
            ns = body[0]
            scan = []  # (component index, DC table id, AC table id)
            for c in range(ns):
                cs, tables = body[1 + 2 * c], body[2 + 2 * c]
                if cs not in index:
                    raise ValueError("scan component not declared in SOF")
                scan.append((index[cs], tables >> 4, tables & 15))
            ss, se, ahal = body[1 + 2 * ns : 4 + 2 * ns]
            if restart_interval and frame.marker in (0xC2, 0xC3):
                kind = "progressive" if frame.marker == 0xC2 else "lossless"
                raise NotImplementedError(f"restart intervals in {kind} scans")
            for ci, _td, _ta in scan:
                frame.scanned.setdefault(ci, qtables.get(frame.comps[ci][3]))
            reader = _BitReader(d, pos)
            if frame.marker == 0xC3:
                jpeg_lossless._decode_scan(reader, frame, scan, htables, ss, ahal & 15)
            elif frame.marker == 0xC2:
                jpeg_progressive._decode_scan(
                    reader, frame, scan, htables, ss, se, ahal >> 4, ahal & 15
                )
            else:
                _decode_sequential_scan(reader, frame, scan, htables, restart_interval)
            pos = reader.pos
    if frame is None:
        raise ValueError("JPEG missing SOF/SOS")
    return frame.result()


def jpeg_constant_roundtrip(r: int, g: int, b: int) -> tuple[int, int, int]:
    """Closed-form decode(encode(constant-color image)) pixel value —
    the SQL-oracle mirror (see module doc). Every 8x8 block of a
    constant image is DC-only: per channel,
      s   = round(lin(r,g,b)) - 128          (integer source sample)
      dcq = round(8*s / q00); rec = round(dcq * q00 / 8) + 128
    then the YCbCr->RGB floor(x+0.5) with clipping."""
    q00 = int(QTABLE[0, 0])

    def rt(sample: float) -> float:
        s = np.floor(sample + 0.5) - 128.0
        dcq = np.floor(8.0 * s / q00 + 0.5)
        return dcq * q00 / 8.0 + 128.0

    y = rt(0.299 * r + 0.587 * g + 0.114 * b)
    cb = rt(128.0 - 0.168735892 * r - 0.331264108 * g + 0.5 * b)
    cr = rt(128.0 + 0.5 * r - 0.418687589 * g - 0.081312411 * b)
    rr = int(np.clip(np.floor(y + 1.402 * (cr - 128.0) + 0.5), 0, 255))
    gg = int(np.clip(np.floor(
        y - 0.344136286 * (cb - 128.0) - 0.714136286 * (cr - 128.0) + 0.5
    ), 0, 255))
    bb = int(np.clip(np.floor(y + 1.772 * (cb - 128.0) + 0.5), 0, 255))
    return rr, gg, bb


def jpeg12_constant_roundtrip(r: int, g: int, b: int) -> tuple[int, int, int]:
    """Closed-form decode(encode(constant 12-bit image)) pixel — the
    SQL-oracle mirror (same derivation as jpeg_constant_roundtrip
    with center 2048 and q00 = 128)."""
    q00 = int(QTABLE12[0, 0])

    def rt(sample: float) -> float:
        s = np.floor(sample + 0.5) - 2048.0
        dcq = np.floor(8.0 * s / q00 + 0.5)
        return dcq * q00 / 8.0 + 2048.0

    y = rt(0.299 * r + 0.587 * g + 0.114 * b)
    cb = rt(2048.0 - 0.168735892 * r - 0.331264108 * g + 0.5 * b)
    cr = rt(2048.0 + 0.5 * r - 0.418687589 * g - 0.081312411 * b)
    rr = int(np.clip(np.floor(y + 1.402 * (cr - 2048.0) + 0.5), 0, 4095))
    gg = int(np.clip(np.floor(
        y - 0.344136286 * (cb - 2048.0) - 0.714136286 * (cr - 2048.0) + 0.5
    ), 0, 4095))
    bb = int(np.clip(np.floor(y + 1.772 * (cb - 2048.0) + 0.5), 0, 4095))
    return rr, gg, bb
