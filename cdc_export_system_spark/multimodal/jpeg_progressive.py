"""Progressive JPEG (ITU-T T.81 SOF2) scans — spectral selection AND
successive approximation, both directions.

Progressive files dominate web corpora (every libjpeg ``-progressive``
output, most CDN-optimized images), so a 100 TB multimodal crawl cannot
seam on them. The container (SOI, DQT, SOF, DHT, SOS framing) belongs
to ``jpeg``; this module holds only what is progressive about a scan.

* ``encode_jpeg_progressive`` — 8-bit 3-component 4:4:4, an 8-scan
  script exercising BOTH progressive mechanisms: interleaved DC first
  scan at Al=1 then a DC refinement bit-scan; per-component AC first
  scans (spectral band 1..63 at Al=1, EOBn run coding) then AC
  refinement scans (correction bits, T.81 G.1.2.3). Quantization is
  shared with the sequential encoder (``jpeg._quantized_blocks``), so
  a progressive file carries bit-identical coefficients to its
  sequential sibling — the property the equality pin and the SQL
  oracle both lean on.
* ``_decode_scan`` — what ``jpeg.decode_jpeg`` runs for each SOS of an
  SOF2 frame: any scan script (spectral bands in any order, any Ah/Al
  ladder, interleaved DC scans, per-component AC scans over the true —
  not MCU-padded — block dims), EOBRUN carry across blocks, and the
  refinement correction-bit walk ported from the public T.81 G.2 /
  libjpeg ``decode_mcu_AC_refine`` algorithm. The coefficients it
  fills are rebuilt by the same path as a sequential frame's.
  Restart intervals inside progressive scans keep an injectable
  ``NotImplementedError`` seam (our encoder never emits them;
  sequential DRI files decode fully).

Scale: like the sequential codec this runs row-locally inside
mapInPandas batches; the scan state (per-component coefficient grids)
is one image's blocks, never shuffled.
"""

from __future__ import annotations

from cdc_export_system_spark.multimodal.jpeg import (
    QTABLE,
    ZIGZAG,
    _AC_LENGTHS,
    _BitWriter,
    _DC_BITS,
    _DC_CODES,
    _DC_VALS,
    _SUBSAMPLING,
    _extend,
    _frame_header,
    _huff_decode,
    _huffman,
    _magnitude,
    _quantized_blocks,
    _sos,
)

# progressive AC table = sequential symbols + EOBn (n = 1..14, RS = n<<4)
_ACP_LENGTHS = dict(_AC_LENGTHS)
for _n in range(1, 15):
    _ACP_LENGTHS[_n << 4] = 8
_ACP_BITS, _ACP_VALS, _ACP_CODES = _huffman(_ACP_LENGTHS)


# ---------------------------------------------------------------------------
# encoder
# ---------------------------------------------------------------------------

# (component | None=interleaved-DC, Ss, Se, Ah, Al): one successive-
# approximation level (Al=1 first passes, then full-precision refinements)
# over DC and the whole AC band of each component.
_SCAN_SCRIPT = [
    (None, 0, 0, 0, 1),
    (0, 1, 63, 0, 1),
    (1, 1, 63, 0, 1),
    (2, 1, 63, 0, 1),
    (None, 0, 0, 1, 0),
    (0, 1, 63, 1, 0),
    (1, 1, 63, 1, 0),
    (2, 1, 63, 1, 0),
]


def _ac_point(v: int, al: int) -> int:
    """AC point transform: magnitude shift, sign reapplied (T.81 —
    'divide by 2^Al toward zero'; DC uses a plain arithmetic shift)."""
    return -((-v) >> al) if v < 0 else v >> al


class _EobState:
    """Cross-block EOB-run accumulator for AC scans (first passes carry
    no correction bits; refinement passes buffer them until the run or
    the next symbol flushes)."""

    def __init__(self, w: _BitWriter) -> None:
        self.w = w
        self.run = 0
        self.bits: list[int] = []

    def flush(self) -> None:
        if self.run:
            n = self.run.bit_length() - 1
            code, length = _ACP_CODES[n << 4]
            self.w.put(code, length)
            if n:
                self.w.put(self.run - (1 << n), n)
            self.run = 0
        for b in self.bits:
            self.w.put(b, 1)
        self.bits = []


def _encode_dc_scan(w, zz, mcux, mcuy, ah, al) -> None:
    pred = [0, 0, 0]
    for my in range(mcuy):
        for mx in range(mcux):
            for c in range(3):
                t = int(zz[c][my, mx, 0]) >> al  # arithmetic shift (T.81 DC)
                if ah == 0:
                    diff = t - pred[c]
                    pred[c] = t
                    size, bits = _magnitude(diff)
                    code, length = _DC_CODES[size]
                    w.put(code, length)
                    if size:
                        w.put(bits, size)
                else:
                    w.put(t & 1, 1)  # refinement: one raw bit per block


def _encode_ac_first(w, zzc, ss, se, al) -> None:
    eob = _EobState(w)
    rows, cols = zzc.shape[:2]
    for r0 in range(rows):
        for c0 in range(cols):
            band = [_ac_point(int(v), al) for v in zzc[r0, c0, ss : se + 1]]
            nz = [k for k, v in enumerate(band) if v]
            if not nz:
                eob.run += 1
                if eob.run == 0x7FFF:
                    eob.flush()
                continue
            eob.flush()
            run = 0
            for k in range(nz[-1] + 1):
                v = band[k]
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    code, length = _ACP_CODES[0xF0]
                    w.put(code, length)
                    run -= 16
                size, bits = _magnitude(v)
                code, length = _ACP_CODES[run * 16 + size]
                w.put(code, length)
                w.put(bits, size)
                run = 0
            if nz[-1] + 1 < len(band):
                eob.run += 1
                if eob.run == 0x7FFF:
                    eob.flush()
    eob.flush()


def _encode_ac_refine(w, zzc, ss, se, al) -> None:
    """T.81 G.1.2.3 (the libjpeg encode_mcu_AC_refine shape): newly-
    significant coefficients (|t|==1) code as (run, 1) + sign bit over
    ZERO-HISTORY positions; already-significant ones emit buffered
    correction bits after each symbol; all-quiet blocks join the EOB
    run, their correction bits buffered with it."""
    eob = _EobState(w)
    rows, cols = zzc.shape[:2]
    for r0 in range(rows):
        for c0 in range(cols):
            raw = [int(v) for v in zzc[r0, c0, ss : se + 1]]
            absv = [(-v if v < 0 else v) >> al for v in raw]
            last_new = -1
            for k, a in enumerate(absv):
                if a == 1:
                    last_new = k
            run = 0
            pend: list[int] = []  # correction bits since the last symbol
            for k in range(last_new + 1):
                a = absv[k]
                if a == 0:
                    run += 1
                    continue
                # ZRL drain at EVERY nonzero coefficient (libjpeg
                # encode_mcu_AC_refine): correction bits buffered so far
                # belong positionally BEFORE the 16-zero span, so they
                # must flush with this ZRL — draining only at newly-
                # significant coefficients puts later already-significant
                # bits on the wrong side of the symbol and desyncs the
                # decoder's walk.
                while run > 15:
                    eob.flush()
                    code, length = _ACP_CODES[0xF0]
                    w.put(code, length)
                    run -= 16
                    for b in pend:
                        w.put(b, 1)
                    pend = []
                if a > 1:  # significant in an earlier scan
                    pend.append(a & 1)
                    continue
                # newly significant (|t| == 1)
                eob.flush()
                code, length = _ACP_CODES[run * 16 + 1]
                w.put(code, length)
                w.put(1 if raw[k] > 0 else 0, 1)
                for b in pend:
                    w.put(b, 1)
                pend = []
                run = 0
            # tail: any position after the last new significance (zero-
            # history zeros AND correction bits) puts the block in the
            # EOB run — the decoder's EOB phase walks those positions
            for k in range(last_new + 1, len(absv)):
                if absv[k] > 1:
                    pend.append(absv[k] & 1)
            if last_new + 1 < len(absv):
                eob.run += 1
                eob.bits.extend(pend)
                if eob.run == 0x7FFF:
                    eob.flush()
    eob.flush()


def encode_jpeg_progressive(
    width: int, height: int, raster: bytes, scan_script=None
) -> bytes:
    """Progressive JFIF (SOF2, 4:4:4) from an RGB24 raster. Runs the
    8-scan ladder in _SCAN_SCRIPT (or an explicit ``scan_script`` of
    (comp|None, Ss, Se, Ah, Al) tuples — spectral-band splits and
    deeper successive-approximation ladders for the generality tests);
    coefficients are the SAME quantized values the sequential encoder
    emits, so decode(progressive) == decode(sequential) bit-for-bit."""
    factors = _SUBSAMPLING["444"]
    comp_blocks, mcux, mcuy = _quantized_blocks(width, height, raster, factors)
    # (rows, cols, 64) zigzag-vector coefficient grids per component
    zz = [cb.reshape(cb.shape[0], cb.shape[1], 64)[:, :, ZIGZAG] for cb in comp_blocks]

    chunks = []
    for comp, ss, se, ah, al in (scan_script or _SCAN_SCRIPT):
        w = _BitWriter()
        if comp is None:
            _encode_dc_scan(w, zz, mcux, mcuy, ah, al)
            cids = (1, 2, 3)
        else:
            if ah == 0:
                _encode_ac_first(w, zz[comp], ss, se, al)
            else:
                _encode_ac_refine(w, zz[comp], ss, se, al)
            cids = (comp + 1,)
        chunks.append(_sos(cids, ss, se, ah * 16 + al) + w.flush())
    return (
        _frame_header(
            0xC2, 8, width, height, factors,
            [(0, 0, _DC_BITS, _DC_VALS), (1, 0, _ACP_BITS, _ACP_VALS)],
            QTABLE,
        )
        + b"".join(chunks)
        + b"\xff\xd9"
    )


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------


def _decode_dc_scan(reader, frame, scan, htables, ah, al):
    """Interleaved (or single-component) DC scan: Ah=0 -> predicted
    diff decode at Al; Ah>0 -> one refinement bit per block."""
    dc_tables = {ci: td for ci, td, _ta in scan}
    pred = dict.fromkeys(dc_tables, 0)
    for mcu in frame.mcus(list(dc_tables)):
        for ci, by, bx in mcu:
            if ah == 0:
                size = _huff_decode(reader, htables[(0, dc_tables[ci])])
                pred[ci] += _extend(reader.bits(size), size)
                frame.coef[ci][by, bx, 0] = pred[ci] << al
            elif reader.bit():
                frame.coef[ci][by, bx, 0] |= 1 << al


def _decode_ac_first(reader, actable, zzc, brows, bcols, ss, se, al):
    eobrun = 0  # scan-local per T.81 (resets at every SOS)
    for r0 in range(brows):
        for c0 in range(bcols):
            if eobrun > 0:
                eobrun -= 1
                continue
            k = ss
            while k <= se:
                rs = _huff_decode(reader, actable)
                r, s = rs >> 4, rs & 15
                if s == 0:
                    if r != 15:
                        eobrun = (1 << r) + (reader.bits(r) if r else 0) - 1
                        break
                    k += 16  # ZRL
                    continue
                k += r
                if k > se:
                    raise ValueError("AC run past band end")
                zzc[r0, c0, k] = _extend(reader.bits(s), s) << al
                k += 1


def _decode_ac_refine(reader, actable, zzc, brows, bcols, ss, se, al):
    """T.81 G.2 / libjpeg decode_mcu_AC_refine: walk the band reading
    correction bits for already-significant coefficients; (run, 1)
    symbols place new ±2^Al values after `run` zero-history zeros."""
    p1 = 1 << al
    m1 = -(1 << al)
    eobrun = 0  # scan-local per T.81 (resets at every SOS)
    for r0 in range(brows):
        for c0 in range(bcols):
            k = ss
            if eobrun == 0:
                while k <= se:
                    rs = _huff_decode(reader, actable)
                    r, s = rs >> 4, rs & 15
                    newval = 0
                    if s == 0:
                        if r != 15:
                            eobrun = (1 << r) + (reader.bits(r) if r else 0)
                            break  # -> EOB phase below (this block included)
                        # ZRL: skip 16 zero-history coefficients
                    else:
                        if s != 1:
                            raise ValueError("refinement size must be 1")
                        newval = p1 if reader.bit() else m1
                    while k <= se:
                        cur = int(zzc[r0, c0, k])
                        if cur != 0:
                            if reader.bit():
                                if (cur & p1) == 0:
                                    zzc[r0, c0, k] = cur + (p1 if cur >= 0 else m1)
                        else:
                            if r == 0:
                                break
                            r -= 1
                        k += 1
                    if newval and k <= se:
                        zzc[r0, c0, k] = newval
                    k += 1
            if eobrun > 0:
                while k <= se:
                    cur = int(zzc[r0, c0, k])
                    if cur != 0:
                        if reader.bit():
                            if (cur & p1) == 0:
                                zzc[r0, c0, k] = cur + (p1 if cur >= 0 else m1)
                    k += 1
                eobrun -= 1


def _decode_scan(reader, frame, scan, htables, ss, se, ah, al):
    """One SOS of an SOF2 frame into its zigzag coefficient grids: a DC
    scan (Ss=0, interleaved or not) or one component's AC band."""
    if ss == 0:  # DC scan (se must be 0 per spec)
        if se != 0:
            raise ValueError("DC scan with Se != 0")
        _decode_dc_scan(reader, frame, scan, htables, ah, al)
        return
    if len(scan) != 1:  # AC scan: exactly one component (T.81 constraint)
        raise ValueError("interleaved AC scan is not legal")
    ci, _td, ta = scan[0]
    (_decode_ac_first if ah == 0 else _decode_ac_refine)(
        reader, htables[(1, ta)], frame.coef[ci], *frame.blocks(ci), ss, se, al
    )
