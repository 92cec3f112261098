"""Progressive (SOF2) JPEG decode + encode, pure numpy/stdlib.

A large share of real web JPEGs are progressive; the reference decodes
them transparently via PIL (``/root/reference/src/preprocess.py:335-361``
— ``Image.open`` handles baseline and progressive alike, and
``main.py:218-226`` accepts the same extensions for both).  This module
gives :func:`~.jpeg.decode_jpeg` the same transparency: SOF2 streams
delegate here, everything else (error contract, pixel budget, loud
truncation) is identical to the baseline path.

Decode implements the full T.81 Annex G Huffman progressive model:
spectral selection (per-scan ``Ss..Se`` bands, non-interleaved AC
scans), successive approximation (``Ah/Al`` bit-plane refinement for
both DC and AC, with EOB-run accounting), restart intervals, and the
same truncation contract as the baseline decoder (consuming more than
the final byte's pad bits raises).  The coefficient stores feed the
SAME dequant/IDCT/assembly back half as baseline
(:func:`~.jpeg._assemble_image`), so the two paths cannot drift.

Encode exists for fixture synthesis (the container has no other JPEG
producer): a classic luma-first scan script exercising both spectral
selection and successive approximation, emitting only symbols present
in the Annex-K tables (EOB runs are always length 1 — EOBn>0 codes are
not in Annex K).  Progressive encoding is a different entropy
SERIALIZATION of the same ``_fdct_quant`` coefficients baseline uses,
so a progressive re-encode of a baseline fixture must decode bit-equal
to its baseline twin — that equality is the correctness pin.

This is the format-coverage path, not the hot path: the per-coefficient
Python refinement loops cost more than the baseline batched loop.  The
codec dispatch decodes progressive JPEG through the system libjpeg
(``native.py``) and falls back here only when that shim cannot be
built.
"""

from __future__ import annotations

import struct

import numpy as np

from .jpeg import (
    JpegError,
    _AC_CHROMA_BITS,
    _AC_CHROMA_VALS,
    _AC_LUMA_BITS,
    _AC_LUMA_VALS,
    _DC_CHROMA_BITS,
    _DC_CHROMA_VALS,
    _DC_LUMA_BITS,
    _DC_LUMA_VALS,
    _SUBSAMPLING,
    _assemble_image,
    _BitWriter,
    _canonical_codes,
    _fdct_quant,
    _pad_to,
    _parse_dht,
    _parse_dqt,
    _parse_sof,
    _quality_tables,
    _size_cat,
)

__all__ = ["decode_jpeg_progressive", "encode_jpeg_progressive"]


class _Bits:
    """Bit reader over one unstuffed entropy span.

    Same contract as the baseline inlined reader: zero-pad past the
    stream end for final peeks, but CONSUMING more than the final byte's
    pad bits (a truncated stream) raises — corrupt bytes must fail loudly
    into the kernel's fault-isolation path, never decode from padding.
    """

    __slots__ = ("d", "n", "pos", "buf", "cnt", "virt")

    def __init__(self, d: bytes) -> None:
        self.d = d
        self.n = len(d)
        self.pos = 0
        self.buf = 0
        self.cnt = 0
        self.virt = 0

    def _fill(self, need: int) -> None:
        while self.cnt < need:
            if self.pos < self.n:
                self.buf = (self.buf << 8) | self.d[self.pos]
                self.pos += 1
            else:
                self.buf <<= 8
                self.virt += 1
            self.cnt += 8

    def _check(self) -> None:
        if self.virt and 8 * (self.pos + self.virt) - self.cnt > 8 * self.n + 7:
            raise JpegError("entropy data exhausted (truncated stream)")

    def bits(self, k: int) -> int:
        if k == 0:
            return 0
        self._fill(k)
        self.cnt -= k
        v = (self.buf >> self.cnt) & ((1 << k) - 1)
        self.buf &= (1 << self.cnt) - 1
        self._check()
        return v

    def bit(self) -> int:
        return self.bits(1)

    def huff(self, lut: list[int]) -> int:
        self._fill(16)
        v = lut[(self.buf >> (self.cnt - 16)) & 0xFFFF]
        if v == 0:
            raise JpegError("invalid Huffman code")
        self.cnt -= v & 31
        self.buf &= (1 << self.cnt) - 1
        self._check()
        return v >> 5


def _extend(mag: int, size: int) -> int:
    return mag if mag >= (1 << (size - 1)) else mag - (1 << size) + 1


def _scan_spans(data: bytes, start: int):
    """Split one scan's entropy data into unstuffed per-restart segments;
    also return the offset of the marker that ended the scan (the
    progressive walker resumes parsing there)."""
    spans: list[bytes] = []
    seg_start = pos = start
    n = len(data)
    while True:
        ff = data.find(b"\xff", pos)
        if ff < 0 or ff + 1 >= n:
            spans.append(data[seg_start:n])
            end = n
            break
        nxt = data[ff + 1]
        if nxt == 0x00:
            pos = ff + 2
            continue
        if 0xD0 <= nxt <= 0xD7:  # restart marker: segment boundary
            spans.append(data[seg_start:ff])
            seg_start = pos = ff + 2
            continue
        spans.append(data[seg_start:ff])
        end = ff
        break
    return [s.replace(b"\xff\x00", b"\xff") for s in spans], end


def _decode_dc_scan(spans, sel, comps, coefs, blocks_wide, mcus_x, mcus_y,
                    cbw, cbh, restart_interval, ah, al, huff):
    """One DC scan (Ss=Se=0): interleaved MCU order for multi-component
    scans, component raster order otherwise.  Ah=0 decodes shifted diffs;
    Ah>0 appends one refinement bit per block (T.81 G.1.2.1)."""
    interleaved = len(sel) > 1
    if interleaved:
        units = mcus_x * mcus_y
    else:
        ci = sel[0][0]
        units = cbw[ci] * cbh[ci]
    luts = {}
    for comp_idx, dc_id, _ in sel:
        if ah == 0:
            try:
                luts[comp_idx] = huff[(0, dc_id)].lst
            except KeyError as exc:
                raise JpegError(f"missing Huffman table {exc}") from exc

    per_seg = restart_interval if restart_interval else units
    unit = 0
    span_idx = 0
    preds = {comp_idx: 0 for comp_idx, _, _ in sel}
    while unit < units:
        if restart_interval and unit and unit % restart_interval == 0:
            span_idx += 1
            if span_idx >= len(spans):
                raise JpegError("missing restart segment")
            preds = {k: 0 for k in preds}
        if unit % per_seg == 0:
            bits = _Bits(spans[span_idx])
        seg_end = min(unit + per_seg, units)
        while unit < seg_end:
            if interleaved:
                my, mx = divmod(unit, mcus_x)
                blocks = []
                for comp_idx, _, _ in sel:
                    _, hf, vf, _ = comps[comp_idx]
                    for dy in range(vf):
                        for dx in range(hf):
                            blocks.append(
                                (comp_idx,
                                 (my * vf + dy) * blocks_wide[comp_idx]
                                 + mx * hf + dx))
            else:
                ci = sel[0][0]
                r, c = divmod(unit, cbw[ci])
                blocks = [(ci, r * blocks_wide[ci] + c)]
            for comp_idx, idx in blocks:
                if ah == 0:
                    t = bits.huff(luts[comp_idx])
                    if t > 11:
                        raise JpegError("bad DC magnitude category")
                    diff = _extend(bits.bits(t), t) if t else 0
                    preds[comp_idx] += diff
                    coefs[comp_idx][idx, 0] = preds[comp_idx] << al
                else:
                    if bits.bit():
                        coefs[comp_idx][idx, 0] = int(coefs[comp_idx][idx, 0]) | (1 << al)
            unit += 1


def _decode_ac_scan(spans, sel, coefs, blocks_wide, cbw, cbh,
                    restart_interval, ss, se, ah, al, huff):
    """One AC scan (Ss>0, single component, T.81 G.1.2.2/G.1.2.3):
    spectral-band decode with EOB runs; Ah>0 is the bit-plane refinement
    pass (correction bits for already-nonzero history, newly significant
    coefficients carried as +-1<<Al).

    Bit state lives in LOCAL ints (buf/cnt/pos/virt), exactly the
    baseline decoder's inlined idiom: the method-call _Bits reader
    measured 2.45x baseline on a 512x512 decode, dominated by per-bit
    call overhead in the refinement advance loop; this form measures
    1.86x baseline (the remainder is the inherent extra passes — a
    progressive stream visits every coefficient once per scan).  Same
    truncation contract: consuming more than the final byte's pad bits
    raises.
    """
    ci, _, ac_id = sel[0]
    try:
        lut = huff[(1, ac_id)].lst
    except KeyError as exc:
        raise JpegError(f"missing Huffman table {exc}") from exc
    units = cbw[ci] * cbh[ci]
    store = coefs[ci]
    p1, m1 = 1 << al, -1 << al

    per_seg = restart_interval if restart_interval else units
    unit = 0
    span_idx = 0
    eobrun = 0
    sdata = spans[0]
    dlen = len(sdata)
    pos = buf = cnt = virt = 0
    while unit < units:
        if restart_interval and unit and unit % restart_interval == 0:
            span_idx += 1
            if span_idx >= len(spans):
                raise JpegError("missing restart segment")
            eobrun = 0
        if unit % per_seg == 0:
            sdata = spans[span_idx]
            dlen = len(sdata)
            pos = buf = cnt = virt = 0
        seg_end = min(unit + per_seg, units)
        while unit < seg_end:
            if ah == 0 and eobrun:
                # whole blocks skipped by an EOB run: no bit reads at all
                skip = min(eobrun, seg_end - unit)
                eobrun -= skip
                unit += skip
                continue
            r_, c_ = divmod(unit, cbw[ci])
            base = r_ * blocks_wide[ci] + c_
            blk = store[base].tolist()
            changed = False
            if ah == 0:
                # ---- first scan of this band ----
                k = ss
                while k <= se:
                    if cnt < 26:  # 16-bit peek + up to 10 magnitude bits
                        if pos + 4 <= dlen:
                            buf = (buf << 32) | int.from_bytes(
                                sdata[pos : pos + 4], "big")
                            pos += 4
                            cnt += 32
                        else:
                            while cnt < 26:
                                if pos < dlen:
                                    buf = (buf << 8) | sdata[pos]
                                    pos += 1
                                else:
                                    buf <<= 8
                                    virt += 1
                                cnt += 8
                    v = lut[(buf >> (cnt - 16)) & 0xFFFF]
                    if v == 0:
                        raise JpegError("invalid AC Huffman code")
                    rs = v >> 5
                    r, sz = rs >> 4, rs & 0x0F
                    if sz == 0:
                        cnt -= v & 31
                        buf &= (1 << cnt) - 1
                        if virt and 8 * (pos + virt) - cnt > 8 * dlen + 7:
                            raise JpegError(
                                "entropy data exhausted (truncated stream)")
                        if r < 15:
                            eobrun = (1 << r) - 1
                            if r:
                                if cnt < r:
                                    while cnt < r:
                                        if pos < dlen:
                                            buf = (buf << 8) | sdata[pos]
                                            pos += 1
                                        else:
                                            buf <<= 8
                                            virt += 1
                                        cnt += 8
                                cnt -= r
                                eobrun += (buf >> cnt) & ((1 << r) - 1)
                                buf &= (1 << cnt) - 1
                                if virt and 8 * (pos + virt) - cnt > 8 * dlen + 7:
                                    raise JpegError(
                                        "entropy data exhausted (truncated stream)")
                            break  # block ends (EOBn includes this block)
                        k += 16  # ZRL
                        continue
                    if sz > 10:
                        raise JpegError("bad AC magnitude category")
                    k += r
                    if k > se:
                        raise JpegError("AC run past band end")
                    cnt -= (v & 31) + sz
                    if virt and 8 * (pos + virt) - cnt > 8 * dlen + 7:
                        raise JpegError(
                            "entropy data exhausted (truncated stream)")
                    mag = (buf >> cnt) & ((1 << sz) - 1)
                    buf &= (1 << cnt) - 1
                    blk[k] = (mag if mag >= (1 << (sz - 1))
                              else mag - (1 << sz) + 1) << al
                    changed = True
                    k += 1
            else:
                # ---- refinement scan (G.1.2.3) ----
                k = ss
                if eobrun == 0:
                    while k <= se:
                        if cnt < 31:  # code (16) + sign (1) + EOBn bits (14)
                            if pos + 4 <= dlen:
                                buf = (buf << 32) | int.from_bytes(
                                    sdata[pos : pos + 4], "big")
                                pos += 4
                                cnt += 32
                            else:
                                while cnt < 31:
                                    if pos < dlen:
                                        buf = (buf << 8) | sdata[pos]
                                        pos += 1
                                    else:
                                        buf <<= 8
                                        virt += 1
                                    cnt += 8
                        v = lut[(buf >> (cnt - 16)) & 0xFFFF]
                        if v == 0:
                            raise JpegError("invalid AC Huffman code")
                        rs = v >> 5
                        r, sz = rs >> 4, rs & 0x0F
                        cnt -= v & 31
                        if sz == 0:
                            if r < 15:
                                eobrun = 1 << r
                                if r:
                                    cnt -= r
                                    eobrun += (buf >> cnt) & ((1 << r) - 1)
                                buf &= (1 << cnt) - 1
                                if virt and 8 * (pos + virt) - cnt > 8 * dlen + 7:
                                    raise JpegError(
                                        "entropy data exhausted (truncated stream)")
                                break  # fall through to EOB correction
                            # ZRL: advance over 16 zero-history coefs
                            buf &= (1 << cnt) - 1
                            newval = 0
                        else:
                            if sz != 1:
                                raise JpegError(
                                    "bad refinement magnitude category")
                            cnt -= 1
                            newval = p1 if (buf >> cnt) & 1 else m1
                            buf &= (1 << cnt) - 1
                        if virt and 8 * (pos + virt) - cnt > 8 * dlen + 7:
                            raise JpegError(
                                "entropy data exhausted (truncated stream)")
                        # advance over r zero-history coefficients,
                        # appending correction bits to nonzero history
                        while k <= se:
                            cur = blk[k]
                            if cur != 0:
                                if cnt < 1:
                                    if pos + 4 <= dlen:
                                        buf = (buf << 32) | int.from_bytes(
                                            sdata[pos : pos + 4], "big")
                                        pos += 4
                                        cnt += 32
                                    elif pos < dlen:
                                        buf = (buf << 8) | sdata[pos]
                                        pos += 1
                                        cnt += 8
                                    else:
                                        buf <<= 8
                                        virt += 1
                                        cnt += 8
                                cnt -= 1
                                b = (buf >> cnt) & 1
                                buf &= (1 << cnt) - 1
                                if virt and 8 * (pos + virt) - cnt > 8 * dlen + 7:
                                    raise JpegError(
                                        "entropy data exhausted (truncated stream)")
                                if b and not (cur & p1):
                                    blk[k] = cur + (p1 if cur >= 0 else m1)
                                    changed = True
                            else:
                                if r == 0:
                                    break
                                r -= 1
                            k += 1
                        if newval:
                            if k > se:
                                raise JpegError("AC run past band end")
                            blk[k] = newval
                            changed = True
                        k += 1
                if eobrun > 0:
                    # EOB region: correction bits only, for the rest of
                    # the band in this block
                    while k <= se:
                        cur = blk[k]
                        if cur != 0:
                            if cnt < 1:
                                if pos + 4 <= dlen:
                                    buf = (buf << 32) | int.from_bytes(
                                        sdata[pos : pos + 4], "big")
                                    pos += 4
                                    cnt += 32
                                else:
                                    if pos < dlen:
                                        buf = (buf << 8) | sdata[pos]
                                        pos += 1
                                    else:
                                        buf <<= 8
                                        virt += 1
                                    cnt += 8
                            cnt -= 1
                            b = (buf >> cnt) & 1
                            buf &= (1 << cnt) - 1
                            if virt and 8 * (pos + virt) - cnt > 8 * dlen + 7:
                                raise JpegError(
                                    "entropy data exhausted (truncated stream)")
                            if b and not (cur & p1):
                                blk[k] = cur + (p1 if cur >= 0 else m1)
                                changed = True
                        k += 1
                    eobrun -= 1
            if changed:
                store[base] = blk
            unit += 1


def decode_jpeg_progressive(data: bytes, max_pixels: int = 64_000_000) -> np.ndarray:
    """Decode progressive (SOF2) JPEG bytes to an HxWx3 uint8 RGB array.

    Normally reached via :func:`~.jpeg.decode_jpeg`'s SOF2 delegation.
    Same error surface (:class:`~.jpeg.JpegError` /
    :class:`~.jpeg.JpegTooLarge`) and pixel budget as the baseline path.
    """
    data = bytes(data)
    if len(data) < 4 or data[0] != 0xFF or data[1] != 0xD8:
        raise JpegError("bad SOI")

    qtables: dict[int, np.ndarray] = {}
    huff: dict = {}
    frame = None
    restart_interval = 0
    geom = None  # set after SOF2
    coefs = None
    any_scan = False

    pos, n = 2, len(data)
    while pos + 2 <= n:
        if data[pos] != 0xFF:
            raise JpegError(f"expected marker at {pos}")
        marker = data[pos + 1]
        if marker == 0xFF:  # fill byte
            pos += 1
            continue
        if marker == 0xD9:  # EOI
            break
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if pos + 4 > n:
            raise JpegError("truncated segment")
        (length,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        s, e = pos + 4, pos + 2 + length
        if length < 2 or e > n:
            raise JpegError("truncated segment")
        seg = data[s:e]

        if marker == 0xDB:
            _parse_dqt(seg, qtables)
        elif marker == 0xC2:
            if frame is not None:
                raise JpegError("multiple SOF markers")
            frame = _parse_sof(seg, max_pixels)
            h, w, comps = frame
            hmax = max(c[1] for c in comps)
            vmax = max(c[2] for c in comps)
            mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
            mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
            blocks_wide = [mcus_x * c[1] for c in comps]
            blocks_high = [mcus_y * c[2] for c in comps]
            # non-interleaved scans cover only the component's own ceil
            # grid, not the MCU-padded grid
            cbw = [(-(-(w * c[1]) // hmax) + 7) // 8 for c in comps]
            cbh = [(-(-(h * c[2]) // vmax) + 7) // 8 for c in comps]
            coefs = [np.zeros((bw * bh, 64), dtype=np.int32)
                     for bw, bh in zip(blocks_wide, blocks_high)]
            geom = (hmax, vmax, mcus_x, mcus_y, blocks_wide, blocks_high,
                    cbw, cbh)
        elif marker in (0xC0, 0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            raise JpegError("not a progressive frame")
        elif marker == 0xC4:
            _parse_dht(seg, huff)
        elif marker == 0xDD:
            if len(seg) < 2:
                raise JpegError("truncated DRI")
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:
            if frame is None:
                raise JpegError("SOS before SOF")
            if len(seg) < 1:
                raise JpegError("truncated SOS")
            ns = seg[0]
            if len(seg) < 1 + 2 * ns + 3:
                raise JpegError("truncated SOS component list")
            h, w, comps = frame
            by_id = {c[0]: i for i, c in enumerate(comps)}
            sel = []
            for i in range(ns):
                cs, tt = seg[1 + 2 * i], seg[2 + 2 * i]
                if cs not in by_id:
                    raise JpegError("scan references unknown component")
                sel.append((by_id[cs], tt >> 4, tt & 0x0F))
            ss, se_, aa = seg[1 + 2 * ns], seg[2 + 2 * ns], seg[3 + 2 * ns]
            ah, al = aa >> 4, aa & 0x0F
            if ss > 63 or se_ > 63 or ss > se_:
                raise JpegError("bad spectral selection")
            if ah > 13 or al > 13:
                raise JpegError("bad successive approximation")
            if ss == 0 and se_ != 0:
                raise JpegError("DC scan must have Se=0")
            if ss > 0 and ns != 1:
                raise JpegError("AC scan must be single-component")
            if ah and ah != al + 1:
                raise JpegError("bad successive-approximation chain")

            spans, end = _scan_spans(data, e)
            (hmax, vmax, mcus_x, mcus_y, blocks_wide, blocks_high,
             cbw, cbh) = geom
            if ss == 0:
                _decode_dc_scan(spans, sel, comps, coefs, blocks_wide,
                                mcus_x, mcus_y, cbw, cbh, restart_interval,
                                ah, al, huff)
            else:
                _decode_ac_scan(spans, sel, coefs, blocks_wide, cbw, cbh,
                                restart_interval, ss, se_, ah, al, huff)
            any_scan = True
            pos = end
            continue
        # APPn / COM / others: skipped
        pos = e

    if frame is None or not any_scan:
        raise JpegError("missing SOF/SOS")
    h, w, comps = frame
    for _, _, _, tq in comps:
        if tq not in qtables:
            raise JpegError(f"missing quant table {tq}")
    hmax, vmax, _, _, blocks_wide, blocks_high, _, _ = geom
    return _assemble_image(coefs, comps, qtables, blocks_wide, blocks_high,
                           h, w, hmax, vmax)


# ---------------------------------------------------------------------------
# encoder (fixture synthesis)
# ---------------------------------------------------------------------------


def _enc_dc_first(wr, blocks, preds_key, preds, al, dc_codes):
    """DC first scan contribution for one component's block: code the
    diff of (dc >> Al) — arithmetic shift per G.1.2.1."""
    for blk in blocks:
        v = int(blk[0]) >> al
        diff = v - preds[preds_key]
        preds[preds_key] = v
        t = _size_cat(diff)
        code, ln = dc_codes[t]
        wr.write(code, ln)
        if t:
            wr.write(diff if diff >= 0 else diff + (1 << t) - 1, t)


def _enc_ac_first(wr, blk, ss, se, al, ac_codes):
    """AC first scan for one block: magnitude >> Al (rounds toward zero),
    EOB always coded as EOB0 (run length 1 — the only EOBn in Annex K)."""
    run = 0
    last = se
    vals = []
    for k in range(ss, se + 1):
        v = int(blk[k])
        mag = (abs(v) >> al)
        vals.append(-mag if v < 0 else mag)
    while last >= ss and vals[last - ss] == 0:
        last -= 1
    for k in range(ss, last + 1):
        v = vals[k - ss]
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_codes[0xF0]
            wr.write(code, ln)
            run -= 16
        size = _size_cat(v)
        code, ln = ac_codes[(run << 4) | size]
        wr.write(code, ln)
        wr.write(v if v >= 0 else v + (1 << size) - 1, size)
        run = 0
    if last < se:
        code, ln = ac_codes[0x00]  # EOB (run 1)
        wr.write(code, ln)


def _enc_ac_refine(wr, blk, ss, se, al, ac_codes):
    """AC refinement for one block (the G.1.2.3 inverse): newly
    significant coefficients (|v|>>Al == 1) are coded as run+size-1 plus
    a sign bit; already-significant ones contribute buffered correction
    bits; a final EOB0 flushes the tail."""
    absv = [abs(int(blk[k])) >> al for k in range(se + 1)]
    eob = ss - 1
    for k in range(ss, se + 1):
        if absv[k] == 1:
            eob = k
    run = 0
    pend: list[int] = []
    for k in range(ss, se + 1):
        t = absv[k]
        if t == 0:
            run += 1
            continue
        # ZRL flushing must happen at EVERY nonzero coefficient (not just
        # newly-significant ones) so that each buffered correction bit's
        # position stays inside the 16-zero window of the ZRL it follows
        # — the decoder reads correction bits positionally while
        # advancing, so a bit flushed past its window desyncs the stream.
        # ZRLs never extend past the last newly-significant coefficient
        # (the EOB covers that tail).
        while run > 15 and k <= eob:
            code, ln = ac_codes[0xF0]
            wr.write(code, ln)
            for b in pend:
                wr.write(b, 1)
            pend = []
            run -= 16
        if t > 1:
            pend.append(t & 1)  # correction bit for prior-scan coefficient
            continue
        # newly significant (t == 1); always k <= eob here
        code, ln = ac_codes[(run << 4) | 1]
        wr.write(code, ln)
        wr.write(1 if int(blk[k]) >= 0 else 0, 1)
        for b in pend:
            wr.write(b, 1)
        pend = []
        run = 0
    if run > 0 or pend:
        code, ln = ac_codes[0x00]  # EOB0: covers the tail of this block
        wr.write(code, ln)
        for b in pend:
            wr.write(b, 1)


def encode_jpeg_progressive(img: np.ndarray, quality: int = 90,
                            subsampling: str = "444") -> bytes:
    """Encode HxW (gray) or HxWx3 (RGB) uint8 as progressive JPEG bytes.

    Same coefficients as :func:`~.jpeg.encode_jpeg` (shared
    ``_fdct_quant``), serialized through a scan script that exercises
    both spectral selection and successive approximation (DC Al=1 +
    refinement; luma AC split 1-5/6-63 at Al=2 with two refinement
    passes; chroma AC at Al=1 with one).  Decoding this output must be
    bit-equal to decoding the baseline encoding of the same image.
    """
    if img.dtype != np.uint8:
        raise JpegError(f"expected uint8, got {img.dtype}")
    gray = img.ndim == 2
    if not gray and (img.ndim != 3 or img.shape[2] != 3):
        raise JpegError(f"unsupported shape {img.shape}")
    if subsampling not in _SUBSAMPLING:
        raise JpegError(f"unsupported subsampling {subsampling}")
    h, w = img.shape[:2]
    if h <= 0 or w <= 0 or h > 0xFFFF or w > 0xFFFF:
        raise JpegError("bad dimensions")
    qt_l, qt_c = _quality_tables(quality)

    if gray:
        y = img.astype(np.float64) - 128.0
        planes = [(_pad_to(y, 8, 8), qt_l)]
        factors = [(1, 1)]
    else:
        rgb = img.astype(np.float64)
        y = 0.299 * rgb[:, :, 0] + 0.587 * rgb[:, :, 1] + 0.114 * rgb[:, :, 2]
        cb = (-0.168736 * rgb[:, :, 0] - 0.331264 * rgb[:, :, 1]
              + 0.5 * rgb[:, :, 2])
        cr = (0.5 * rgb[:, :, 0] - 0.418688 * rgb[:, :, 1]
              - 0.081312 * rgb[:, :, 2])
        sx, sy = _SUBSAMPLING[subsampling]
        yp = _pad_to(y - 128.0, 8 * sy, 8 * sx)
        chroma = []
        for c in (cb, cr):
            cp = _pad_to(c, 8 * sy, 8 * sx)
            if sx > 1 or sy > 1:
                cp = cp.reshape(cp.shape[0] // sy, sy,
                                cp.shape[1] // sx, sx).mean(axis=(1, 3))
            chroma.append(cp)
        planes = [(yp, qt_l), (chroma[0], qt_c), (chroma[1], qt_c)]
        factors = [(sx, sy), (1, 1), (1, 1)]

    zz = [_fdct_quant(p, qt) for p, qt in planes]
    bwides = [p.shape[1] // 8 for p, _ in planes]
    bhighs = [p.shape[0] // 8 for p, _ in planes]
    nc = len(planes)
    hmax = max(f[0] for f in factors)
    vmax = max(f[1] for f in factors)
    mcus_x = planes[0][0].shape[1] // (8 * hmax)
    mcus_y = planes[0][0].shape[0] // (8 * vmax)
    # non-interleaved (AC / single-component) scans iterate the ceil grid
    cbw = [(-(-(w * f[0]) // hmax) + 7) // 8 for f in factors]
    cbh = [(-(-(h * f[1]) // vmax) + 7) // 8 for f in factors]

    # --- headers ---
    out = bytearray(b"\xff\xd8")
    out += (b"\xff\xe0" + struct.pack(">H", 16)
            + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")

    def dqt(tid: int, t: np.ndarray) -> bytes:
        return b"\xff\xdb" + struct.pack(">HB", 67, tid) + bytes(int(v) for v in t)

    out += dqt(0, qt_l)
    if not gray:
        out += dqt(1, qt_c)

    sof = struct.pack(">BHHB", 8, h, w, nc)
    for i in range(nc):
        hf, vf = factors[i]
        sof += bytes([i + 1, (hf << 4) | vf, 0 if i == 0 else 1])
    out += b"\xff\xc2" + struct.pack(">H", 2 + len(sof)) + sof  # SOF2

    def dht(tc: int, th: int, bits: list[int], vals: list[int]) -> bytes:
        body = bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals)
        return b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body

    out += dht(0, 0, _DC_LUMA_BITS, _DC_LUMA_VALS)
    out += dht(1, 0, _AC_LUMA_BITS, _AC_LUMA_VALS)
    if not gray:
        out += dht(0, 1, _DC_CHROMA_BITS, _DC_CHROMA_VALS)
        out += dht(1, 1, _AC_CHROMA_BITS, _AC_CHROMA_VALS)

    dc_l = _canonical_codes(_DC_LUMA_BITS, _DC_LUMA_VALS)
    ac_l = _canonical_codes(_AC_LUMA_BITS, _AC_LUMA_VALS)
    dc_c = _canonical_codes(_DC_CHROMA_BITS, _DC_CHROMA_VALS)
    ac_c = _canonical_codes(_AC_CHROMA_BITS, _AC_CHROMA_VALS)
    dc_tabs = [dc_l] + [dc_c] * (nc - 1)
    ac_tabs = [ac_l] + [ac_c] * (nc - 1)

    # --- scan script: spectral selection + successive approximation ---
    if gray:
        script = [
            ([0], 0, 0, 0, 1),    # DC, Al=1
            ([0], 1, 5, 0, 2),    # AC low band, Al=2
            ([0], 6, 63, 0, 2),   # AC high band, Al=2
            ([0], 1, 63, 2, 1),   # AC refine 2->1
            ([0], 0, 0, 1, 0),    # DC refine
            ([0], 1, 63, 1, 0),   # AC refine 1->0
        ]
    else:
        script = [
            ([0, 1, 2], 0, 0, 0, 1),  # interleaved DC, Al=1
            ([0], 1, 5, 0, 2),
            ([2], 1, 63, 0, 1),
            ([1], 1, 63, 0, 1),
            ([0], 6, 63, 0, 2),
            ([0], 1, 63, 2, 1),
            ([0, 1, 2], 0, 0, 1, 0),  # interleaved DC refine
            ([0], 1, 63, 1, 0),
            ([2], 1, 63, 1, 0),
            ([1], 1, 63, 1, 0),
        ]

    for comps_sel, ss, se, ah, al in script:
        sos = bytes([len(comps_sel)])
        for ci in comps_sel:
            dc_id = 0 if ci == 0 else 1
            ac_id = 0 if ci == 0 else 1
            sos += bytes([ci + 1, (dc_id << 4) | ac_id])
        sos += bytes([ss, se, (ah << 4) | al])
        out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

        wr = _BitWriter()
        if ss == 0:
            interleaved = len(comps_sel) > 1
            if ah == 0:
                preds = {ci: 0 for ci in comps_sel}
                if interleaved:
                    for mcu in range(mcus_x * mcus_y):
                        my, mx = divmod(mcu, mcus_x)
                        for ci in comps_sel:
                            hf, vf = factors[ci]
                            blocks = [
                                zz[ci][(my * vf + dy) * bwides[ci]
                                       + mx * hf + dx]
                                for dy in range(vf) for dx in range(hf)
                            ]
                            _enc_dc_first(wr, blocks, ci, preds, al,
                                          dc_tabs[ci])
                else:
                    ci = comps_sel[0]
                    for u in range(cbw[ci] * cbh[ci]):
                        r, c = divmod(u, cbw[ci])
                        _enc_dc_first(wr, [zz[ci][r * bwides[ci] + c]],
                                      ci, preds, al, dc_tabs[ci])
            else:
                if interleaved:
                    for mcu in range(mcus_x * mcus_y):
                        my, mx = divmod(mcu, mcus_x)
                        for ci in comps_sel:
                            hf, vf = factors[ci]
                            for dy in range(vf):
                                for dx in range(hf):
                                    v = int(zz[ci][(my * vf + dy) * bwides[ci]
                                                   + mx * hf + dx][0])
                                    wr.write((v >> al) & 1, 1)
                else:
                    ci = comps_sel[0]
                    for u in range(cbw[ci] * cbh[ci]):
                        r, c = divmod(u, cbw[ci])
                        v = int(zz[ci][r * bwides[ci] + c][0])
                        wr.write((v >> al) & 1, 1)
        else:
            ci = comps_sel[0]
            for u in range(cbw[ci] * cbh[ci]):
                r, c = divmod(u, cbw[ci])
                blk = zz[ci][r * bwides[ci] + c]
                if ah == 0:
                    _enc_ac_first(wr, blk, ss, se, al, ac_tabs[ci])
                else:
                    _enc_ac_refine(wr, blk, ss, se, al, ac_tabs[ci])
        wr.flush()
        out += wr.out

    out += b"\xff\xd9"
    return bytes(out)
