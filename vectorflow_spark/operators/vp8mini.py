"""Pure-Python/numpy VP8 (lossy WebP) KEYFRAME codec — RFC 6386.

The decoder covers the whole keyframe feature surface a real lossy-WebP
still image uses: bool-coded headers (segmentation, loop-filter deltas,
multiple token partitions, quantizer deltas, coefficient-probability
updates, skip flags), 16x16/4x4/chroma intra prediction with the spec
border rules, token decoding with contexts/bands/categories, dequant +
iDCT/iWHT reconstruction, and the full normal + simple in-loop filters.
It is pinned BIT-EXACTLY (Y/U/V planes) against the system libwebp's
WebPDecodeYUV over libwebp-encoded streams in
tests/test_vp8_libwebp_parity.py; production code never links libwebp.

The encoder is a deterministic fixture writer (intra16 DC/V/H/TM, single
token partition, no skip), sufficient to generate corpora that both this
decoder and libwebp decode identically.

Interframes (golden/altref, motion vectors) are out of scope and refuse
loudly — a crawl still image is always a keyframe.

Reference parity: vectorflow reference handles images only client-side
(README.md:49); this module is extension scope for web-corpus ingest.
"""

from __future__ import annotations

import struct

import numpy as np

from vectorflow_spark.operators._vp8tables import (
    AC_QLOOKUP,
    BMODE_TREE,
    CAT_BASE,
    CAT_PROBS,
    COEFF_BANDS,
    COEFF_TREE,
    COEFF_UPDATE_PROBS,
    DC_QLOOKUP,
    DEFAULT_COEFF_PROBS,
    KF_BMODE_PROBS,
    KF_YMODE_PROBS,
    KF_YMODE_TREE,
    SEGMENT_TREE,
    UV_MODE_PROBS,
    UV_MODE_TREE,
    ZIGZAG,
)

# the keyframe header's 1056 "no coeff-prob update" flags, flattened once
# for a single _BoolEnc.bits() pass (same bits in the same order)
_COEFF_UPDATE_ZEROS = tuple(
    (COEFF_UPDATE_PROBS[i][j][k][t], 0)
    for i in range(4)
    for j in range(8)
    for k in range(3)
    for t in range(11)
)

# mode ids (RFC 6386 8.2): luma 16x16 / chroma
DC_PRED, V_PRED, H_PRED, TM_PRED, B_PRED = 0, 1, 2, 3, 4
# 4x4 submodes — libwebp's enum order (RD/VR/LD differ from the RFC's
# listing order); KF_BMODE_PROBS rows/cols are indexed by THIS numbering,
# since the table was verified against libwebp's kBModesProba
B_DC, B_TM, B_VE, B_HE, B_RD, B_VR, B_LD, B_VL, B_HD, B_HU = range(10)
# the submode implied by a 16x16 mode for neighbouring-context purposes
_MODE_AS_SUB = {DC_PRED: B_DC, V_PRED: B_VE, H_PRED: B_HE, TM_PRED: B_TM}


class _BoolDec:
    """RFC 6386 section 7 boolean decoder (byte-fed, bit-at-a-time renorm)."""

    __slots__ = ("d", "n", "pos", "rng", "val", "cnt")

    def __init__(self, d: bytes):
        self.d = d
        self.n = len(d)
        self.val = ((d[0] << 8) | d[1]) if self.n >= 2 else ((d[0] << 8) if self.n else 0)
        self.pos = 2
        self.rng = 255
        self.cnt = 0

    def bit(self, prob: int = 128) -> int:
        # hot path: locals + MULTI-BIT renorm (shift = 8 - bit_length;
        # cnt0 <= 7 and shift <= 7, so at most one byte feeds per call,
        # ORed at bit offset cnt-8 exactly like the bit-at-a-time loop)
        rng = self.rng
        val = self.val
        split = 1 + (((rng - 1) * prob) >> 8)
        big = split << 8
        if val >= big:
            ret = 1
            rng -= split
            val -= big
        else:
            ret = 0
            rng = split
        if rng < 128:
            shift = 8 - rng.bit_length()
            rng <<= shift
            val <<= shift
            cnt = self.cnt + shift
            if cnt >= 8:
                cnt -= 8
                pos = self.pos
                if pos < self.n:
                    val |= self.d[pos] << cnt
                    self.pos = pos + 1
            self.cnt = cnt
        self.rng = rng
        self.val = val
        return ret

    def lit(self, nbits: int) -> int:
        v = 0
        for _ in range(nbits):
            v = (v << 1) | self.bit(128)
        return v

    def signed_lit(self, nbits: int) -> int:
        v = self.lit(nbits)
        return -v if self.bit(128) else v

    def tree(self, tree: tuple, probs, start: int = 0) -> int:
        i = start
        while True:
            b = self.bit(probs[i >> 1])
            i = tree[i + b]
            if i <= 0:
                return -i


def _clip255(v: int) -> int:
    return 0 if v < 0 else 255 if v > 255 else v


def _clamp_q(v: int, hi: int = 127) -> int:
    return 0 if v < 0 else hi if v > hi else v


class _FrameHeader:
    __slots__ = (
        "w", "h", "segmentation", "seg_abs", "seg_quant", "seg_lf", "seg_tree_probs",
        "update_map", "simple_filter", "filter_level", "sharpness",
        "lf_delta", "ref_lf_delta", "mode_lf_delta", "nparts",
        "yac_qi", "ydc_d", "y2dc_d", "y2ac_d", "uvdc_d", "uvac_d",
        "coeff_probs", "use_skip", "prob_skip",
    )


def _parse_header(d: bytes):
    """Frame tag + keyframe header. Returns (hdr, bool-decoder positioned at
    per-MB data, list of token-partition BoolDecs, mb_w, mb_h)."""
    if len(d) < 10:
        raise ValueError("vp8: truncated frame")
    tag = d[0] | (d[1] << 8) | (d[2] << 16)
    if tag & 1:
        raise NotImplementedError("vp8: interframe (not a keyframe) — still images are keyframes")
    part1_size = tag >> 5
    if d[3:6] != b"\x9d\x01\x2a":
        raise ValueError("vp8: bad keyframe start code")
    hdr = _FrameHeader()
    hdr.w = struct.unpack_from("<H", d, 6)[0] & 0x3FFF
    hdr.h = struct.unpack_from("<H", d, 8)[0] & 0x3FFF
    if hdr.w == 0 or hdr.h == 0:
        raise ValueError("vp8: zero dimension")
    p1 = d[10 : 10 + part1_size]
    if len(p1) < part1_size:
        raise ValueError("vp8: truncated first partition")
    br = _BoolDec(p1)
    br.bit()  # color space (must be 0 for defined behaviour; tolerated)
    br.bit()  # clamping type

    hdr.seg_quant = [0, 0, 0, 0]
    hdr.seg_lf = [0, 0, 0, 0]
    hdr.seg_tree_probs = [255, 255, 255]
    hdr.seg_abs = False
    hdr.update_map = False
    hdr.segmentation = bool(br.bit())
    if hdr.segmentation:
        hdr.update_map = bool(br.bit())
        update_data = bool(br.bit())
        if update_data:
            hdr.seg_abs = bool(br.bit())
            for i in range(4):
                hdr.seg_quant[i] = br.signed_lit(7) if br.bit() else 0
            for i in range(4):
                hdr.seg_lf[i] = br.signed_lit(6) if br.bit() else 0
        if hdr.update_map:
            for i in range(3):
                hdr.seg_tree_probs[i] = br.lit(8) if br.bit() else 255

    hdr.simple_filter = bool(br.bit())
    hdr.filter_level = br.lit(6)
    hdr.sharpness = br.lit(3)
    hdr.ref_lf_delta = [0, 0, 0, 0]
    hdr.mode_lf_delta = [0, 0, 0, 0]
    hdr.lf_delta = bool(br.bit())
    if hdr.lf_delta and br.bit():  # delta update flag
        for i in range(4):
            if br.bit():
                hdr.ref_lf_delta[i] = br.signed_lit(6)
        for i in range(4):
            if br.bit():
                hdr.mode_lf_delta[i] = br.signed_lit(6)

    hdr.nparts = 1 << br.lit(2)
    # token partition layout: sizes (3-byte LE each) for the first
    # nparts-1 partitions follow partition 1; the last runs to EOF
    sizes_at = 10 + part1_size
    toks = []
    off = sizes_at + 3 * (hdr.nparts - 1)
    for i in range(hdr.nparts):
        if i < hdr.nparts - 1:
            if sizes_at + 3 * i + 3 > len(d):
                raise ValueError("vp8: truncated partition size table")
            sz = d[sizes_at + 3 * i] | (d[sizes_at + 3 * i + 1] << 8) | (d[sizes_at + 3 * i + 2] << 16)
        else:
            sz = len(d) - off
        if sz <= 0 or off + sz > len(d):
            raise ValueError("vp8: bad token partition bounds")
        toks.append(_BoolDec(d[off : off + sz]))
        off += sz

    hdr.yac_qi = br.lit(7)
    hdr.ydc_d = br.signed_lit(4) if br.bit() else 0
    hdr.y2dc_d = br.signed_lit(4) if br.bit() else 0
    hdr.y2ac_d = br.signed_lit(4) if br.bit() else 0
    hdr.uvdc_d = br.signed_lit(4) if br.bit() else 0
    hdr.uvac_d = br.signed_lit(4) if br.bit() else 0

    br.bit()  # refresh entropy probs (keyframe: no effect within the frame)

    hdr.coeff_probs = _read_coeff_prob_updates(br)

    hdr.use_skip = bool(br.bit())
    hdr.prob_skip = br.lit(8) if hdr.use_skip else 0

    mb_w = (hdr.w + 15) >> 4
    mb_h = (hdr.h + 15) >> 4
    return hdr, br, toks, mb_w, mb_h


def _read_coeff_prob_updates(br: _BoolDec):
    """The 4x8x3x11 coeff-prob update block with the bool-decoder state
    in LOCALS — same arithmetic as 1056 br.bit() calls (+ br.lit(8) per
    set flag), one state write-back at the end."""
    d = br.d
    nlen = br.n
    pos = br.pos
    rng = br.rng
    val = br.val
    cnt = br.cnt
    def _b(pr: int) -> int:
        nonlocal rng, val, cnt, pos
        split = 1 + (((rng - 1) * pr) >> 8)
        big = split << 8
        if val >= big:
            rng -= split
            val -= big
            ret = 1
        else:
            rng = split
            ret = 0
        if rng < 128:
            sh = 8 - rng.bit_length()
            rng <<= sh
            val <<= sh
            cnt += sh
            if cnt >= 8:
                cnt -= 8
                if pos < nlen:
                    val |= d[pos] << cnt
                    pos += 1
        return ret

    probs = []
    for i in range(4):
        pi = []
        for j in range(8):
            pj = []
            for k in range(3):
                upd = COEFF_UPDATE_PROBS[i][j][k]
                row = list(DEFAULT_COEFF_PROBS[i][j][k])
                for t in range(11):
                    if _b(upd[t]):
                        v = 0
                        for _ in range(8):
                            v = (v << 1) | _b(128)
                        row[t] = v
                pj.append(row)
            pi.append(pj)
        probs.append(pi)
    br.pos = pos
    br.rng = rng
    br.val = val
    br.cnt = cnt
    return probs


def _quantizers(hdr):
    """Per-segment (y1dc, y1ac, y2dc, y2ac, uvdc, uvac) dequant factors."""
    out = []
    for s in range(4):
        if hdr.segmentation:
            q = hdr.seg_quant[s] if hdr.seg_abs else hdr.yac_qi + hdr.seg_quant[s]
        else:
            q = hdr.yac_qi
        q = _clamp_q(q)
        y1dc = DC_QLOOKUP[_clamp_q(q + hdr.ydc_d)]
        y1ac = AC_QLOOKUP[q]
        y2dc = DC_QLOOKUP[_clamp_q(q + hdr.y2dc_d)] * 2
        y2ac = AC_QLOOKUP[_clamp_q(q + hdr.y2ac_d)] * 155 // 100
        if y2ac < 8:
            y2ac = 8
        uvdc = DC_QLOOKUP[_clamp_q(q + hdr.uvdc_d, 117)]
        uvac = AC_QLOOKUP[_clamp_q(q + hdr.uvac_d)]
        out.append((y1dc, y1ac, y2dc, y2ac, uvdc, uvac))
    return out


# ---------------------------------------------------------------------------
# Transforms (RFC 6386 section 14; integer-exact, arithmetic >> matches C)
# ---------------------------------------------------------------------------


def _idct4x4_add(coeffs, dst: np.ndarray, y0: int, x0: int) -> None:
    """in-place: dst[y0:y0+4, x0:x0+4] += idct(coeffs) (clipped).

    Hot path (r6 verdict item 5): the patch is read and written as ONE
    4x4 slice (tolist / list assign) with all arithmetic on Python ints
    — 16 per-element numpy scalar reads/writes were ~2x the whole
    function's cost. Integer-exact, same >> semantics as the C code."""
    tmp = [0] * 16
    for i in range(4):
        c4, c12 = coeffs[4 + i], coeffs[12 + i]
        a = coeffs[i] + coeffs[8 + i]
        b = coeffs[i] - coeffs[8 + i]
        c = ((c4 * 35468) >> 16) - (((c12 * 20091) >> 16) + c12)
        d = (((c4 * 20091) >> 16) + c4) + ((c12 * 35468) >> 16)
        tmp[i] = a + d
        tmp[4 + i] = b + c
        tmp[8 + i] = b - c
        tmp[12 + i] = a - d
    patch = dst[y0 : y0 + 4, x0 : x0 + 4].tolist()
    for i in range(4):
        t1, t3 = tmp[4 * i + 1], tmp[4 * i + 3]
        dc = tmp[4 * i] + 4
        a = dc + tmp[4 * i + 2]
        b = dc - tmp[4 * i + 2]
        c = ((t1 * 35468) >> 16) - (((t3 * 20091) >> 16) + t3)
        d = (((t1 * 20091) >> 16) + t1) + ((t3 * 35468) >> 16)
        row = patch[i]
        v = row[0] + ((a + d) >> 3)
        row[0] = 0 if v < 0 else 255 if v > 255 else v
        v = row[1] + ((b + c) >> 3)
        row[1] = 0 if v < 0 else 255 if v > 255 else v
        v = row[2] + ((b - c) >> 3)
        row[2] = 0 if v < 0 else 255 if v > 255 else v
        v = row[3] + ((a - d) >> 3)
        row[3] = 0 if v < 0 else 255 if v > 255 else v
    dst[y0 : y0 + 4, x0 : x0 + 4] = patch


def _iwht4x4(coeffs) -> list:
    """Y2 inverse Walsh-Hadamard: 16 coeffs -> 16 luma-block DCs (raster)."""
    tmp = [0] * 16
    for i in range(4):
        a0 = coeffs[i] + coeffs[12 + i]
        a1 = coeffs[4 + i] + coeffs[8 + i]
        a2 = coeffs[4 + i] - coeffs[8 + i]
        a3 = coeffs[i] - coeffs[12 + i]
        tmp[i] = a0 + a1
        tmp[8 + i] = a0 - a1
        tmp[4 + i] = a3 + a2
        tmp[12 + i] = a3 - a2
    out = [0] * 16
    for i in range(4):
        dc = tmp[4 * i] + 3
        a0 = dc + tmp[4 * i + 3]
        a1 = tmp[4 * i + 1] + tmp[4 * i + 2]
        a2 = tmp[4 * i + 1] - tmp[4 * i + 2]
        a3 = dc - tmp[4 * i + 3]
        out[4 * i + 0] = (a0 + a1) >> 3
        out[4 * i + 1] = (a3 + a2) >> 3
        out[4 * i + 2] = (a0 - a1) >> 3
        out[4 * i + 3] = (a3 - a2) >> 3
    return out


# ---------------------------------------------------------------------------
# Token / residual decoding (RFC 6386 section 13)
# ---------------------------------------------------------------------------


def _get_coeffs(br: _BoolDec, probs_plane, ctx: int, dq, first: int, out) -> int:
    """Decode one block's tokens into out[16] (dequantized, zigzag-placed).
    Returns the coefficient position reached (EOB position). ``dq`` is
    (dc_factor, ac_factor); probs_plane is coeff_probs[plane].

    The bool decoder is INLINED at the two hottest decisions (EOB and
    the DCT_0 run — the large majority of all bit() calls in a frame;
    per-call dispatch overhead dominated decode time, r6 verdict item
    5) and runs through the local closure ``_b`` for the value tree.
    Both are the exact _BoolDec.bit algorithm over local state, synced
    back on exit; the 175-case libwebp parity matrix pins the output
    bit-exactly."""
    d = br.d
    nlen = br.n
    pos = br.pos
    rng = br.rng
    val = br.val
    cnt = br.cnt

    def _b(pr: int) -> int:
        nonlocal rng, val, cnt, pos
        split = 1 + (((rng - 1) * pr) >> 8)
        big = split << 8
        if val >= big:
            rng -= split
            val -= big
            ret = 1
        else:
            rng = split
            ret = 0
        if rng < 128:
            sh = 8 - rng.bit_length()
            rng <<= sh
            val <<= sh
            cnt += sh
            if cnt >= 8:
                cnt -= 8
                if pos < nlen:
                    val |= d[pos] << cnt
                    pos += 1
        return ret

    n = first
    p = probs_plane[COEFF_BANDS[n]][ctx]
    try:
        while n < 16:
            # inline bit(p[0]): EOB?
            split = 1 + (((rng - 1) * p[0]) >> 8)
            big = split << 8
            if val >= big:
                rng -= split
                val -= big
                b = 1
            else:
                rng = split
                b = 0
            if rng < 128:
                sh = 8 - rng.bit_length()
                rng <<= sh
                val <<= sh
                cnt += sh
                if cnt >= 8:
                    cnt -= 8
                    if pos < nlen:
                        val |= d[pos] << cnt
                        pos += 1
            if not b:
                return n
            while True:
                # inline bit(p[1]): DCT_0 run
                split = 1 + (((rng - 1) * p[1]) >> 8)
                big = split << 8
                if val >= big:
                    rng -= split
                    val -= big
                    b = 1
                else:
                    rng = split
                    b = 0
                if rng < 128:
                    sh = 8 - rng.bit_length()
                    rng <<= sh
                    val <<= sh
                    cnt += sh
                    if cnt >= 8:
                        cnt -= 8
                        if pos < nlen:
                            val |= d[pos] << cnt
                            pos += 1
                if b:
                    break
                n += 1
                if n == 16:
                    return 16
                p = probs_plane[COEFF_BANDS[n]][0]
            # nonzero value
            if not _b(p[2]):
                v = 1
                next_ctx = 1
            else:
                next_ctx = 2
                if not _b(p[3]):
                    if not _b(p[4]):
                        v = 2
                    else:
                        v = 3 if not _b(p[5]) else 4
                else:
                    if not _b(p[6]):
                        cat = 5 if not _b(p[7]) else 6
                    else:
                        cat = (7 if not _b(p[9]) else 8) if not _b(p[8]) else (9 if not _b(p[10]) else 10)
                    v = CAT_BASE[cat]
                    extra = 0
                    for cp in CAT_PROBS[cat]:
                        extra = (extra << 1) | _b(cp)
                    v += extra
            if _b(128):  # sign
                v = -v
            out[ZIGZAG[n]] = v * dq[n > 0]
            n += 1
            if n == 16:
                return 16
            p = probs_plane[COEFF_BANDS[n]][next_ctx]
        return 16
    finally:
        br.pos = pos
        br.rng = rng
        br.val = val
        br.cnt = cnt


# ---------------------------------------------------------------------------
# Intra prediction (RFC 6386 section 12) on a bordered scratch block
# ---------------------------------------------------------------------------


def _pred16_or_8(buf: np.ndarray, size: int, mode: int, have_top: bool, have_left: bool) -> None:
    """Fill buf[1:1+size, 1:1+size] from its borders (row 0 = above incl.
    corner at [0,0], col 0 = left). DC excludes missing edges per spec."""
    top = buf[0, 1 : 1 + size].astype(np.int32)
    left = buf[1 : 1 + size, 0].astype(np.int32)
    if mode == DC_PRED:
        if have_top and have_left:
            dc = (int(top.sum()) + int(left.sum()) + size) >> (5 if size == 16 else 4)
        elif have_top:
            dc = (int(top.sum()) + (size >> 1)) >> (4 if size == 16 else 3)
        elif have_left:
            dc = (int(left.sum()) + (size >> 1)) >> (4 if size == 16 else 3)
        else:
            dc = 128
        buf[1 : 1 + size, 1 : 1 + size] = dc
    elif mode == V_PRED:
        buf[1 : 1 + size, 1 : 1 + size] = top[None, :]
    elif mode == H_PRED:
        buf[1 : 1 + size, 1 : 1 + size] = left[:, None]
    else:  # TM
        corner = int(buf[0, 0])
        vals = left[:, None] + top[None, :] - corner
        buf[1 : 1 + size, 1 : 1 + size] = np.clip(vals, 0, 255)


def _avg3(a: int, b: int, c: int) -> int:
    return (a + 2 * b + c + 2) >> 2


def _avg2p(a: int, b: int) -> int:
    return (a + b + 1) >> 1


def _pred4(buf: np.ndarray, y0: int, x0: int, mode: int) -> None:
    """4x4 predictor into buf[y0:y0+4, x0:x0+4]; borders already present
    (row y0-1 incl. corners and 4 above-right, col x0-1)."""
    A = [int(buf[y0 - 1, x0 + i]) for i in range(8)]  # above + above-right
    L = [int(buf[y0 + i, x0 - 1]) for i in range(4)]
    C = int(buf[y0 - 1, x0 - 1])
    o = buf[y0 : y0 + 4, x0 : x0 + 4]
    if mode == B_DC:
        o[:] = (sum(A[:4]) + sum(L) + 4) >> 3
    elif mode == B_TM:
        for i in range(4):
            for j in range(4):
                o[i, j] = _clip255(L[i] + A[j] - C)
    elif mode == B_VE:
        row = [
            _avg3(C, A[0], A[1]),
            _avg3(A[0], A[1], A[2]),
            _avg3(A[1], A[2], A[3]),
            _avg3(A[2], A[3], A[4]),
        ]
        o[:] = np.array(row, np.uint8)[None, :]
    elif mode == B_HE:
        col = [
            _avg3(C, L[0], L[1]),
            _avg3(L[0], L[1], L[2]),
            _avg3(L[1], L[2], L[3]),
            _avg3(L[2], L[3], L[3]),
        ]
        o[:] = np.array(col, np.uint8)[:, None]
    elif mode == B_LD:
        for i in range(4):
            for j in range(4):
                k = i + j
                o[i, j] = _avg3(A[k], A[k + 1], A[k + 2]) if k < 6 else _avg3(A[6], A[7], A[7])
    elif mode == B_RD:
        e = [L[3], L[2], L[1], L[0], C, A[0], A[1], A[2], A[3]]
        for i in range(4):
            for j in range(4):
                k = j - i + 3
                o[i, j] = _avg3(e[k], e[k + 1], e[k + 2]) if k + 2 <= 8 else _avg3(e[6], e[7], e[8])
    elif mode == B_VR:
        # rows 2/3 repeat rows 0/1 shifted one column right; column 0 of
        # rows 2/3 descends the left edge
        o[0, 0] = o[2, 1] = _avg2p(C, A[0])
        o[0, 1] = o[2, 2] = _avg2p(A[0], A[1])
        o[0, 2] = o[2, 3] = _avg2p(A[1], A[2])
        o[0, 3] = _avg2p(A[2], A[3])
        o[1, 0] = o[3, 1] = _avg3(L[0], C, A[0])
        o[1, 1] = o[3, 2] = _avg3(C, A[0], A[1])
        o[1, 2] = o[3, 3] = _avg3(A[0], A[1], A[2])
        o[1, 3] = _avg3(A[1], A[2], A[3])
        o[2, 0] = _avg3(L[1], L[0], C)
        o[3, 0] = _avg3(L[2], L[1], L[0])
    elif mode == B_VL:
        o[0, 0] = _avg2p(A[0], A[1])
        o[0, 1] = o[2, 0] = _avg2p(A[1], A[2])
        o[0, 2] = o[2, 1] = _avg2p(A[2], A[3])
        o[0, 3] = o[2, 2] = _avg2p(A[3], A[4])
        o[1, 0] = _avg3(A[0], A[1], A[2])
        o[1, 1] = o[3, 0] = _avg3(A[1], A[2], A[3])
        o[1, 2] = o[3, 1] = _avg3(A[2], A[3], A[4])
        o[1, 3] = o[3, 2] = _avg3(A[3], A[4], A[5])
        o[2, 3] = _avg3(A[4], A[5], A[6])
        o[3, 3] = _avg3(A[5], A[6], A[7])
    elif mode == B_HD:
        o[0, 0] = _avg2p(C, L[0])
        o[0, 1] = _avg3(L[0], C, A[0])
        o[0, 2] = _avg3(C, A[0], A[1])
        o[0, 3] = _avg3(A[0], A[1], A[2])
        o[1, 0] = _avg2p(L[0], L[1])
        o[1, 1] = _avg3(C, L[0], L[1])
        o[1, 2] = o[0, 0]
        o[1, 3] = o[0, 1]
        o[2, 0] = _avg2p(L[1], L[2])
        o[2, 1] = _avg3(L[0], L[1], L[2])
        o[2, 2] = o[1, 0]
        o[2, 3] = o[1, 1]
        o[3, 0] = _avg2p(L[2], L[3])
        o[3, 1] = _avg3(L[1], L[2], L[3])
        o[3, 2] = o[2, 0]
        o[3, 3] = o[2, 1]
    elif mode == B_HU:
        o[0, 0] = _avg2p(L[0], L[1])
        o[0, 1] = _avg3(L[0], L[1], L[2])
        o[0, 2] = _avg2p(L[1], L[2])
        o[0, 3] = _avg3(L[1], L[2], L[3])
        o[1, 0] = o[0, 2]
        o[1, 1] = o[0, 3]
        o[1, 2] = _avg2p(L[2], L[3])
        o[1, 3] = _avg3(L[2], L[3], L[3])
        o[2, 0] = o[1, 2]
        o[2, 1] = o[1, 3]
        o[2, 2] = o[3, 0] = o[3, 1] = o[3, 2] = o[3, 3] = L[3]
        o[2, 3] = L[3]
    else:
        raise ValueError(f"vp8: bad 4x4 mode {mode}")


# ---------------------------------------------------------------------------
# Loop filter (RFC 6386 section 15; libwebp-identical arithmetic)
# ---------------------------------------------------------------------------


def _sclip1(v: int) -> int:
    return -128 if v < -128 else 127 if v > 127 else v


def _sclip2(v: int) -> int:
    return -16 if v < -16 else 15 if v > 15 else v


def _do_filter2(p, idx, step):
    p1, p0, q0, q1 = int(p[idx - 2 * step]), int(p[idx - step]), int(p[idx]), int(p[idx + step])
    a = 3 * (q0 - p0) + _sclip1(p1 - q1)
    a1 = _sclip2((a + 4) >> 3)
    a2 = _sclip2((a + 3) >> 3)
    p[idx - step] = _clip255(p0 + a2)
    p[idx] = _clip255(q0 - a1)


def _do_filter4(p, idx, step):
    p1, p0, q0, q1 = int(p[idx - 2 * step]), int(p[idx - step]), int(p[idx]), int(p[idx + step])
    a = 3 * (q0 - p0)
    a1 = _sclip2((a + 4) >> 3)
    a2 = _sclip2((a + 3) >> 3)
    a3 = (a1 + 1) >> 1
    p[idx - 2 * step] = _clip255(p1 + a3)
    p[idx - step] = _clip255(p0 + a2)
    p[idx] = _clip255(q0 - a1)
    p[idx + step] = _clip255(q1 - a3)


def _do_filter6(p, idx, step):
    p2, p1, p0 = int(p[idx - 3 * step]), int(p[idx - 2 * step]), int(p[idx - step])
    q0, q1, q2 = int(p[idx]), int(p[idx + step]), int(p[idx + 2 * step])
    a = _sclip1(3 * (q0 - p0) + _sclip1(p1 - q1))
    a1 = (27 * a + 63) >> 7
    a2 = (18 * a + 63) >> 7
    a3 = (9 * a + 63) >> 7
    p[idx - 3 * step] = _clip255(p2 + a3)
    p[idx - 2 * step] = _clip255(p1 + a2)
    p[idx - step] = _clip255(p0 + a1)
    p[idx] = _clip255(q0 - a1)
    p[idx + step] = _clip255(q1 - a2)
    p[idx + 2 * step] = _clip255(q2 - a3)


def _hev(p, idx, step, t) -> bool:
    return abs(int(p[idx - 2 * step]) - int(p[idx - step])) > t or abs(int(p[idx + step]) - int(p[idx])) > t


def _needs_filter(p, idx, step, t) -> bool:
    p1, p0, q0, q1 = int(p[idx - 2 * step]), int(p[idx - step]), int(p[idx]), int(p[idx + step])
    return 4 * abs(p0 - q0) + abs(p1 - q1) <= t


def _needs_filter2(p, idx, step, t, it) -> bool:
    p1 = int(p[idx - 2 * step])
    p0 = int(p[idx - step])
    q0 = int(p[idx])
    q1 = int(p[idx + step])
    if 4 * abs(p0 - q0) + abs(p1 - q1) > t:
        return False
    if abs(p1 - p0) > it or abs(q1 - q0) > it:
        return False
    p2 = int(p[idx - 3 * step])
    q2 = int(p[idx + 2 * step])
    if abs(p2 - p1) > it or abs(q2 - q1) > it:
        return False
    return abs(int(p[idx - 4 * step]) - p2) <= it and abs(int(p[idx + 3 * step]) - q2) <= it


def _filter_loop(plane, rows, cols, horiz, edge_limit, ilimit, hev_t, mb_edge):
    """Normal filter along one edge (libwebp FilterLoop26/24). ``horiz``
    True = horizontal edge (vertical pixel step). ``edge_limit`` is the
    already-adjusted f_limit (+4 on MB edges)."""
    flat = plane.reshape(-1)
    w = plane.shape[1]
    step = w if horiz else 1
    t2 = 2 * edge_limit + 1
    for (y, x) in zip(rows, cols):
        idx = y * w + x
        if _needs_filter2(flat, idx, step, t2, ilimit):
            if _hev(flat, idx, step, hev_t):
                _do_filter2(flat, idx, step)
            elif mb_edge:
                _do_filter6(flat, idx, step)
            else:
                _do_filter4(flat, idx, step)


def _simple_filter(plane, rows, cols, horiz, edge_limit):
    flat = plane.reshape(-1)
    w = plane.shape[1]
    step = w if horiz else 1
    t2 = 2 * edge_limit + 1
    for (y, x) in zip(rows, cols):
        idx = y * w + x
        if _needs_filter(flat, idx, step, t2):
            _do_filter2(flat, idx, step)


# ---------------------------------------------------------------------------
# Decoder main
# ---------------------------------------------------------------------------


def decode_vp8(data: bytes) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """VP8 keyframe bitstream -> (Y, U, V) uint8 planes (cropped to the
    frame size; chroma is (h+1)//2 x (w+1)//2). Bit-exact vs libwebp
    (tests/test_vp8_libwebp_parity.py)."""
    hdr, br, toks, mb_w, mb_h = _parse_header(data)
    quants = _quantizers(hdr)

    W, H = mb_w * 16, mb_h * 16
    y_pl = np.zeros((H, W), np.uint8)
    u_pl = np.zeros((H >> 1, W >> 1), np.uint8)
    v_pl = np.zeros((H >> 1, W >> 1), np.uint8)

    # --- pass 1: per-MB modes (all live in partition 1, before residuals)
    mb_info = []  # (segment, skip_flag, ymode, submodes|None, uvmode)
    above_sub = [[B_DC] * 4 for _ in range(mb_w)]
    for _mby in range(mb_h):
        left_sub = [B_DC] * 4
        for mbx in range(mb_w):
            seg = br.tree(SEGMENT_TREE, hdr.seg_tree_probs) if hdr.update_map else 0
            skip = bool(br.bit(hdr.prob_skip)) if hdr.use_skip else False
            ymode = br.tree(KF_YMODE_TREE, KF_YMODE_PROBS)
            if ymode == B_PRED:
                subs = [0] * 16
                for sy in range(4):
                    for sx in range(4):
                        a = above_sub[mbx][sx] if sy == 0 else subs[(sy - 1) * 4 + sx]
                        l = left_sub[sy] if sx == 0 else subs[sy * 4 + sx - 1]  # noqa: E741
                        subs[sy * 4 + sx] = br.tree(BMODE_TREE, KF_BMODE_PROBS[a][l])
                above_sub[mbx] = subs[12:16]
                left_sub = [subs[4 * sy + 3] for sy in range(4)]
            else:
                subs = None
                implied = _MODE_AS_SUB[ymode]
                above_sub[mbx] = [implied] * 4
                left_sub = [implied] * 4
            uv = br.tree(UV_MODE_TREE, UV_MODE_PROBS)
            mb_info.append((seg, skip, ymode, subs, uv))

    # --- pass 2: residuals + reconstruction (unfiltered, raster order)
    filt = []  # per MB: (filter level, filter-inner-edges flag)
    a_y = [[0] * 4 for _ in range(mb_w)]   # above nz, luma subblock cols
    a_u = [[0] * 2 for _ in range(mb_w)]
    a_v = [[0] * 2 for _ in range(mb_w)]
    a_y2 = [0] * mb_w
    for mby in range(mb_h):
        tok = toks[mby % hdr.nparts]
        l_y, l_u, l_v, l_y2 = [0] * 4, [0] * 2, [0] * 2, 0
        for mbx in range(mb_w):
            seg, skip, ymode, subs, uvmode = mb_info[mby * mb_w + mbx]
            y1dc, y1ac, y2dc, y2ac, uvdc, uvac = quants[seg]
            probs = hdr.coeff_probs
            is4 = ymode == B_PRED

            y_blocks = [None] * 16
            u_blocks = [None] * 4
            v_blocks = [None] * 4
            has_coeff = False
            if not skip:
                if not is4:
                    dc = [0] * 16
                    nz = _get_coeffs(tok, probs[1], l_y2 + a_y2[mbx], (y2dc, y2ac), 0, dc)
                    l_y2 = a_y2[mbx] = 1 if nz > 0 else 0
                    if any(dc):
                        has_coeff = True
                    dcs = _iwht4x4(dc)
                    first, plane = 1, 0
                else:
                    dcs = None
                    first, plane = 0, 3
                for by in range(4):
                    l = l_y[by]  # noqa: E741
                    for bx in range(4):
                        c = [0] * 16
                        nz = _get_coeffs(tok, probs[plane], l + a_y[mbx][bx], (y1dc, y1ac), first, c)
                        flag = 1 if nz > first else 0
                        l = a_y[mbx][bx] = flag  # noqa: E741
                        if dcs is not None:
                            c[0] = dcs[by * 4 + bx]
                        if any(c):
                            has_coeff = True
                            y_blocks[by * 4 + bx] = c
                    l_y[by] = l
                for pl_probs, blocks, a_c, l_c, which in (
                    (probs[2], u_blocks, a_u, l_u, 0),
                    (probs[2], v_blocks, a_v, l_v, 1),
                ):
                    for by in range(2):
                        l = l_c[by]  # noqa: E741
                        for bx in range(2):
                            c = [0] * 16
                            nz = _get_coeffs(tok, pl_probs, l + a_c[mbx][bx], (uvdc, uvac), 0, c)
                            flag = 1 if nz > 0 else 0
                            l = a_c[mbx][bx] = flag  # noqa: E741
                            if any(c):
                                has_coeff = True
                                blocks[by * 2 + bx] = c
                        l_c[by] = l
            else:
                l_y = [0] * 4
                a_y[mbx] = [0] * 4
                l_u, l_v = [0] * 2, [0] * 2
                a_u[mbx] = [0] * 2
                a_v[mbx] = [0] * 2
                if not is4:
                    l_y2 = a_y2[mbx] = 0

            _reconstruct_mb(
                y_pl, u_pl, v_pl, mbx, mby, mb_w, ymode, subs, uvmode,
                y_blocks, u_blocks, v_blocks,
            )

            # loop-filter strength for this MB (libwebp PrecomputeFilterStrengths)
            if hdr.segmentation:
                base = hdr.seg_lf[seg] if hdr.seg_abs else hdr.filter_level + hdr.seg_lf[seg]
            else:
                base = hdr.filter_level
            level = base
            if hdr.lf_delta:
                level += hdr.ref_lf_delta[0]
                if is4:
                    level += hdr.mode_lf_delta[0]
            level = 0 if level < 0 else 63 if level > 63 else level
            filt.append((level, is4 or has_coeff))

    # --- pass 3: loop filter (raster MB order = the spec's edge sequence)
    _apply_loop_filter(hdr, y_pl, u_pl, v_pl, mb_w, mb_h, filt)

    cw, ch = (hdr.w + 1) >> 1, (hdr.h + 1) >> 1
    return (
        y_pl[: hdr.h, : hdr.w].copy(),
        u_pl[:ch, :cw].copy(),
        v_pl[:ch, :cw].copy(),
    )


def _reconstruct_mb(y_pl, u_pl, v_pl, mbx, mby, mb_w, ymode, subs, uvmode, y_blocks, u_blocks, v_blocks):
    """Intra-predict + add residuals for one MB, reading unfiltered
    neighbours from the output planes with the 127/129 frame-border
    conventions (top row 127 incl. corner; left column 129; the corner of
    a left-edge MB below the top row is 129)."""
    x0, y0 = mbx * 16, mby * 16
    have_top, have_left = mby > 0, mbx > 0

    buf = np.empty((17, 21), np.uint8)
    if have_top:
        buf[0, 1:17] = y_pl[y0 - 1, x0 : x0 + 16]
        if mbx < mb_w - 1:
            buf[0, 17:21] = y_pl[y0 - 1, x0 + 16 : x0 + 20]
        else:
            buf[0, 17:21] = y_pl[y0 - 1, x0 + 15]  # replicate last top pixel
        buf[0, 0] = y_pl[y0 - 1, x0 - 1] if have_left else 129
    else:
        buf[0, :] = 127
    if have_left:
        buf[1:17, 0] = y_pl[y0 : y0 + 16, x0 - 1]
    else:
        buf[1:17, 0] = 129

    if ymode != B_PRED:
        _pred16_or_8(buf, 16, ymode, have_top, have_left)
        for by in range(4):
            for bx in range(4):
                blk = y_blocks[by * 4 + bx]
                if blk is not None:
                    _idct4x4_add(blk, buf, 1 + by * 4, 1 + bx * 4)
    else:
        ar = buf[0, 17:21].copy()
        for by in range(4):
            if by > 0:
                buf[4 * by, 17:21] = ar  # right-edge subblocks reuse MB above-right
            for bx in range(4):
                yy, xx = 1 + by * 4, 1 + bx * 4
                _pred4(buf, yy, xx, subs[by * 4 + bx])
                blk = y_blocks[by * 4 + bx]
                if blk is not None:
                    _idct4x4_add(blk, buf, yy, xx)
    y_pl[y0 : y0 + 16, x0 : x0 + 16] = buf[1:17, 1:17]

    cx0, cy0 = mbx * 8, mby * 8
    for pl, blocks in ((u_pl, u_blocks), (v_pl, v_blocks)):
        cbuf = np.empty((9, 9), np.uint8)
        if have_top:
            cbuf[0, 1:9] = pl[cy0 - 1, cx0 : cx0 + 8]
            cbuf[0, 0] = pl[cy0 - 1, cx0 - 1] if have_left else 129
        else:
            cbuf[0, :] = 127
        if have_left:
            cbuf[1:9, 0] = pl[cy0 : cy0 + 8, cx0 - 1]
        else:
            cbuf[1:9, 0] = 129
        _pred16_or_8(cbuf, 8, uvmode, have_top, have_left)
        for by in range(2):
            for bx in range(2):
                blk = blocks[by * 2 + bx]
                if blk is not None:
                    _idct4x4_add(blk, cbuf, 1 + by * 4, 1 + bx * 4)
        pl[cy0 : cy0 + 8, cx0 : cx0 + 8] = cbuf[1:9, 1:9]


def _ilevel_of(level: int, sharpness: int) -> int:
    if sharpness > 0:
        i = level >> 2 if sharpness > 4 else level >> 1
        if i > 9 - sharpness:
            i = 9 - sharpness
    else:
        i = level
    return 1 if i < 1 else i


def _apply_loop_filter(hdr, y_pl, u_pl, v_pl, mb_w, mb_h, filt):
    for mby in range(mb_h):
        for mbx in range(mb_w):
            level, inner = filt[mby * mb_w + mbx]
            if level == 0:
                continue
            ilevel = _ilevel_of(level, hdr.sharpness)
            f_limit = 2 * level + ilevel
            hev_t = 2 if level >= 40 else (1 if level >= 15 else 0)
            x0, y0 = mbx * 16, mby * 16
            ys = range(y0, y0 + 16)
            xs = range(x0, x0 + 16)
            if hdr.simple_filter:  # luma only
                if mbx > 0:
                    _simple_filter(y_pl, ys, [x0] * 16, False, f_limit + 4)
                if inner:
                    for off in (4, 8, 12):
                        _simple_filter(y_pl, ys, [x0 + off] * 16, False, f_limit)
                if mby > 0:
                    _simple_filter(y_pl, [y0] * 16, xs, True, f_limit + 4)
                if inner:
                    for off in (4, 8, 12):
                        _simple_filter(y_pl, [y0 + off] * 16, xs, True, f_limit)
                continue
            if mbx > 0:
                _filter_loop(y_pl, ys, [x0] * 16, False, f_limit + 4, ilevel, hev_t, True)
            if inner:
                for off in (4, 8, 12):
                    _filter_loop(y_pl, ys, [x0 + off] * 16, False, f_limit, ilevel, hev_t, False)
            if mby > 0:
                _filter_loop(y_pl, [y0] * 16, xs, True, f_limit + 4, ilevel, hev_t, True)
            if inner:
                for off in (4, 8, 12):
                    _filter_loop(y_pl, [y0 + off] * 16, xs, True, f_limit, ilevel, hev_t, False)
            cx0, cy0 = mbx * 8, mby * 8
            cys = range(cy0, cy0 + 8)
            cxs = range(cx0, cx0 + 8)
            for pl in (u_pl, v_pl):
                if mbx > 0:
                    _filter_loop(pl, cys, [cx0] * 8, False, f_limit + 4, ilevel, hev_t, True)
                if inner:
                    _filter_loop(pl, cys, [cx0 + 4] * 8, False, f_limit, ilevel, hev_t, False)
                if mby > 0:
                    _filter_loop(pl, [cy0] * 8, cxs, True, f_limit + 4, ilevel, hev_t, True)
                if inner:
                    _filter_loop(pl, [cy0 + 4] * 8, cxs, True, f_limit, ilevel, hev_t, False)


def vp8_dimensions(data: bytes) -> tuple[int, int]:
    """Width/height from the keyframe header (cheap, no decode)."""
    if len(data) < 10 or data[3:6] != b"\x9d\x01\x2a":
        raise ValueError("vp8: bad keyframe header")
    w = struct.unpack_from("<H", data, 6)[0] & 0x3FFF
    h = struct.unpack_from("<H", data, 8)[0] & 0x3FFF
    return w, h


def yuv420_to_rgb(y: np.ndarray, u: np.ndarray, v: np.ndarray) -> np.ndarray:
    """BT.601 studio-range YUV420 -> RGB with nearest-neighbour chroma
    upsampling. Documented convention for dHash/dedup use; tests pin the
    YUV planes bit-exactly against libwebp and treat RGB as derived."""
    h, w = y.shape
    uu = u.repeat(2, 0).repeat(2, 1)[:h, :w].astype(np.int32) - 128
    vv = v.repeat(2, 0).repeat(2, 1)[:h, :w].astype(np.int32) - 128
    yy = (y.astype(np.int32) - 16) * 298
    r = (yy + 409 * vv + 128) >> 8
    g = (yy - 100 * uu - 208 * vv + 128) >> 8
    b = (yy + 516 * uu + 128) >> 8
    return np.stack([np.clip(c, 0, 255) for c in (r, g, b)], axis=-1).astype(np.uint8)

# ---------------------------------------------------------------------------
# Encoder (deterministic fixture writer: intra16 modes, one token partition,
# no segmentation/skip/filter; streams decode bit-identically in this module
# and in libwebp — tests/test_vp8_libwebp_parity.py)
# ---------------------------------------------------------------------------


class _BoolEnc:
    """RFC 6386 section 7.3 boolean encoder (carry-propagating)."""

    def __init__(self):
        self.low = 0
        self.rng = 255
        self.cnt = -24
        self.out = bytearray()

    def bit(self, prob: int, b: int) -> None:
        split = 1 + (((self.rng - 1) * prob) >> 8)
        if b:
            self.low += split
            self.rng -= split
        else:
            self.rng = split
        shift = 0
        while self.rng < 128:
            self.rng <<= 1
            shift += 1
        self.cnt += shift
        if self.cnt >= 0:
            offset = shift - self.cnt
            if (self.low << (offset - 1)) & 0x80000000:  # carry
                i = len(self.out) - 1
                while i >= 0 and self.out[i] == 0xFF:
                    self.out[i] = 0
                    i -= 1
                if i >= 0:
                    self.out[i] += 1
            self.out.append((self.low >> (24 - offset)) & 0xFF)
            self.low = (self.low << offset) & 0xFFFFFF
            shift = self.cnt
            self.cnt -= 8
        self.low = self.low << shift

    def bits(self, pairs) -> None:
        """Encode a sequence of (prob, bit) pairs with the coder state in
        locals — same arithmetic as bit(), amortizing the attribute
        traffic over a whole block."""
        low = self.low
        rng = self.rng
        cnt = self.cnt
        out = self.out
        for prob, b in pairs:
            split = 1 + (((rng - 1) * prob) >> 8)
            if b:
                low += split
                rng -= split
            else:
                rng = split
            shift = 0
            while rng < 128:
                rng <<= 1
                shift += 1
            cnt += shift
            if cnt >= 0:
                offset = shift - cnt
                if (low << (offset - 1)) & 0x80000000:  # carry
                    i = len(out) - 1
                    while i >= 0 and out[i] == 0xFF:
                        out[i] = 0
                        i -= 1
                    if i >= 0:
                        out[i] += 1
                out.append((low >> (24 - offset)) & 0xFF)
                low = (low << offset) & 0xFFFFFF
                shift = cnt
                cnt -= 8
            low = low << shift
        self.low = low
        self.rng = rng
        self.cnt = cnt

    def lit(self, v: int, nbits: int) -> None:
        for i in range(nbits - 1, -1, -1):
            self.bit(128, (v >> i) & 1)

    def flag_value(self, v: int, nbits: int) -> None:
        """The header's flag+value+sign form for a signed delta."""
        if v == 0:
            self.bit(128, 0)
        else:
            self.bit(128, 1)
            self.lit(abs(v), nbits)
            self.bit(128, 1 if v < 0 else 0)

    def tobytes(self) -> bytes:
        self.bits(((128, 0),) * 32)
        return bytes(self.out)


def _fdct4x4(block: np.ndarray) -> list:
    """Forward 4x4 DCT (libvpx vp8_short_fdct4x4 arithmetic — the exact
    inverse pair of _idct4x4_add)."""
    # plain Python ints: numpy scalar indexing/arithmetic on a lone 4x4
    # block is ~10x slower than int ops; >> stays an arithmetic shift in
    # both, so the libvpx arithmetic is unchanged
    ip = block.ravel().tolist()
    tmp = [0] * 16
    for r in (0, 4, 8, 12):
        i0, i1, i2, i3 = ip[r], ip[r + 1], ip[r + 2], ip[r + 3]
        a1 = (i0 + i3) * 8
        b1 = (i1 + i2) * 8
        c1 = (i1 - i2) * 8
        d1 = (i0 - i3) * 8
        tmp[r] = a1 + b1
        tmp[r + 2] = a1 - b1
        tmp[r + 1] = (c1 * 2217 + d1 * 5352 + 14500) >> 12
        tmp[r + 3] = (d1 * 2217 - c1 * 5352 + 7500) >> 12
    out = [0] * 16
    for c in range(4):
        t0, t1, t2, t3 = tmp[c], tmp[4 + c], tmp[8 + c], tmp[12 + c]
        a1 = t0 + t3
        b1 = t1 + t2
        c1 = t1 - t2
        d1 = t0 - t3
        out[c] = (a1 + b1 + 7) >> 4
        out[8 + c] = (a1 - b1 + 7) >> 4
        out[4 + c] = ((c1 * 2217 + d1 * 5352 + 12000) >> 16) + (1 if d1 != 0 else 0)
        out[12 + c] = (d1 * 2217 - c1 * 5352 + 51000) >> 16
    return out


def _fwht4x4(dcs: list) -> list:
    """Forward Walsh-Hadamard over the 16 luma DC terms (libvpx
    vp8_short_walsh4x4 arithmetic, input scaled as fdct output)."""
    ip = [dcs[4 * r + c] for r in range(4) for c in range(4)]
    tmp = [0] * 16
    for r in range(4):
        a1 = (ip[4 * r + 0] + ip[4 * r + 2]) * 4
        d1 = (ip[4 * r + 1] + ip[4 * r + 3]) * 4
        c1 = (ip[4 * r + 1] - ip[4 * r + 3]) * 4
        b1 = (ip[4 * r + 0] - ip[4 * r + 2]) * 4
        tmp[4 * r + 0] = a1 + d1 + (1 if a1 else 0)
        tmp[4 * r + 1] = b1 + c1
        tmp[4 * r + 2] = b1 - c1
        tmp[4 * r + 3] = a1 - d1
    out = [0] * 16
    for c in range(4):
        a1 = tmp[c] + tmp[8 + c]
        d1 = tmp[4 + c] + tmp[12 + c]
        c1 = tmp[4 + c] - tmp[12 + c]
        b1 = tmp[c] - tmp[8 + c]
        a2 = a1 + d1
        b2 = b1 + c1
        c2 = b1 - c1
        d2 = a1 - d1
        a2 += 1 if a2 < 0 else 0
        b2 += 1 if b2 < 0 else 0
        c2 += 1 if c2 < 0 else 0
        d2 += 1 if d2 < 0 else 0
        out[c] = (a2 + 3) >> 3
        out[4 + c] = (b2 + 3) >> 3
        out[8 + c] = (c2 + 3) >> 3
        out[12 + c] = (d2 + 3) >> 3
    return out


def _value_bits(ap, p, a: int) -> None:
    """Append the (prob, bit) pairs for a (already |.|) nonzero
    coefficient magnitude to ``ap`` (a list.append)."""
    if a == 1:
        ap((p[2], 0))
        return
    ap((p[2], 1))
    if a <= 4:
        if a == 2:
            ap((p[3], 0))
            ap((p[4], 0))
        else:
            ap((p[3], 0))
            ap((p[4], 1))
            ap((p[5], a - 3))
        return
    ap((p[3], 1))
    for cat in (5, 6, 7, 8, 9, 10):
        base = CAT_BASE[cat]
        nbits = len(CAT_PROBS[cat])
        if a < base + (1 << nbits):
            break
    if cat in (5, 6):
        ap((p[6], 0))
        ap((p[7], cat - 5))
    else:
        ap((p[6], 1))
        ap((p[8], 1 if cat >= 9 else 0))
        ap((p[9 + (1 if cat >= 9 else 0)], (cat - 7) & 1))
    extra = a - CAT_BASE[cat]
    cps = CAT_PROBS[cat]
    for i, cp in enumerate(cps):
        ap((cp, (extra >> (len(cps) - 1 - i)) & 1))


def _put_coeffs(be: _BoolEnc, probs_plane, ctx: int, first: int, levels) -> int:
    """Encode one block's quantized LEVELS (natural order); mirrors
    _get_coeffs. Returns the EOB position (for nz-flag bookkeeping).
    The whole block's (prob, bit) pairs are collected first and encoded
    with one bits() call — identical stream, locals-only hot loop."""
    zz = [levels[ZIGZAG[n]] for n in range(16)]
    eob = first
    for n in range(first, 16):
        if zz[n]:
            eob = n + 1
    pb: list = []
    ap = pb.append
    n = first
    p = probs_plane[COEFF_BANDS[n]][ctx]
    ret = 16
    while n < 16:
        if n >= eob:
            ap((p[0], 0))
            ret = eob
            break
        ap((p[0], 1))
        while zz[n] == 0:
            ap((p[1], 0))
            n += 1
            p = probs_plane[COEFF_BANDS[n]][0]
        ap((p[1], 1))
        v = zz[n]
        a = abs(v)
        _value_bits(ap, p, a)
        ap((128, 1 if v < 0 else 0))
        n += 1
        if n == 16:
            break
        p = probs_plane[COEFF_BANDS[n]][2 if a > 1 else 1]
    be.bits(pb)
    return ret


def rgb_to_yuv420(px: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """BT.601 studio-range RGB -> YUV420 (2x2 box chroma)."""
    h, w = px.shape[:2]
    r = px[:, :, 0].astype(np.int32)
    g = px[:, :, 1].astype(np.int32)
    b = px[:, :, 2].astype(np.int32)
    y = ((66 * r + 129 * g + 25 * b + 128) >> 8) + 16
    u = ((-38 * r - 74 * g + 112 * b + 128) >> 8) + 128
    v = ((112 * r - 94 * g - 18 * b + 128) >> 8) + 128
    ph, pw = (h + 1) & ~1, (w + 1) & ~1
    up = np.empty((ph, pw), np.int32)
    vp = np.empty((ph, pw), np.int32)
    for pl, src in ((up, u), (vp, v)):
        pl[:h, :w] = src
        if pw > w:
            pl[:h, w:] = src[:, -1:]
        if ph > h:
            pl[h:, :] = pl[h - 1 : h, :]
    u2 = (up[0::2, 0::2] + up[0::2, 1::2] + up[1::2, 0::2] + up[1::2, 1::2] + 2) >> 2
    v2 = (vp[0::2, 0::2] + vp[0::2, 1::2] + vp[1::2, 0::2] + vp[1::2, 1::2] + 2) >> 2
    return (
        np.clip(y, 0, 255).astype(np.uint8),
        np.clip(u2, 0, 255).astype(np.uint8),
        np.clip(v2, 0, 255).astype(np.uint8),
    )


def _pad_to_mb(pl: np.ndarray, size: int) -> np.ndarray:
    h, w = pl.shape
    H = (h + size - 1) // size * size
    W = (w + size - 1) // size * size
    out = np.empty((H, W), np.uint8)
    out[:h, :w] = pl
    if W > w:
        out[:h, w:] = pl[:, -1:]
    if H > h:
        out[h:, :] = out[h - 1 : h, :]
    return out


def encode_vp8(px: np.ndarray, qi: int = 8, ymode: int = DC_PRED) -> bytes:
    """(h, w, 3) RGB -> VP8 keyframe payload. Intra16 (``ymode`` for luma,
    DC chroma), quantizer index ``qi``, defaults everywhere else. The
    encoder runs the decoder's own reconstruction loop so prediction
    chains match exactly."""
    if ymode == B_PRED:
        raise ValueError("encode_vp8: intra16 modes only (DC/V/H/TM)")
    h, w = px.shape[:2]
    if h > 0x3FFF or w > 0x3FFF:
        raise ValueError("vp8: dimensions exceed 14 bits")
    y_src, u_src, v_src = rgb_to_yuv420(px)
    Y = _pad_to_mb(y_src, 16)
    U = _pad_to_mb(u_src, 8)
    V = _pad_to_mb(v_src, 8)
    mb_h, mb_w = Y.shape[0] // 16, Y.shape[1] // 16

    qi = max(0, min(127, qi))
    y1dc, y1ac = DC_QLOOKUP[qi], AC_QLOOKUP[qi]
    y2dc, y2ac = DC_QLOOKUP[qi] * 2, max(8, AC_QLOOKUP[qi] * 155 // 100)
    uvdc, uvac = DC_QLOOKUP[min(qi, 117)], AC_QLOOKUP[qi]
    probs = DEFAULT_COEFF_PROBS

    # header partition
    be = _BoolEnc()
    be.bit(128, 0)  # color space
    be.bit(128, 0)  # clamping
    be.bit(128, 0)  # no segmentation
    be.bit(128, 0)  # normal filter
    be.lit(0, 6)    # filter level 0 (no loop filtering)
    be.lit(0, 3)    # sharpness
    be.bit(128, 0)  # no lf deltas
    be.lit(0, 2)    # one token partition
    be.lit(qi, 7)
    for _ in range(5):
        be.bit(128, 0)  # no quantizer deltas
    be.bit(128, 1)  # refresh entropy probs
    be.bits(_COEFF_UPDATE_ZEROS)  # 1056 "no update" flags in one pass
    be.bit(128, 0)  # mb_no_skip_coeff = 0 (no skip flags)

    tok = _BoolEnc()
    # recon planes (decoder-identical prediction chains)
    y_rec = np.zeros_like(Y)
    u_rec = np.zeros_like(U)
    v_rec = np.zeros_like(V)
    a_y = [[0] * 4 for _ in range(mb_w)]
    a_u = [[0] * 2 for _ in range(mb_w)]
    a_v = [[0] * 2 for _ in range(mb_w)]
    a_y2 = [0] * mb_w
    for mby in range(mb_h):
        l_y, l_u, l_v, l_y2 = [0] * 4, [0] * 2, [0] * 2, 0
        for mbx in range(mb_w):
            be.bit(KF_YMODE_PROBS[0], 1)  # not B_PRED
            if ymode in (DC_PRED, V_PRED):
                be.bit(KF_YMODE_PROBS[1], 0)
                be.bit(KF_YMODE_PROBS[2], 0 if ymode == DC_PRED else 1)
            else:
                be.bit(KF_YMODE_PROBS[1], 1)
                be.bit(KF_YMODE_PROBS[3], 0 if ymode == H_PRED else 1)
            be.bit(UV_MODE_PROBS[0], 0)  # uv DC

            # ---- luma: predict, transform, quantize
            x0, y0 = mbx * 16, mby * 16
            have_top, have_left = mby > 0, mbx > 0
            buf = np.empty((17, 21), np.uint8)
            if have_top:
                buf[0, 1:17] = y_rec[y0 - 1, x0 : x0 + 16]
                buf[0, 17:21] = (
                    y_rec[y0 - 1, x0 + 16 : x0 + 20] if mbx < mb_w - 1 else y_rec[y0 - 1, x0 + 15]
                )
                buf[0, 0] = y_rec[y0 - 1, x0 - 1] if have_left else 129
            else:
                buf[0, :] = 127
            if have_left:
                buf[1:17, 0] = y_rec[y0 : y0 + 16, x0 - 1]
            else:
                buf[1:17, 0] = 129
            _pred16_or_8(buf, 16, ymode, have_top, have_left)
            pred = buf[1:17, 1:17].astype(np.int32)
            res = Y[y0 : y0 + 16, x0 : x0 + 16].astype(np.int32) - pred

            dct = [
                _fdct4x4(res[by * 4 : by * 4 + 4, bx * 4 : bx * 4 + 4])
                for by in range(4)
                for bx in range(4)
            ]
            wht = _fwht4x4([c[0] for c in dct])
            y2_lv = [0] * 16
            y2_dq = [0] * 16
            for n in range(16):
                q = y2dc if n == 0 else y2ac
                lv = min(abs(wht[n]) // q, 2047) * (1 if wht[n] >= 0 else -1)
                y2_lv[n] = lv
                y2_dq[n] = lv * q
            ctx = l_y2 + a_y2[mbx]
            eob = _put_coeffs(tok, probs[1], ctx, 0, y2_lv)
            l_y2 = a_y2[mbx] = 1 if eob > 0 else 0
            dcs = _iwht4x4(y2_dq)

            for by in range(4):
                l = l_y[by]  # noqa: E741
                for bx in range(4):
                    c = dct[by * 4 + bx]
                    lv = [0] * 16
                    dq = [0] * 16
                    for n in range(1, 16):
                        q = y1ac
                        lv[n] = min(abs(c[n]) // q, 2047) * (1 if c[n] >= 0 else -1)
                        dq[n] = lv[n] * q
                    ctx = l + a_y[mbx][bx]
                    eob = _put_coeffs(tok, probs[0], ctx, 1, lv)
                    l = a_y[mbx][bx] = 1 if eob > 1 else 0  # noqa: E741
                    dq[0] = dcs[by * 4 + bx]
                    _idct4x4_add(dq, buf, 1 + by * 4, 1 + bx * 4)
                l_y[by] = l
            y_rec[y0 : y0 + 16, x0 : x0 + 16] = buf[1:17, 1:17]

            # ---- chroma (DC mode)
            cx0, cy0 = mbx * 8, mby * 8
            for pl_src, pl_rec, a_c, l_c in ((U, u_rec, a_u, l_u), (V, v_rec, a_v, l_v)):
                cbuf = np.empty((9, 9), np.uint8)
                if have_top:
                    cbuf[0, 1:9] = pl_rec[cy0 - 1, cx0 : cx0 + 8]
                    cbuf[0, 0] = pl_rec[cy0 - 1, cx0 - 1] if have_left else 129
                else:
                    cbuf[0, :] = 127
                if have_left:
                    cbuf[1:9, 0] = pl_rec[cy0 : cy0 + 8, cx0 - 1]
                else:
                    cbuf[1:9, 0] = 129
                _pred16_or_8(cbuf, 8, DC_PRED, have_top, have_left)
                cres = pl_src[cy0 : cy0 + 8, cx0 : cx0 + 8].astype(np.int32) - cbuf[1:9, 1:9].astype(np.int32)
                for by in range(2):
                    l = l_c[by]  # noqa: E741
                    for bx in range(2):
                        c = _fdct4x4(cres[by * 4 : by * 4 + 4, bx * 4 : bx * 4 + 4])
                        lv = [0] * 16
                        dq = [0] * 16
                        for n in range(16):
                            q = uvdc if n == 0 else uvac
                            lv[n] = min(abs(c[n]) // q, 2047) * (1 if c[n] >= 0 else -1)
                            dq[n] = lv[n] * q
                        ctx = l + a_c[mbx][bx]
                        eob = _put_coeffs(tok, probs[2], ctx, 0, lv)
                        l = a_c[mbx][bx] = 1 if eob > 0 else 0  # noqa: E741
                        _idct4x4_add(dq, cbuf, 1 + by * 4, 1 + bx * 4)
                    l_c[by] = l
                pl_rec[cy0 : cy0 + 8, cx0 : cx0 + 8] = cbuf[1:9, 1:9]

    part1 = be.tobytes()
    part2 = tok.tobytes()
    tag = (len(part1) << 5) | (1 << 4) | (0 << 1) | 0  # keyframe, version 0, shown
    return (
        bytes([tag & 0xFF, (tag >> 8) & 0xFF, (tag >> 16) & 0xFF])
        + b"\x9d\x01\x2a"
        + struct.pack("<HH", w, h)
        + part1
        + part2
    )


def encode_webp_lossy(px: np.ndarray, qi: int = 8, ymode: int = DC_PRED) -> bytes:
    """RGB -> lossy WebP (RIFF/VP8) container bytes."""
    payload = encode_vp8(px, qi=qi, ymode=ymode)
    chunk = b"VP8 " + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        chunk += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk


def decode_webp_lossy(data: bytes) -> np.ndarray:
    """Lossy WebP (RIFF/VP8) container -> (h, w, 3) uint8 RGB."""
    if data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise ValueError("not a WebP file")
    pos = 12
    while pos + 8 <= len(data):
        fourcc = data[pos : pos + 4]
        (sz,) = struct.unpack_from("<I", data, pos + 4)
        if fourcc == b"VP8 ":
            y, u, v = decode_vp8(data[pos + 8 : pos + 8 + sz])
            return yuv420_to_rgb(y, u, v)
        pos += 8 + sz + (sz & 1)
    raise ValueError("webp: no VP8 (lossy) chunk found")
