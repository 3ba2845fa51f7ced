"""Pure-python/numpy VP8 intra (key-frame) decoder — the lossy half of
WebP (RIFF 'VP8 ' chunk), written from scratch against RFC 6386's
algorithms: boolean arithmetic decoder, key-frame header and mode
parse (segmentation, loop-filter deltas, token partitions, quantizer
indices, token-probability updates), coefficient detokenization with
band/context modeling, dequantization, 16x16/8x8/4x4 intra prediction
(all ten B modes), the integer inverse DCT/WHT pair, and both the
simple and normal in-loop deblocking filters.

Numeric spec constants (default/update token probabilities, key-frame
B-mode probabilities, quantizer lookup tables, the coefficient band
map) live in vp8_tables.py, extracted from the system libwebp binary's
.rodata by scripts/extract_vp8_tables.py — see that script's docstring
for provenance. Correctness is pinned end-to-end by pytest: this
decoder's Y/U/V output must equal libwebp's own WebPDecodeYUV
bit-for-bit over an every-mode corpus of REAL libwebp-encoded files
(tests/test_webp.py); the arithmetic decoder derails on any wrong
constant, so the equality is a strong full-pipeline check.

No counterpart in the reference (a raster library); this rounds out
the multimodal-column mandate (image decode over binary columns).
"""

from __future__ import annotations

import struct

import numpy as np

from geotiff_spark.functions.vp8_tables import (
    AC_QLOOKUP,
    COEFF_BANDS,
    COEFF_UPDATE_PROBS,
    DC_QLOOKUP,
    DEFAULT_COEFF_PROBS,
    KF_BMODE_PROBS,
)


class VP8Error(ValueError):
    pass


# ---------------------------------------------------------------------------
# Boolean arithmetic decoder (RFC 6386 section 7)
# ---------------------------------------------------------------------------


class _Bool:
    __slots__ = ("buf", "pos", "range", "value", "shift")

    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 2
        self.range = 255
        b0 = buf[0] if len(buf) > 0 else 0
        b1 = buf[1] if len(buf) > 1 else 0
        self.value = (b0 << 8) | b1
        self.shift = 0  # bits consumed from the NEXT byte counter

    def get(self, prob: int) -> int:
        split = 1 + (((self.range - 1) * prob) >> 8)
        big = split << 8
        if self.value >= big:
            ret = 1
            self.range -= split
            self.value -= big
        else:
            ret = 0
            self.range = split
        # renormalize
        while self.range < 128:
            self.value <<= 1
            self.range <<= 1
            self.shift += 1
            if self.shift == 8:
                self.shift = 0
                if self.pos < len(self.buf):
                    self.value |= self.buf[self.pos]
                self.pos += 1
        return ret

    def bit(self) -> int:
        return self.get(128)

    def literal(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.get(128)
        return v

    def signed_literal(self, n: int) -> int:
        v = self.literal(n)
        return -v if self.get(128) else v

    def tree(self, tree: tuple, probs) -> int:
        i = 0
        while True:
            i = tree[i + self.get(probs[i >> 1])]
            if i <= 0:
                return -i


# ---------------------------------------------------------------------------
# Mode / token trees (RFC 6386 sections 8, 11, 13)
# ---------------------------------------------------------------------------

DC_PRED, V_PRED, H_PRED, TM_PRED, B_PRED = 0, 1, 2, 3, 4
# B-mode numbering follows libwebp's internal order (B_RD=4, B_VR=5,
# B_LD=6 — NOT libvpx's B_LD=4, B_RD=5, B_VR=6), because the extracted
# KF_BMODE_PROBS context table is indexed in that order; the tree below
# maps the (spec-fixed) bitstream paths onto this numbering.
(B_DC, B_TM, B_VE, B_HE, B_RD, B_VR, B_LD, B_VL, B_HD, B_HU) = range(10)

KF_YMODE_TREE = (-B_PRED, 2, 4, 6, -DC_PRED, -V_PRED, -H_PRED, -TM_PRED)
KF_YMODE_PROBS = (145, 156, 163, 128)
UV_MODE_TREE = (-DC_PRED, 2, -V_PRED, 4, -H_PRED, -TM_PRED)
KF_UV_PROBS = (142, 114, 183)
BMODE_TREE = (
    -B_DC, 2,
    -B_TM, 4,
    -B_VE, 6,
    8, 12,
    -B_HE, 10,
    -B_RD, -B_VR,
    -B_LD, 14,
    -B_VL, 16,
    -B_HD, -B_HU,
)
SEGMENT_TREE = (2, 4, -0, -1, -2, -3)

# implied sub-modes of whole-MB luma modes, for B-mode contexts
MB_TO_B = {DC_PRED: B_DC, V_PRED: B_VE, H_PRED: B_HE, TM_PRED: B_TM}

# token tree: leaves 0..4 literal values, 5..10 categories, 11 = EOB
COEFF_TREE = (
    -11, 2,       # EOB
    -0, 4,
    -1, 6,
    8, 12,
    -2, 10,
    -3, -4,
    14, 16,
    -5, -6,       # cat1, cat2
    18, 20,
    -7, -8,       # cat3, cat4
    -9, -10,      # cat5, cat6
)
CAT_BASE = {5: 5, 6: 7, 7: 11, 8: 19, 9: 35, 10: 67}
CAT_PROBS = {
    5: (159,),
    6: (165, 145),
    7: (173, 148, 140),
    8: (176, 155, 140, 135),
    9: (180, 157, 141, 134, 130),
    10: (254, 254, 243, 230, 196, 177, 153, 140, 133, 130, 129),
}
ZIGZAG = (0, 1, 4, 8, 5, 2, 3, 6, 9, 12, 13, 10, 7, 11, 14, 15)


def _clamp_q(q: int, hi: int = 127) -> int:
    return 0 if q < 0 else hi if q > hi else q


# ---------------------------------------------------------------------------
# Inverse transforms (RFC 6386 section 14.3-14.4)
# ---------------------------------------------------------------------------


def _idct4x4(block16: list) -> np.ndarray:
    """VP8 integer IDCT; >> is an arithmetic (floor) shift in python,
    matching the spec's requirement for negative operands."""
    ip = block16
    tmp = [0] * 16
    for i in range(4):
        a1 = ip[i] + ip[8 + i]
        b1 = ip[i] - ip[8 + i]
        t1 = (ip[4 + i] * 35468) >> 16
        t2 = ip[12 + i] + ((ip[12 + i] * 20091) >> 16)
        c1 = t1 - t2
        t1 = ip[4 + i] + ((ip[4 + i] * 20091) >> 16)
        t2 = (ip[12 + i] * 35468) >> 16
        d1 = t1 + t2
        tmp[i] = a1 + d1
        tmp[12 + i] = a1 - d1
        tmp[4 + i] = b1 + c1
        tmp[8 + i] = b1 - c1
    out = np.empty((4, 4), dtype=np.int32)
    for i in range(4):
        base = 4 * i
        a1 = tmp[base] + tmp[base + 2]
        b1 = tmp[base] - tmp[base + 2]
        t1 = (tmp[base + 1] * 35468) >> 16
        t2 = tmp[base + 3] + ((tmp[base + 3] * 20091) >> 16)
        c1 = t1 - t2
        t1 = tmp[base + 1] + ((tmp[base + 1] * 20091) >> 16)
        t2 = (tmp[base + 3] * 35468) >> 16
        d1 = t1 + t2
        out[i, 0] = (a1 + d1 + 4) >> 3
        out[i, 3] = (a1 - d1 + 4) >> 3
        out[i, 1] = (b1 + c1 + 4) >> 3
        out[i, 2] = (b1 - c1 + 4) >> 3
    return out


def _iwht4x4(block16: list) -> list:
    ip = block16
    tmp = [0] * 16
    for i in range(4):
        a1 = ip[i] + ip[12 + i]
        b1 = ip[4 + i] + ip[8 + i]
        c1 = ip[4 + i] - ip[8 + i]
        d1 = ip[i] - ip[12 + i]
        tmp[i] = a1 + b1
        tmp[4 + i] = c1 + d1
        tmp[8 + i] = a1 - b1
        tmp[12 + i] = d1 - c1
    out = [0] * 16
    for i in range(4):
        base = 4 * i
        a1 = tmp[base] + tmp[base + 3]
        b1 = tmp[base + 1] + tmp[base + 2]
        c1 = tmp[base + 1] - tmp[base + 2]
        d1 = tmp[base] - tmp[base + 3]
        out[base] = (a1 + b1 + 3) >> 3
        out[base + 1] = (c1 + d1 + 3) >> 3
        out[base + 2] = (a1 - b1 + 3) >> 3
        out[base + 3] = (d1 - c1 + 3) >> 3
    return out


# ---------------------------------------------------------------------------
# Intra prediction (RFC 6386 section 12)
# ---------------------------------------------------------------------------


def _pred_whole(plane, y0, x0, n, mode, have_above, have_left):
    """16x16 luma / 8x8 chroma prediction into an int32 (n,n) array.
    `plane` carries a virtual border: row y0-1 / col x0-1 are valid
    (127/129-initialized at frame edges)."""
    above = plane[y0 - 1, x0:x0 + n].astype(np.int32)
    left = plane[y0:y0 + n, x0 - 1].astype(np.int32)
    if mode == DC_PRED:
        if have_above and have_left:
            dc = (int(above.sum()) + int(left.sum()) + n) >> _dc_shift(n, 2)
        elif have_above:
            dc = (int(above.sum()) + (n >> 1)) >> _dc_shift(n, 1)
        elif have_left:
            dc = (int(left.sum()) + (n >> 1)) >> _dc_shift(n, 1)
        else:
            dc = 128
        return np.full((n, n), dc, dtype=np.int32)
    if mode == V_PRED:
        return np.tile(above, (n, 1))
    if mode == H_PRED:
        return np.tile(left[:, None], (1, n))
    # TM
    al = int(plane[y0 - 1, x0 - 1])
    return np.clip(left[:, None] + above[None, :] - al, 0, 255)


def _dc_shift(n: int, both: int) -> int:
    # n=16: full sum shift 5, half 4; n=8: full 4, half 3
    base = 4 if n == 16 else 3
    return base + (1 if both == 2 else 0)


def _avg3(a, b, c):
    return (a + 2 * b + c + 2) >> 2


def _avg2(a, b):
    return (a + b + 1) >> 1


def _pred_b(plane, y, x, mode, above_right):
    """4x4 B-mode prediction. above_right: 4 ints (the spec's special
    top-right source). Returns (4,4) int array."""
    A = [int(v) for v in plane[y - 1, x:x + 4]]
    AR = [int(v) for v in above_right]
    L = [int(v) for v in plane[y:y + 4, x - 1]]
    AL = int(plane[y - 1, x - 1])
    p = [[0] * 4 for _ in range(4)]
    if mode == B_DC:
        dc = (sum(A) + sum(L) + 4) >> 3
        return np.full((4, 4), dc, dtype=np.int32)
    if mode == B_TM:
        for r in range(4):
            for c in range(4):
                v = L[r] + A[c] - AL
                p[r][c] = 0 if v < 0 else 255 if v > 255 else v
    elif mode == B_VE:
        e = [AL] + A + [AR[0]]
        row = [_avg3(e[i], e[i + 1], e[i + 2]) for i in range(4)]
        for r in range(4):
            p[r] = row[:]
    elif mode == B_HE:
        col = [
            _avg3(AL, L[0], L[1]),
            _avg3(L[0], L[1], L[2]),
            _avg3(L[1], L[2], L[3]),
            _avg3(L[2], L[3], L[3]),
        ]
        for r in range(4):
            p[r] = [col[r]] * 4
    elif mode == B_LD:
        e = A + AR
        for r in range(4):
            for c in range(4):
                i = r + c
                p[r][c] = _avg3(e[i], e[i + 1], e[i + 2]) if i < 6 \
                    else _avg3(e[6], e[7], e[7])
    elif mode == B_RD:
        e = [L[3], L[2], L[1], L[0], AL, A[0], A[1], A[2], A[3]]
        for r in range(4):
            for c in range(4):
                i = c - r + 3
                p[r][c] = _avg3(e[i], e[i + 1], e[i + 2])
    elif mode == B_VR:
        X, (I, J, K, _L4) = AL, L
        a, bb, cc, d = A
        p[0][0] = p[2][1] = _avg2(X, a)
        p[0][1] = p[2][2] = _avg2(a, bb)
        p[0][2] = p[2][3] = _avg2(bb, cc)
        p[0][3] = _avg2(cc, d)
        p[3][0] = _avg3(K, J, I)
        p[2][0] = _avg3(J, I, X)
        p[1][0] = p[3][1] = _avg3(I, X, a)
        p[1][1] = p[3][2] = _avg3(X, a, bb)
        p[1][2] = p[3][3] = _avg3(a, bb, cc)
        p[1][3] = _avg3(bb, cc, d)
    elif mode == B_VL:
        a, bb, cc, d = A
        e, f, g, h = AR
        p[0][0] = _avg2(a, bb)
        p[0][1] = p[2][0] = _avg2(bb, cc)
        p[0][2] = p[2][1] = _avg2(cc, d)
        p[0][3] = p[2][2] = _avg2(d, e)
        p[1][0] = _avg3(a, bb, cc)
        p[1][1] = p[3][0] = _avg3(bb, cc, d)
        p[1][2] = p[3][1] = _avg3(cc, d, e)
        p[1][3] = p[3][2] = _avg3(d, e, f)
        p[2][3] = _avg3(e, f, g)
        p[3][3] = _avg3(f, g, h)
    elif mode == B_HD:
        X, (I, J, K, Lp) = AL, L
        a, bb, cc, _d = A
        p[0][0] = p[1][2] = _avg2(I, X)
        p[1][0] = p[2][2] = _avg2(J, I)
        p[2][0] = p[3][2] = _avg2(K, J)
        p[3][0] = _avg2(Lp, K)
        p[0][3] = _avg3(a, bb, cc)
        p[0][2] = _avg3(X, a, bb)
        p[0][1] = p[1][3] = _avg3(I, X, a)
        p[1][1] = p[2][3] = _avg3(X, I, J)
        p[2][1] = p[3][3] = _avg3(I, J, K)
        p[3][1] = _avg3(J, K, Lp)
    elif mode == B_HU:
        I, J, K, Lp = L
        p[0][0] = _avg2(I, J)
        p[1][0] = p[0][2] = _avg2(J, K)
        p[2][0] = p[1][2] = _avg2(K, Lp)
        p[0][1] = _avg3(I, J, K)
        p[1][1] = p[0][3] = _avg3(J, K, Lp)
        p[2][1] = p[1][3] = _avg3(K, Lp, Lp)
        p[2][2] = p[2][3] = p[3][0] = p[3][1] = p[3][2] = p[3][3] = Lp
    else:
        raise VP8Error(f"bad b mode {mode}")
    return np.array(p, dtype=np.int32)


# ---------------------------------------------------------------------------
# Loop filter (RFC 6386 section 15)
# ---------------------------------------------------------------------------


def _s(v):
    return v.astype(np.int32) - 128


def _c(v):
    return np.clip(v, -128, 127)


def _u(v):
    return (np.clip(v, -128, 127) + 128).astype(np.uint8)


def _filter_mask(p3, p2, p1, p0, q0, q1, q2, q3, ilim, elim):
    return (
        (np.abs(p3 - p2) <= ilim) & (np.abs(p2 - p1) <= ilim)
        & (np.abs(p1 - p0) <= ilim) & (np.abs(q1 - q0) <= ilim)
        & (np.abs(q2 - q1) <= ilim) & (np.abs(q3 - q2) <= ilim)
        & (np.abs(p0 - q0) * 2 + (np.abs(p1 - q1) >> 1) <= elim)
    )


def _hev_mask(p1, p0, q0, q1, thresh):
    return (np.abs(p1 - p0) > thresh) | (np.abs(q1 - q0) > thresh)


def _common_adjust(use_outer, p1, p0, q0, q1, mask):
    a = _c((_c(p1 - q1) if isinstance(use_outer, bool) and use_outer
            else np.where(use_outer, _c(p1 - q1), 0)) + 3 * (q0 - p0))
    f1 = _c(a + 4) >> 3
    f2 = _c(a + 3) >> 3
    q0n = np.where(mask, _c(q0 - f1), q0)
    p0n = np.where(mask, _c(p0 + f2), p0)
    return f1, p0n, q0n


def _subblock_filter(p3, p2, p1, p0, q0, q1, q2, q3, ilim, elim, thresh):
    mask = _filter_mask(p3, p2, p1, p0, q0, q1, q2, q3, ilim, elim)
    hev = _hev_mask(p1, p0, q0, q1, thresh)
    f1, p0n, q0n = _common_adjust(hev, p1, p0, q0, q1, mask)
    a = (f1 + 1) >> 1
    outer = mask & ~hev
    q1n = np.where(outer, _c(q1 - a), q1)
    p1n = np.where(outer, _c(p1 + a), p1)
    return p1n, p0n, q0n, q1n


def _mbedge_filter(p3, p2, p1, p0, q0, q1, q2, q3, ilim, elim, thresh):
    mask = _filter_mask(p3, p2, p1, p0, q0, q1, q2, q3, ilim, elim)
    hev = _hev_mask(p1, p0, q0, q1, thresh)
    # hev pixels: standard 2-tap adjust
    _f1, p0h, q0h = _common_adjust(True, p1, p0, q0, q1, mask & hev)
    # non-hev: wide 3-tap adjust
    w = _c(_c(p1 - q1) + 3 * (q0 - p0))
    m = mask & ~hev
    a = _c((27 * w + 63) >> 7)
    q0n = np.where(m, _c(q0h - a), q0h)
    p0n = np.where(m, _c(p0h + a), p0h)
    a = _c((18 * w + 63) >> 7)
    q1n = np.where(m, _c(q1 - a), q1)
    p1n = np.where(m, _c(p1 + a), p1)
    a = _c((9 * w + 63) >> 7)
    q2n = np.where(m, _c(q2 - a), q2)
    p2n = np.where(m, _c(p2 + a), p2)
    return p2n, p1n, p0n, q0n, q1n, q2n


def _simple_filter(p1, p0, q0, q1, elim):
    mask = np.abs(p0 - q0) * 2 + (np.abs(p1 - q1) >> 1) <= elim
    _f1, p0n, q0n = _common_adjust(True, p1, p0, q0, q1, mask)
    return p0n, q0n


# ---------------------------------------------------------------------------
# Frame decode
# ---------------------------------------------------------------------------


class _Header:
    pass


def _parse_segmentation(bd: _Bool, hdr) -> None:
    hdr.update_map = 0
    hdr.seg_quant = [0, 0, 0, 0]
    hdr.seg_lf = [0, 0, 0, 0]
    hdr.seg_abs = 0
    hdr.seg_tree_probs = [255, 255, 255]
    if not hdr.segmentation:
        return
    hdr.update_map = bd.bit()
    update_data = bd.bit()
    if update_data:
        hdr.seg_abs = bd.bit()
        for i in range(4):
            if bd.bit():
                hdr.seg_quant[i] = bd.signed_literal(7)
        for i in range(4):
            if bd.bit():
                hdr.seg_lf[i] = bd.signed_literal(6)
    if hdr.update_map:
        for i in range(3):
            if bd.bit():
                hdr.seg_tree_probs[i] = bd.literal(8)


def decode_vp8_frame(data: bytes):
    """Decode one VP8 key frame → (y, u, v) uint8 planes (cropped to
    the frame's stated dimensions; u/v are ceil(w/2) x ceil(h/2))."""
    if len(data) < 10:
        raise VP8Error("short frame")
    tag = data[0] | (data[1] << 8) | (data[2] << 16)
    keyframe = not (tag & 1)
    version = (tag >> 1) & 7
    part0_size = tag >> 5
    if not keyframe:
        raise VP8Error("interframe unsupported (still image path)")
    if version > 3:
        raise VP8Error(f"bad version {version}")
    if data[3:6] != b"\x9d\x01\x2a":
        raise VP8Error("bad start code")
    w_code, h_code = struct.unpack_from("<HH", data, 6)
    width, height = w_code & 0x3FFF, h_code & 0x3FFF
    if width == 0 or height == 0:
        raise VP8Error("zero dims")
    first_part = data[10:10 + part0_size]
    if len(first_part) < part0_size:
        raise VP8Error("truncated first partition")
    bd = _Bool(first_part)

    hdr = _Header()
    hdr.color_space = bd.bit()
    hdr.clamping = bd.bit()
    hdr.segmentation = bd.bit()
    _parse_segmentation(bd, hdr)
    hdr.filter_simple = bd.bit()
    hdr.filter_level = bd.literal(6)
    hdr.sharpness = bd.literal(3)
    hdr.lf_delta = bd.bit()
    hdr.ref_deltas = [0, 0, 0, 0]
    hdr.mode_deltas = [0, 0, 0, 0]
    if hdr.lf_delta:
        if bd.bit():  # update
            for i in range(4):
                if bd.bit():
                    hdr.ref_deltas[i] = bd.signed_literal(6)
            for i in range(4):
                if bd.bit():
                    hdr.mode_deltas[i] = bd.signed_literal(6)
    n_parts = 1 << bd.literal(2)

    # token partition table sits at the end of the first partition block
    part_area = data[10 + part0_size:]
    sizes_len = 3 * (n_parts - 1)
    if len(part_area) < sizes_len:
        raise VP8Error("truncated partition sizes")
    parts = []
    off = sizes_len
    for i in range(n_parts - 1):
        sz = (part_area[3 * i] | (part_area[3 * i + 1] << 8)
              | (part_area[3 * i + 2] << 16))
        parts.append(part_area[off:off + sz])
        if len(parts[-1]) < sz:
            raise VP8Error("truncated token partition")
        off += sz
    parts.append(part_area[off:])
    bools = [_Bool(p) for p in parts]

    # quantizers
    y_ac_qi = bd.literal(7)
    deltas = []
    for _ in range(5):  # y1dc, y2dc, y2ac, uvdc, uvac
        deltas.append(bd.signed_literal(4) if bd.bit() else 0)
    y1dc_d, y2dc_d, y2ac_d, uvdc_d, uvac_d = deltas

    def quants_for(base_q: int):
        q = _clamp_q(base_q)
        y1 = (DC_QLOOKUP[_clamp_q(q + y1dc_d)], AC_QLOOKUP[q])
        y2dc = DC_QLOOKUP[_clamp_q(q + y2dc_d)] * 2
        y2ac = (AC_QLOOKUP[_clamp_q(q + y2ac_d)] * 101581) >> 16
        if y2ac < 8:
            y2ac = 8
        uv = (DC_QLOOKUP[_clamp_q(q + uvdc_d, 117)],
              AC_QLOOKUP[_clamp_q(q + uvac_d)])
        return y1, (y2dc, y2ac), uv

    seg_quants = []
    for s in range(4):
        if hdr.segmentation:
            base = hdr.seg_quant[s] if hdr.seg_abs \
                else y_ac_qi + hdr.seg_quant[s]
        else:
            base = y_ac_qi
        seg_quants.append(quants_for(base))

    bd.bit()  # refresh_entropy_probs (no effect for still images)

    probs = DEFAULT_COEFF_PROBS.copy()
    upd = COEFF_UPDATE_PROBS
    for t in range(4):
        for b in range(8):
            for c in range(3):
                for p in range(11):
                    if bd.get(int(upd[t, b, c, p])):
                        probs[t, b, c, p] = bd.literal(8)
    probs = probs.astype(np.int32)

    use_skip = bd.bit()
    prob_skip = bd.literal(8) if use_skip else 0

    mb_w = (width + 15) // 16
    mb_h = (height + 15) // 16

    # per-MB mode parse (all in the first partition for key frames)
    ymodes = np.zeros((mb_h, mb_w), dtype=np.int32)
    uvmodes = np.zeros((mb_h, mb_w), dtype=np.int32)
    skips = np.zeros((mb_h, mb_w), dtype=bool)
    segids = np.zeros((mb_h, mb_w), dtype=np.int32)
    bmodes = np.zeros((mb_h, mb_w, 4, 4), dtype=np.int32)
    above_b = np.full((mb_w, 4), B_DC, dtype=np.int32)
    for my in range(mb_h):
        left_b = np.full(4, B_DC, dtype=np.int32)
        for mx in range(mb_w):
            if hdr.segmentation and hdr.update_map:
                segids[my, mx] = bd.tree(SEGMENT_TREE, hdr.seg_tree_probs)
            if use_skip:
                skips[my, mx] = bool(bd.get(prob_skip))
            ym = bd.tree(KF_YMODE_TREE, KF_YMODE_PROBS)
            ymodes[my, mx] = ym
            if ym == B_PRED:
                for r in range(4):
                    for c in range(4):
                        a = above_b[mx, c] if r == 0 else bmodes[my, mx, r - 1, c]
                        l = left_b[r] if c == 0 else bmodes[my, mx, r, c - 1]
                        bm = bd.tree(BMODE_TREE, KF_BMODE_PROBS[a][l])
                        bmodes[my, mx, r, c] = bm
                above_b[mx] = bmodes[my, mx, 3]
                left_b = bmodes[my, mx, :, 3].copy()
            else:
                bm = MB_TO_B[ym]
                bmodes[my, mx, :, :] = bm
                above_b[mx] = bm
                left_b[:] = bm
            uvmodes[my, mx] = bd.tree(UV_MODE_TREE, KF_UV_PROBS)

    # plane buffers with virtual borders: +1 top row, +1 left col,
    # +4 right cols (i4 above-right). Borders: above=127, left=129.
    yw, yh = mb_w * 16, mb_h * 16
    cw, ch = mb_w * 8, mb_h * 8
    Y = np.empty((yh + 1, yw + 5), dtype=np.uint8)
    U = np.empty((ch + 1, cw + 1), dtype=np.uint8)
    V = np.empty((ch + 1, cw + 1), dtype=np.uint8)
    for P in (Y, U, V):
        P[0, :] = 127
        P[1:, 0] = 129
    Y[1:, yw + 1:] = 127  # right margin for i4 above-right off-frame

    # nonzero contexts
    a_y_nz = np.zeros((mb_w, 4), dtype=bool)
    a_u_nz = np.zeros((mb_w, 2), dtype=bool)
    a_v_nz = np.zeros((mb_w, 2), dtype=bool)
    a_y2_nz = np.zeros(mb_w, dtype=bool)

    mb_nonzero = np.zeros((mb_h, mb_w), dtype=bool)

    def detok(bl: _Bool, ptype: int, first: int, ctx: int, dq):
        """Decode one 4x4 coefficient block → (dequantized coeffs in
        raster order, any-nonzero). ctx is the neighbor context for the
        first token; within the block the context tracks the previous
        token's magnitude class (0 after a zero — in which case the EOB
        branch of the tree is skipped, RFC 13.3)."""
        coeffs = [0] * 16
        n = first
        nz = False
        pr = probs[ptype]
        skip_eob = False
        while n < 16:
            p = pr[COEFF_BANDS[n]][ctx]
            i = 2 if skip_eob else 0
            while True:
                i = COEFF_TREE[i + bl.get(int(p[i >> 1]))]
                if i <= 0:
                    break
            tok = -i
            if tok == 11:  # EOB
                break
            if tok == 0:
                ctx = 0
                skip_eob = True
                n += 1
                continue
            skip_eob = False
            if tok <= 4:
                val = tok
            else:
                val = CAT_BASE[tok]
                extra = 0
                for cp in CAT_PROBS[tok]:
                    extra = (extra << 1) | bl.get(cp)
                val += extra
            ctx = 2 if val > 1 else 1
            if bl.get(128):
                val = -val
            q = dq[0] if n == 0 else dq[1]
            # coefficient storage is int16 in the reference decoders;
            # pathological level x quant products wrap (libwebp-pinned)
            coeffs[ZIGZAG[n]] = ((val * q + 0x8000) & 0xFFFF) - 0x8000
            nz = True
            n += 1
        return coeffs, nz

    for my in range(mb_h):
        bl = bools[my % n_parts]
        l_y_nz = np.zeros(4, dtype=bool)
        l_u_nz = np.zeros(2, dtype=bool)
        l_v_nz = np.zeros(2, dtype=bool)
        l_y2_nz = False
        for mx in range(mb_w):
            ym = int(ymodes[my, mx])
            has_y2 = ym != B_PRED
            seg = int(segids[my, mx]) if hdr.segmentation else 0
            (y1dq, y2dq, uvdq) = seg_quants[seg]
            y0, x0 = my * 16 + 1, mx * 16 + 1
            cy0, cx0 = my * 8 + 1, mx * 8 + 1

            ycoefs = [[0] * 16 for _ in range(16)]
            ucoefs = [[0] * 16 for _ in range(4)]
            vcoefs = [[0] * 16 for _ in range(4)]
            ynz = [False] * 16
            unz = [False] * 4
            vnz = [False] * 4
            any_nz = False

            if skips[my, mx]:
                l_y_nz[:] = False
                a_y_nz[mx, :] = False
                l_u_nz[:] = False
                a_u_nz[mx, :] = False
                l_v_nz[:] = False
                a_v_nz[mx, :] = False
                if has_y2:
                    l_y2_nz = False
                    a_y2_nz[mx] = False
            else:
                if has_y2:
                    ctx = int(a_y2_nz[mx]) + int(l_y2_nz)
                    c2, nz2 = detok(bl, 1, 0, ctx, y2dq)
                    a_y2_nz[mx] = l_y2_nz = nz2
                    any_nz |= nz2
                    dcs = _iwht4x4(c2)
                first = 1 if has_y2 else 0
                ptype = 0 if has_y2 else 3
                for sb in range(16):
                    r, c = sb >> 2, sb & 3
                    ctx = int(a_y_nz[mx, c]) + int(l_y_nz[r])
                    co, nz = detok(bl, ptype, first, ctx, y1dq)
                    if has_y2:
                        co[0] = dcs[sb]
                    ycoefs[sb] = co
                    ynz[sb] = nz
                    a_y_nz[mx, c] = l_y_nz[r] = nz
                    any_nz |= nz
                for plane_nz, coefs, a_nz, l_nz in (
                    (unz, ucoefs, a_u_nz, l_u_nz),
                    (vnz, vcoefs, a_v_nz, l_v_nz),
                ):
                    for sb in range(4):
                        r, c = sb >> 1, sb & 1
                        ctx = int(a_nz[mx, c]) + int(l_nz[r])
                        co, nz = detok(bl, 2, 0, ctx, uvdq)
                        coefs[sb] = co
                        plane_nz[sb] = nz
                        a_nz[mx, c] = l_nz[r] = nz
                        any_nz |= nz
            mb_nonzero[my, mx] = any_nz

            # ---- reconstruct luma
            have_above, have_left = my > 0, mx > 0
            if ym != B_PRED:
                pred = _pred_whole(Y, y0, x0, 16, ym, have_above, have_left)
                for sb in range(16):
                    r, c = sb >> 2, sb & 3
                    res = _idct4x4(ycoefs[sb]) if (
                        ynz[sb] or ycoefs[sb][0] != 0) else None
                    blk = pred[r * 4:r * 4 + 4, c * 4:c * 4 + 4]
                    out = blk + res if res is not None else blk
                    Y[y0 + r * 4:y0 + r * 4 + 4, x0 + c * 4:x0 + c * 4 + 4] = \
                        np.clip(out, 0, 255).astype(np.uint8)
            else:
                for sb in range(16):
                    r, c = sb >> 2, sb & 3
                    yy, xx = y0 + r * 4, x0 + c * 4
                    if c == 3:
                        # MB-right blocks take their above-right from the
                        # row ABOVE the MB; past the frame's right edge
                        # the last above pixel is replicated (libwebp-
                        # validated; the top border row replicates 127)
                        if mx == mb_w - 1:
                            ar = np.full(4, int(Y[y0 - 1, x0 + 15]),
                                         dtype=np.uint8)
                        else:
                            ar = Y[y0 - 1, x0 + 16:x0 + 20]
                    else:
                        ar = Y[yy - 1, xx + 4:xx + 8]
                    pred = _pred_b(Y, yy, xx, int(bmodes[my, mx, r, c]), ar)
                    if ynz[sb] or ycoefs[sb][0] != 0:
                        pred = pred + _idct4x4(ycoefs[sb])
                    Y[yy:yy + 4, xx:xx + 4] = \
                        np.clip(pred, 0, 255).astype(np.uint8)

            # ---- reconstruct chroma
            for P, coefs, nzf, c0 in ((U, ucoefs, unz, cx0), (V, vcoefs, vnz, cx0)):
                pred = _pred_whole(P, cy0, c0, 8, int(uvmodes[my, mx]),
                                   have_above, have_left)
                for sb in range(4):
                    r, c = sb >> 1, sb & 1
                    blk = pred[r * 4:r * 4 + 4, c * 4:c * 4 + 4]
                    if nzf[sb] or coefs[sb][0] != 0:
                        blk = blk + _idct4x4(coefs[sb])
                    P[cy0 + r * 4:cy0 + r * 4 + 4, c0 + c * 4:c0 + c * 4 + 4] = \
                        np.clip(blk, 0, 255).astype(np.uint8)

    # ------------------------------------------------------------------ loop filter
    if hdr.filter_level > 0:
        _loop_filter(Y, U, V, hdr, ymodes, segids, mb_nonzero, skips,
                     mb_w, mb_h)

    uv_w, uv_h = (width + 1) // 2, (height + 1) // 2
    return (
        Y[1:height + 1, 1:width + 1].copy(),
        U[1:uv_h + 1, 1:uv_w + 1].copy(),
        V[1:uv_h + 1, 1:uv_w + 1].copy(),
    )


def _loop_filter(Y, U, V, hdr, ymodes, segids, mb_nonzero, skips,
                 mb_w, mb_h):
    for my in range(mb_h):
        for mx in range(mb_w):
            seg = int(segids[my, mx]) if hdr.segmentation else 0
            if hdr.segmentation:
                level = hdr.seg_lf[seg] if hdr.seg_abs \
                    else hdr.filter_level + hdr.seg_lf[seg]
            else:
                level = hdr.filter_level
            if hdr.lf_delta:
                level += hdr.ref_deltas[0]  # intra frame
                if ymodes[my, mx] == B_PRED:
                    level += hdr.mode_deltas[0]
            level = max(0, min(63, level))
            if level == 0:
                continue
            interior = level
            if hdr.sharpness:
                interior >>= 2 if hdr.sharpness > 4 else 1
                if interior > 9 - hdr.sharpness:
                    interior = 9 - hdr.sharpness
            if interior < 1:
                interior = 1
            mb_lim = (level + 2) * 2 + interior
            sb_lim = level * 2 + interior
            hev_t = 2 if level >= 40 else (1 if level >= 15 else 0)
            f_inner = bool(mb_nonzero[my, mx]) or ymodes[my, mx] == B_PRED

            y0, x0 = my * 16 + 1, mx * 16 + 1
            cy0, cx0 = my * 8 + 1, mx * 8 + 1
            if hdr.filter_simple:
                if mx > 0:
                    _filt_v(Y, y0, x0, 16, mb_lim, None, None, simple=True)
                if f_inner:
                    for dx in (4, 8, 12):
                        _filt_v(Y, y0, x0 + dx, 16, sb_lim, None, None,
                                simple=True)
                if my > 0:
                    _filt_h(Y, y0, x0, 16, mb_lim, None, None, simple=True)
                if f_inner:
                    for dy in (4, 8, 12):
                        _filt_h(Y, y0 + dy, x0, 16, sb_lim, None, None,
                                simple=True)
            else:
                if mx > 0:
                    _filt_v(Y, y0, x0, 16, mb_lim, interior, hev_t, mb=True)
                    _filt_v(U, cy0, cx0, 8, mb_lim, interior, hev_t, mb=True)
                    _filt_v(V, cy0, cx0, 8, mb_lim, interior, hev_t, mb=True)
                if f_inner:
                    for dx in (4, 8, 12):
                        _filt_v(Y, y0, x0 + dx, 16, sb_lim, interior, hev_t)
                    _filt_v(U, cy0, cx0 + 4, 8, sb_lim, interior, hev_t)
                    _filt_v(V, cy0, cx0 + 4, 8, sb_lim, interior, hev_t)
                if my > 0:
                    _filt_h(Y, y0, x0, 16, mb_lim, interior, hev_t, mb=True)
                    _filt_h(U, cy0, cx0, 8, mb_lim, interior, hev_t, mb=True)
                    _filt_h(V, cy0, cx0, 8, mb_lim, interior, hev_t, mb=True)
                if f_inner:
                    for dy in (4, 8, 12):
                        _filt_h(Y, y0 + dy, x0, 16, sb_lim, interior, hev_t)
                    _filt_h(U, cy0 + 4, cx0, 8, sb_lim, interior, hev_t)
                    _filt_h(V, cy0 + 4, cx0, 8, sb_lim, interior, hev_t)


def _filt_v(P, y0, x, n, elim, ilim, hev_t, mb=False, simple=False):
    """Filter the vertical edge at column x (pixels x-4..x+3), rows
    y0..y0+n."""
    rows = slice(y0, y0 + n)
    cols = [P[rows, x + d].astype(np.int32) - 128 for d in range(-4, 4)]
    p3, p2, p1, p0, q0, q1, q2, q3 = cols
    if simple:
        p0n, q0n = _simple_filter(p1, p0, q0, q1, elim)
        P[rows, x - 1] = _u(p0n)
        P[rows, x] = _u(q0n)
        return
    if mb:
        p2n, p1n, p0n, q0n, q1n, q2n = _mbedge_filter(
            p3, p2, p1, p0, q0, q1, q2, q3, ilim, elim, hev_t)
        for d, v in zip(range(-3, 3), (p2n, p1n, p0n, q0n, q1n, q2n)):
            P[rows, x + d] = _u(v)
    else:
        p1n, p0n, q0n, q1n = _subblock_filter(
            p3, p2, p1, p0, q0, q1, q2, q3, ilim, elim, hev_t)
        for d, v in zip(range(-2, 2), (p1n, p0n, q0n, q1n)):
            P[rows, x + d] = _u(v)


def _filt_h(P, y, x0, n, elim, ilim, hev_t, mb=False, simple=False):
    cols = slice(x0, x0 + n)
    rows = [P[y + d, cols].astype(np.int32) - 128 for d in range(-4, 4)]
    p3, p2, p1, p0, q0, q1, q2, q3 = rows
    if simple:
        p0n, q0n = _simple_filter(p1, p0, q0, q1, elim)
        P[y - 1, cols] = _u(p0n)
        P[y, cols] = _u(q0n)
        return
    if mb:
        p2n, p1n, p0n, q0n, q1n, q2n = _mbedge_filter(
            p3, p2, p1, p0, q0, q1, q2, q3, ilim, elim, hev_t)
        for d, v in zip(range(-3, 3), (p2n, p1n, p0n, q0n, q1n, q2n)):
            P[y + d, cols] = _u(v)
    else:
        p1n, p0n, q0n, q1n = _subblock_filter(
            p3, p2, p1, p0, q0, q1, q2, q3, ilim, elim, hev_t)
        for d, v in zip(range(-2, 2), (p1n, p0n, q0n, q1n)):
            P[y + d, cols] = _u(v)


def decode_webp_lossy_yuv(data: bytes):
    """RIFF/WEBP container → decode the 'VP8 ' (lossy) chunk to YUV420
    planes (y, u, v)."""
    if len(data) < 20 or data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise VP8Error("not a WEBP file")
    pos = 12
    while pos + 8 <= len(data):
        fourcc = data[pos:pos + 4]
        size = struct.unpack_from("<I", data, pos + 4)[0]
        if fourcc == b"VP8 ":
            return decode_vp8_frame(data[pos + 8:pos + 8 + size])
        pos += 8 + size + (size & 1)
    raise VP8Error("no VP8 chunk")

