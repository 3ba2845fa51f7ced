"""Minimal test-only TIFF writer for synthesizing decoder fixtures the
reference lacks (PackBits, tiled, planar, big-endian u16/f32, u64 extremes)
— SURVEY.md §5.3 item 1. Not part of the engine."""

from __future__ import annotations

import struct
import zlib

import numpy as np

_TYPE_SHORT, _TYPE_LONG, _TYPE_ASCII, _TYPE_DOUBLE = 3, 4, 2, 12

_DTYPE_FMT = {  # numpy kind -> SampleFormat
    "u": 1,
    "i": 2,
    "f": 3,
}


def packbits_encode(data: bytes) -> bytes:
    """Simple PackBits encoder: runs of ≥3 identical bytes → RLE, else literal."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        # find run length
        j = i
        while j < n - 1 and data[j] == data[j + 1] and j - i < 127:
            j += 1
        run = j - i + 1
        if run >= 3:
            out.append(257 - run)
            out.append(data[i])
            i = j + 1
        else:
            # literal: scan until a run of >=3 starts or 128 bytes
            k = i
            while (
                k < n
                and k - i < 128
                and not (k < n - 2 and data[k] == data[k + 1] == data[k + 2])
            ):
                k += 1
            out.append(k - i - 1)
            out += data[i:k]
            i = k
    return bytes(out)


def write_tiff(
    arr: np.ndarray,
    byte_order: str = "<",
    compression: int = 1,
    rows_per_strip: int | None = None,
    tile: tuple[int, int] | None = None,
    planar: int = 1,
    photometric: int = 1,
    predictor: int = 1,
    pixel_scale: list[float] | None = None,
    tie_points: list[float] | None = None,
    transformation: list[float] | None = None,
    geo_directory: list[int] | None = None,
    geo_doubles: list[float] | None = None,
    geo_ascii: str | None = None,
) -> bytes:
    """arr: (h, w) or (h, w, spp). Returns TIFF bytes."""
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, spp = arr.shape
    dt = arr.dtype
    bits = dt.itemsize * 8
    fmt = _DTYPE_FMT[dt.kind]

    def compress(block: np.ndarray) -> bytes:
        if predictor == 2:
            b = block.copy()
            b[:, 1:, :] = np.diff(block, axis=1)
            block = b
        raw = block.astype(dt.newbyteorder(byte_order)).tobytes()
        if compression == 1:
            return raw
        if compression in (8, 32946):
            return zlib.compress(raw)
        if compression == 32773:
            return packbits_encode(raw)
        raise ValueError(f"writer does not support compression {compression}")

    segments: list[bytes] = []
    if tile:
        tw, th = tile
        ta, td = -(-w // tw), -(-h // th)
        planes = range(spp) if planar == 2 else [None]
        for band in planes:
            for ty in range(td):
                for tx in range(ta):
                    block = np.zeros(
                        (th, tw, 1 if band is not None else spp), dtype=dt
                    )
                    ys = min(th, h - ty * th)
                    xs = min(tw, w - tx * tw)
                    src = arr[ty * th : ty * th + ys, tx * tw : tx * tw + xs]
                    if band is not None:
                        block[:ys, :xs, 0] = src[:, :, band]
                    else:
                        block[:ys, :xs, :] = src
                    segments.append(compress(block))
    else:
        rps = rows_per_strip or h
        planes = range(spp) if planar == 2 else [None]
        for band in planes:
            for y0 in range(0, h, rps):
                block = arr[y0 : y0 + rps]
                if band is not None:
                    block = block[:, :, band : band + 1]
                segments.append(compress(block))

    bo = byte_order
    header_size = 8
    # layout: header | segment data | external tag values | IFD
    seg_offsets, pos = [], header_size
    for s in segments:
        seg_offsets.append(pos)
        pos += len(s)

    extra = bytearray()
    extra_base = pos

    entries: list[tuple[int, int, int, bytes]] = []

    def add(tag: int, ftype: int, values):
        nonlocal extra
        if ftype == _TYPE_ASCII:
            raw = values.encode("ascii") + b"\x00"
            count = len(raw)
        else:
            ch = {_TYPE_SHORT: "H", _TYPE_LONG: "I", _TYPE_DOUBLE: "d"}[ftype]
            count = len(values)
            raw = struct.pack(bo + ch * count, *values)
        if len(raw) <= 4:
            entries.append((tag, ftype, count, raw.ljust(4, b"\x00")))
        else:
            off = extra_base + len(extra)
            entries.append((tag, ftype, count, struct.pack(bo + "I", off)))
            extra += raw
            if len(extra) % 2:
                extra += b"\x00"

    add(256, _TYPE_LONG, [w])
    add(257, _TYPE_LONG, [h])
    add(258, _TYPE_SHORT, [bits] * spp)
    add(259, _TYPE_SHORT, [compression])
    add(262, _TYPE_SHORT, [photometric])
    if tile:
        add(322, _TYPE_LONG, [tile[0]])
        add(323, _TYPE_LONG, [tile[1]])
        add(324, _TYPE_LONG, seg_offsets)
        add(325, _TYPE_LONG, [len(s) for s in segments])
    else:
        add(273, _TYPE_LONG, seg_offsets)
        add(278, _TYPE_LONG, [rows_per_strip or h])
        add(279, _TYPE_LONG, [len(s) for s in segments])
    add(277, _TYPE_SHORT, [spp])
    add(284, _TYPE_SHORT, [planar])
    if predictor != 1:
        add(317, _TYPE_SHORT, [predictor])
    add(339, _TYPE_SHORT, [fmt] * spp)
    if pixel_scale:
        add(33550, _TYPE_DOUBLE, pixel_scale)
    if tie_points:
        add(33922, _TYPE_DOUBLE, tie_points)
    if transformation:
        add(34264, _TYPE_DOUBLE, transformation)
    if geo_directory:
        add(34735, _TYPE_SHORT, geo_directory)
    if geo_doubles:
        add(34736, _TYPE_DOUBLE, geo_doubles)
    if geo_ascii is not None:
        add(34737, _TYPE_ASCII, geo_ascii)

    entries.sort(key=lambda e: e[0])
    ifd_offset = extra_base + len(extra)

    out = bytearray()
    out += (b"II" if bo == "<" else b"MM") + struct.pack(bo + "H", 42)
    out += struct.pack(bo + "I", ifd_offset)
    for s in segments:
        out += s
    out += extra
    out += struct.pack(bo + "H", len(entries))
    for tag, ftype, count, raw in entries:
        out += struct.pack(bo + "HHI", tag, ftype, count) + raw
    out += struct.pack(bo + "I", 0)  # no next IFD
    return bytes(out)


def patch_tag(
    data: bytes,
    tag: int,
    value: int | None = None,
    count: int | None = None,
    new_tag: int | None = None,
) -> bytes:
    """Rewrite one entry of the first IFD of a little-endian TIFF: its
    inline SHORT/LONG ``value``, its ``count``, or its tag id (``new_tag``;
    an unknown id hides the tag from a reader). For malformed-file tests."""
    out = bytearray(data)
    (ifd,) = struct.unpack_from("<I", out, 4)
    (n,) = struct.unpack_from("<H", out, ifd)
    for pos in range(ifd + 2, ifd + 2 + 12 * n, 12):
        t, ftype, cnt = struct.unpack_from("<HHI", out, pos)
        if t != tag:
            continue
        if value is not None:
            ch = {_TYPE_SHORT: "H", _TYPE_LONG: "I"}[ftype]
            out[pos + 8 : pos + 12] = struct.pack("<" + ch, value).ljust(4, b"\0")
        if count is not None:
            struct.pack_into("<I", out, pos + 4, count)
        if new_tag is not None:
            struct.pack_into("<H", out, pos, new_tag)
        return bytes(out)
    raise KeyError(f"tag {tag} not in the first IFD")
