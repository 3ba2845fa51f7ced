"""Pure-numpy GIF codec (87a/89a).

Decoder: logical screen descriptor, global/local color tables, GIF-LZW
(LSB-first packed, variable 3-12-bit codes, clear/EOI, dictionary
rebuild), Adam-style 4-pass interlace reorder, multi-frame animation
with (left, top) placement, disposal methods 0/1 (keep) and 2 (restore
background) and transparency, graphic-control/comment/application
extension skipping. Returns all frames as RGB.

Note the LZW here is the GIF variant — LSB-first bit packing and
per-stream variable minimum code size — NOT the MSB-first EarlyChange
TIFF LZW already in functions/tiff.py; the two share nothing but the
name, which is exactly why both exist.

Encoder: the inverse (palette images in, one global color table, LZW
with dictionary growth, optional interlace and animation blocks) for
corpus generation and roundtrips — GIF's pixel path is LOSSLESS, so
index-level roundtrips are exact (tests/test_gif.py).

Format reference: the GIF89a specification (public); no code consulted.
"""

from __future__ import annotations

import struct

import numpy as np


class GifError(ValueError):
    pass


def _interlace_rows(h: int) -> np.ndarray:
    """Row order of the 4 interlace passes (spec appendix E)."""
    return np.concatenate([
        np.arange(0, h, 8), np.arange(4, h, 8),
        np.arange(2, h, 4), np.arange(1, h, 2),
    ])


# ---- GIF-LZW ----------------------------------------------------------------

def _lzw_decode(min_code: int, data: bytes, expect: int) -> np.ndarray:
    """GIF LZW → index array of length `expect`."""
    clear = 1 << min_code
    eoi = clear + 1
    # bit reader, LSB-first
    bits = np.unpackbits(
        np.frombuffer(data, dtype=np.uint8)[:, None], axis=1, bitorder="little"
    ).ravel()
    pos = 0
    width = min_code + 1
    dict_base = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(dict_base)
    out = bytearray()
    prev: bytes | None = None
    n = len(bits)
    while pos + width <= n:
        code = 0
        for i in range(width):
            code |= int(bits[pos + i]) << i
        pos += width
        if code == clear:
            table = list(dict_base)
            width = min_code + 1
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            if code >= len(table):
                raise GifError("first code after clear out of range")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise GifError(f"LZW code {code} out of range")
        out += entry
        prev = entry
        if len(table) == (1 << width) and width < 12:
            width += 1
        if len(out) >= expect:
            break
    if len(out) < expect:
        raise GifError(f"LZW underrun: {len(out)} of {expect} pixels")
    return np.frombuffer(bytes(out[:expect]), dtype=np.uint8)


def _lzw_encode(min_code: int, indices: np.ndarray) -> bytes:
    """Index array → GIF LZW bytes (with leading clear, trailing EOI)."""
    clear = 1 << min_code
    eoi = clear + 1
    out_bits: list[int] = []
    width = min_code + 1

    def emit(code: int, w: int):
        for i in range(w):
            out_bits.append((code >> i) & 1)

    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    emit(clear, width)
    prev = b""
    for v in indices.astype(np.uint8).tobytes():
        cur = prev + bytes([v])
        if cur in table:
            prev = cur
            continue
        emit(table[prev], width)
        table[cur] = next_code
        # width grows when next_code EXCEEDS the current code space
        if next_code == (1 << width) and width < 12:
            width += 1
        next_code += 1
        if next_code > (1 << 12) - 1:
            emit(clear, width)
            table = {bytes([i]): i for i in range(clear)}
            next_code = eoi + 1
            width = min_code + 1
        prev = bytes([v])
    if prev:
        emit(table[prev], width)
    emit(eoi, width)
    arr = np.array(out_bits, dtype=np.uint8)
    pad = (-len(arr)) % 8
    if pad:
        arr = np.concatenate([arr, np.zeros(pad, dtype=np.uint8)])
    return np.packbits(arr.reshape(-1, 8), axis=1, bitorder="little").tobytes()


def _sub_blocks(data: bytes) -> bytes:
    out = bytearray()
    pos = 0
    while pos < len(data):
        n = len(data) - pos
        take = min(255, n)
        out.append(take)
        out += data[pos: pos + take]
        pos += take
    out.append(0)
    return bytes(out)


# ---- decoder ----------------------------------------------------------------

def decode_gif(data: bytes):
    """GIF bytes → (frames, delays_cs): frames (n, h, w, 3) uint8 RGB on
    the logical-screen canvas, delays in centiseconds (0 when absent)."""
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise GifError("not a GIF (bad signature)")
    try:
        return _decode_inner(data)
    except GifError:
        raise
    except (IndexError, struct.error, ValueError) as exc:
        raise GifError(f"truncated or corrupt stream: {exc}") from exc


def _decode_inner(data: bytes):
    w, h, packed, bg, _aspect = struct.unpack_from("<HHBBB", data, 6)
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = np.frombuffer(data, np.uint8, 3 * n, pos).reshape(n, 3)
        pos += 3 * n
    canvas = np.zeros((h, w, 3), dtype=np.uint8)
    if gct is not None:
        canvas[:] = gct[bg]
    frames = []
    delays = []
    transparent = None
    disposal = 0
    delay = 0
    prev_canvas = canvas.copy()
    while pos < len(data):
        block = data[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension
            label = data[pos]
            pos += 1
            if label == 0xF9:  # graphic control
                size = data[pos]
                flags, delay, tidx = struct.unpack_from("<BHB", data, pos + 1)
                transparent = tidx if flags & 1 else None
                disposal = (flags >> 2) & 0x7
                pos += 1 + size
                if data[pos] != 0:
                    raise GifError("graphic control missing terminator")
                pos += 1
            else:  # skip sub-blocks (comment/app/plain text)
                while data[pos] != 0:
                    pos += 1 + data[pos]
                pos += 1
            continue
        if block != 0x2C:
            raise GifError(f"unknown block 0x{block:02X}")
        fx, fy, fw, fh, fpacked = struct.unpack_from("<HHHHB", data, pos)
        pos += 9
        ct = gct
        if fpacked & 0x80:
            n = 2 << (fpacked & 0x07)
            ct = np.frombuffer(data, np.uint8, 3 * n, pos).reshape(n, 3)
            pos += 3 * n
        if ct is None:
            raise GifError("no color table for frame")
        min_code = data[pos]
        pos += 1
        lzw = bytearray()
        while data[pos] != 0:
            cnt = data[pos]
            lzw += data[pos + 1: pos + 1 + cnt]
            pos += 1 + cnt
        pos += 1
        idx = _lzw_decode(min_code, bytes(lzw), fw * fh).reshape(fh, fw)
        if fpacked & 0x40:  # interlaced: rows arrive in pass order
            order = _interlace_rows(fh)
            tmp = np.empty_like(idx)
            tmp[order] = idx
            idx = tmp
        if idx.max(initial=0) >= len(ct):
            raise GifError("palette index out of range")
        prev_canvas = canvas.copy()
        region = canvas[fy: fy + fh, fx: fx + fw]
        rgb = ct[idx]
        if transparent is not None:
            mask = idx != transparent
            region[mask] = rgb[mask]
        else:
            region[:] = rgb
        frames.append(canvas.copy())
        delays.append(delay)
        if disposal == 2:  # restore background
            canvas[fy: fy + fh, fx: fx + fw] = (
                gct[bg] if gct is not None else 0
            )
        elif disposal == 3:  # restore previous
            canvas = prev_canvas
        transparent = None
        disposal = 0
        delay = 0
    if not frames:
        raise GifError("no image data")
    return np.stack(frames), delays


def decode_gif_first_frame(data: bytes) -> np.ndarray:
    """First frame as (h, w, 3) RGB — the decode_image entry point."""
    frames, _ = decode_gif(data)
    return frames[0]


# ---- encoder ----------------------------------------------------------------

def encode_gif(
    indices: np.ndarray,
    palette: np.ndarray,
    interlace: bool = False,
    delays: list[int] | None = None,
) -> bytes:
    """(h, w) or (n, h, w) palette indices + (k, 3) palette → GIF89a
    with background index 0. Multi-frame input writes an animation
    (full-frame frames, graphic control with per-frame delay)."""
    if indices.ndim == 2:
        indices = indices[None]
    nf, h, w = indices.shape
    if delays is not None and len(delays) != nf:
        raise GifError(
            f"delays has {len(delays)} entries for {nf} frames"
        )
    k = len(palette)
    if k < 2 or k > 256:
        raise GifError("palette size must be in [2, 256]")
    size_field = max(int(np.ceil(np.log2(k))) - 1, 0)
    n_slots = 2 << size_field
    pal = np.zeros((n_slots, 3), dtype=np.uint8)
    pal[:k] = palette
    min_code = max(size_field + 1, 2)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | size_field, 0, 0)
    out += pal.tobytes()
    for f in range(nf):
        if nf > 1 or delays:
            d = delays[f] if delays else 4
            out += b"\x21\xf9\x04" + struct.pack("<BHB", 0, d, 0) + b"\x00"
        out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h,
                                     0x40 if interlace else 0x00)
        idx = indices[f]
        if interlace:
            idx = idx[_interlace_rows(h)]
        out.append(min_code)
        out += _sub_blocks(_lzw_encode(min_code, idx.ravel()))
    out += b"\x3b"
    return bytes(out)
