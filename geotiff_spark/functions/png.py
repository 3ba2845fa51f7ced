"""Pure-numpy PNG codec (no Pillow): zlib inflate + the five scanline
filters. Makes `image_features` & co. run over REAL image bytes instead
of the FAKE-IMG container (VERDICT r3 next #4) — the decoder skills the
TIFF path already proves (functions/tiff.py) applied to PNG's simpler
container.

Supported (the static-image subset a crawl pipeline meets):
- bit depth 8 (all color types 0/2/3/4/6) and 16 (color types 0/2)
- filters 0..4 (None/Sub/Up/Average/Paeth), per-scanline as per spec
- PLTE palette expansion for color type 3
- rejects Adam7 interlace and other depths explicitly

Decode returns (h, w, c) uint8 (or uint16 for 16-bit), matching the
shape contract of operators/multimodal.decode_image. The encoder writes
valid PNGs with a caller-chosen per-row filter — encode applies the
filter transform forward, decode inverts it, so roundtrip tests cross-
check the two directions (tests/test_png.py, incl. hypothesis arrays).

Filter math reference: the PNG spec (RFC 2083 §6); no code consulted.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"

_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


class PngError(ValueError):
    pass


def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Paeth predictor, vectorized over the sample lanes of one pixel."""
    a16 = a.astype(np.int16)
    b16 = b.astype(np.int16)
    c16 = c.astype(np.int16)
    p = a16 + b16 - c16
    pa, pb, pc = np.abs(p - a16), np.abs(p - b16), np.abs(p - c16)
    out = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))
    return out.astype(np.uint8)


def _unfilter(raw: np.ndarray, h: int, stride: int, bpp: int) -> np.ndarray:
    """Invert per-scanline filtering. raw is (h, 1+stride) bytes (filter
    tag + filtered scanline); returns (h, stride) reconstructed bytes.

    Vectorization notes: None/Up are whole-row numpy ops; Sub is a
    per-byte-lane cumulative sum (mod 256 for free in uint8); Average and
    Paeth carry a true left-dependency, so they walk the row pixel-wise
    with the bpp lanes vectorized — O(w) python steps per such row, which
    is why a 100 TB image pipeline batches many small web images per
    Arrow batch rather than one giant scan."""
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        ftype = int(raw[y, 0])
        line = raw[y, 1:].copy()
        if ftype == 0:
            rec = line
        elif ftype == 1:  # Sub
            rec = line.reshape(-1, bpp).cumsum(axis=0, dtype=np.uint64)
            rec = (rec & 0xFF).astype(np.uint8).reshape(-1)
        elif ftype == 2:  # Up
            rec = line + prev
        elif ftype == 3:  # Average
            rec = line
            rec[:bpp] += (prev[:bpp] // 2).astype(np.uint8)
            for x in range(bpp, stride, bpp):
                left = rec[x - bpp: x].astype(np.uint16)
                up = prev[x: x + bpp].astype(np.uint16)
                rec[x: x + bpp] += ((left + up) // 2).astype(np.uint8)
        elif ftype == 4:  # Paeth
            rec = line
            zero = np.zeros(bpp, dtype=np.uint8)
            rec[:bpp] += _paeth(zero, prev[:bpp], zero)
            for x in range(bpp, stride, bpp):
                rec[x: x + bpp] += _paeth(
                    rec[x - bpp: x], prev[x: x + bpp], prev[x - bpp: x]
                )
        else:
            raise PngError(f"unknown filter type {ftype} on row {y}")
        out[y] = rec
        prev = rec
    return out


def decode_png(data: bytes) -> np.ndarray:
    """PNG bytes → (h, w, channels) uint8 (uint16 for 16-bit images)."""
    if data[:8] != PNG_MAGIC:
        raise PngError("not a PNG (bad signature)")
    pos = 8
    ihdr = None
    plte = None
    idat = []
    while pos + 8 <= len(data):
        (length,) = struct.unpack_from(">I", data, pos)
        ctype = data[pos + 4: pos + 8]
        body = data[pos + 8: pos + 8 + length]
        if len(body) != length:
            raise PngError(f"truncated chunk {ctype!r}")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"PLTE":
            plte = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat.append(body)
        elif ctype == b"IEND":
            break
        pos += 12 + length  # length + type + crc
    if ihdr is None:
        raise PngError("missing IHDR")
    w, h, depth, color, comp, filt, interlace = ihdr
    if comp != 0 or filt != 0:
        raise PngError(f"unsupported compression/filter method {comp}/{filt}")
    if interlace != 0:
        raise PngError("Adam7 interlace not supported")
    if color not in _CHANNELS:
        raise PngError(f"unknown color type {color}")
    if depth not in (8, 16) or (depth == 16 and color not in (0, 2)):
        raise PngError(f"unsupported bit depth {depth} for color type {color}")
    if not idat:
        raise PngError("missing IDAT")
    c = _CHANNELS[color]
    bpp = c * depth // 8
    stride = w * bpp
    raw = zlib.decompress(b"".join(idat))
    if len(raw) != h * (stride + 1):
        raise PngError(
            f"decompressed size {len(raw)} != expected {h * (stride + 1)}"
        )
    rec = _unfilter(
        np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1),
        h, stride, bpp,
    )
    if depth == 16:
        arr = rec.reshape(h, w, c, 2).astype(np.uint16)
        return (arr[..., 0] << 8) | arr[..., 1]  # network order
    arr = rec.reshape(h, w, c)
    if color == 3:
        if plte is None:
            raise PngError("color type 3 without PLTE")
        return plte[arr[:, :, 0]]
    return arr


def _filter_row(
    line: np.ndarray, prev: np.ndarray, ftype: int, bpp: int
) -> np.ndarray:
    """Forward filter transform of one reconstructed scanline (encoder
    side — the exact inverse of _unfilter's per-type math)."""
    stride = len(line)
    left = np.zeros(stride, dtype=np.uint8)
    left[bpp:] = line[:-bpp]
    upleft = np.zeros(stride, dtype=np.uint8)
    upleft[bpp:] = prev[:-bpp]
    if ftype == 0:
        return line.copy()
    if ftype == 1:
        return line - left
    if ftype == 2:
        return line - prev
    if ftype == 3:
        return line - (
            (left.astype(np.uint16) + prev.astype(np.uint16)) // 2
        ).astype(np.uint8)
    if ftype == 4:
        return line - _paeth(left, prev, upleft)
    raise PngError(f"unknown filter type {ftype}")


def encode_png(
    arr: np.ndarray,
    filters: int | list[int] | None = None,
    palette: np.ndarray | None = None,
) -> bytes:
    """(h, w[, c]) uint8/uint16 → PNG bytes. `filters` picks the per-row
    filter (int for all rows, list per row, None → row_idx % 5 so every
    filter path gets exercised). Pass `palette` (n,3 uint8) with a (h,w)
    or (h,w,1) index array to write color type 3."""
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, c = arr.shape
    if palette is not None:
        if c != 1 or arr.dtype != np.uint8:
            raise PngError("palette images need (h, w[, 1]) uint8 indices")
        color, depth = 3, 8
    elif arr.dtype == np.uint8:
        color = {1: 0, 2: 4, 3: 2, 4: 6}[c]
        depth = 8
    elif arr.dtype == np.uint16:
        if c not in (1, 3):
            raise PngError("16-bit supports gray/RGB only")
        color = {1: 0, 3: 2}[c]
        depth = 16
    else:
        raise PngError(f"unsupported dtype {arr.dtype}")
    if depth == 16:
        body = np.empty((h, w, c, 2), dtype=np.uint8)
        body[..., 0] = (arr >> 8).astype(np.uint8)
        body[..., 1] = (arr & 0xFF).astype(np.uint8)
        flat = body.reshape(h, -1)
    else:
        flat = arr.reshape(h, -1)
    bpp = c * depth // 8
    stride = w * bpp
    if filters is None:
        ftypes = [y % 5 for y in range(h)]
    elif isinstance(filters, int):
        ftypes = [filters] * h
    else:
        ftypes = list(filters)
        if len(ftypes) != h:
            raise ValueError(
                f"filters has {len(ftypes)} entries for {h} rows"
            )
    out = bytearray()
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        out.append(ftypes[y])
        out += _filter_row(flat[y], prev, ftypes[y], bpp).tobytes()
        prev = flat[y]

    def chunk(ctype: bytes, body: bytes) -> bytes:
        crc = zlib.crc32(ctype + body) & 0xFFFFFFFF
        return struct.pack(">I", len(body)) + ctype + body + struct.pack(">I", crc)

    ihdr = struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, 0)
    chunks = [chunk(b"IHDR", ihdr)]
    if palette is not None:
        chunks.append(chunk(b"PLTE", palette.astype(np.uint8).tobytes()))
    chunks.append(chunk(b"IDAT", zlib.compress(bytes(out), 6)))
    chunks.append(chunk(b"IEND", b""))
    return PNG_MAGIC + b"".join(chunks)
