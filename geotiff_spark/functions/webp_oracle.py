"""ctypes bridge to the system libwebp — used ONLY as a test oracle
and corpus generator for the from-scratch VP8 decoder (functions/
vp8.py): encode_lossy() produces REAL libwebp-encoded lossy WebP
bytes; decode_yuv() returns libwebp's own YUV420 decode for
bit-exactness assertions. Gated: callers must check available() and
skip when the shared library is absent (tests do)."""

from __future__ import annotations

import ctypes
import ctypes.util

import numpy as np

_lib = None


def _load():
    global _lib
    if _lib is None:
        name = ctypes.util.find_library("webp") or "libwebp.so.7"
        _lib = ctypes.CDLL(name)
        _lib.WebPEncodeRGB.restype = ctypes.c_size_t
        _lib.WebPEncodeRGB.argtypes = [
            ctypes.c_char_p, ctypes.c_int, ctypes.c_int, ctypes.c_int,
            ctypes.c_float, ctypes.POINTER(ctypes.POINTER(ctypes.c_uint8)),
        ]
        _lib.WebPDecodeYUV.restype = ctypes.POINTER(ctypes.c_uint8)
        _lib.WebPDecodeYUV.argtypes = [
            ctypes.c_char_p, ctypes.c_size_t,
            ctypes.POINTER(ctypes.c_int), ctypes.POINTER(ctypes.c_int),
            ctypes.POINTER(ctypes.POINTER(ctypes.c_uint8)),
            ctypes.POINTER(ctypes.POINTER(ctypes.c_uint8)),
            ctypes.POINTER(ctypes.c_int), ctypes.POINTER(ctypes.c_int),
        ]
        _lib.WebPFree.restype = None
        _lib.WebPFree.argtypes = [ctypes.c_void_p]
    return _lib


def available() -> bool:
    try:
        _load()
        return True
    except OSError:
        return False


def encode_lossy(rgb: np.ndarray, quality: float = 75.0) -> bytes:
    """(h, w, 3) uint8 → lossy WebP bytes via libwebp."""
    lib = _load()
    h, w = rgb.shape[:2]
    buf = np.ascontiguousarray(rgb, dtype=np.uint8).tobytes()
    out = ctypes.POINTER(ctypes.c_uint8)()
    n = lib.WebPEncodeRGB(buf, w, h, w * 3, float(quality),
                          ctypes.byref(out))
    if n == 0:
        raise RuntimeError("WebPEncodeRGB failed")
    data = ctypes.string_at(out, n)
    lib.WebPFree(ctypes.cast(out, ctypes.c_void_p))
    return data


def decode_yuv(data: bytes):
    """lossy WebP bytes → (y, u, v) uint8 planes via libwebp."""
    lib = _load()
    w = ctypes.c_int()
    h = ctypes.c_int()
    up = ctypes.POINTER(ctypes.c_uint8)()
    vp = ctypes.POINTER(ctypes.c_uint8)()
    stride = ctypes.c_int()
    uv_stride = ctypes.c_int()
    yp = lib.WebPDecodeYUV(data, len(data), ctypes.byref(w),
                           ctypes.byref(h), ctypes.byref(up),
                           ctypes.byref(vp), ctypes.byref(stride),
                           ctypes.byref(uv_stride))
    if not yp:
        raise RuntimeError("WebPDecodeYUV failed")
    W, H = w.value, h.value
    uw, uh = (W + 1) // 2, (H + 1) // 2
    y = np.ctypeslib.as_array(yp, shape=(H, stride.value))[:, :W].copy()
    u = np.ctypeslib.as_array(up, shape=(uh, uv_stride.value))[:, :uw].copy()
    v = np.ctypeslib.as_array(vp, shape=(uh, uv_stride.value))[:, :uw].copy()
    lib.WebPFree(ctypes.cast(yp, ctypes.c_void_p))
    return y, u, v
