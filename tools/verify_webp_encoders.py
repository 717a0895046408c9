#!/usr/bin/env python3
"""Reverse interop seal: decode graft-ENCODED WebP blobs with the SYSTEM
libwebp (the reference implementation) and compare pixel-exactly
against graft's expected output.

Vp8InteropSpec proves graft reads real libwebp files bit-exactly; this
proves libwebp reads graft's files — a self-consistent
encoder/decoder pair cannot fake either direction.

Usage (after `sbt Test/compile`):
  tools/runjava.sh graft.tools.DumpWebpFixtures /tmp/graft-webp-enc
  python3 tools/verify_webp_encoders.py /tmp/graft-webp-enc
"""
import ctypes
import glob
import os
import struct
import sys

LIB = ctypes.CDLL("libwebp.so.7")
LIB.WebPDecodeARGB.restype = ctypes.POINTER(ctypes.c_uint8)
LIB.WebPDecodeARGB.argtypes = [
    ctypes.c_char_p, ctypes.c_size_t,
    ctypes.POINTER(ctypes.c_int), ctypes.POINTER(ctypes.c_int)]
LIB.WebPDecodeYUV.restype = ctypes.POINTER(ctypes.c_uint8)
LIB.WebPDecodeYUV.argtypes = [
    ctypes.c_char_p, ctypes.c_size_t,
    ctypes.POINTER(ctypes.c_int), ctypes.POINTER(ctypes.c_int),
    ctypes.POINTER(ctypes.POINTER(ctypes.c_uint8)),
    ctypes.POINTER(ctypes.POINTER(ctypes.c_uint8)),
    ctypes.POINTER(ctypes.c_int), ctypes.POINTER(ctypes.c_int)]
LIB.WebPFree.argtypes = [ctypes.c_void_p]

d = sys.argv[1] if len(sys.argv) > 1 else "/tmp/graft-webp-enc"
fails = 0
checked = 0

for f in sorted(glob.glob(f"{d}/lossless_*.webp")):
    blob = open(f, "rb").read()
    exp = open(f.replace(".webp", ".argb"), "rb").read()
    ew, eh = struct.unpack("<ii", exp[:8])
    w = ctypes.c_int(); h = ctypes.c_int()
    p = LIB.WebPDecodeARGB(blob, len(blob), ctypes.byref(w), ctypes.byref(h))
    name = os.path.basename(f)
    checked += 1
    if not p:
        print(f"FAIL {name}: libwebp refused to decode"); fails += 1; continue
    got = ctypes.string_at(p, w.value * h.value * 4)
    LIB.WebPFree(p)
    if (w.value, h.value) != (ew, eh):
        print(f"FAIL {name}: dims {w.value}x{h.value} != {ew}x{eh}"); fails += 1
    elif got != exp[8:]:
        bad = sum(1 for a, b in zip(got, exp[8:]) if a != b)
        print(f"FAIL {name}: {bad} byte mismatches"); fails += 1
    else:
        print(f"OK   {name} ({ew}x{eh})")

for f in sorted(glob.glob(f"{d}/lossy_*.webp")):
    blob = open(f, "rb").read()
    exp = open(f.replace(".webp", ".yuv"), "rb").read()
    ew, eh = struct.unpack("<ii", exp[:8])
    uvw, uvh = (ew + 1) // 2, (eh + 1) // 2
    w = ctypes.c_int(); h = ctypes.c_int()
    u = ctypes.POINTER(ctypes.c_uint8)(); v = ctypes.POINTER(ctypes.c_uint8)()
    stride = ctypes.c_int(); uv_stride = ctypes.c_int()
    y = LIB.WebPDecodeYUV(blob, len(blob), ctypes.byref(w), ctypes.byref(h),
                          ctypes.byref(u), ctypes.byref(v),
                          ctypes.byref(stride), ctypes.byref(uv_stride))
    name = os.path.basename(f)
    checked += 1
    if not y:
        print(f"FAIL {name}: libwebp refused to decode"); fails += 1; continue
    yb = b"".join(ctypes.string_at(ctypes.byref(y.contents, r * stride.value), ew)
                  for r in range(eh))
    ub = b"".join(ctypes.string_at(ctypes.byref(u.contents, r * uv_stride.value), uvw)
                  for r in range(uvh))
    vb = b"".join(ctypes.string_at(ctypes.byref(v.contents, r * uv_stride.value), uvw)
                  for r in range(uvh))
    LIB.WebPFree(y)
    want = exp[8:]
    got = yb + ub + vb
    if (w.value, h.value) != (ew, eh):
        print(f"FAIL {name}: dims {w.value}x{h.value} != {ew}x{eh}"); fails += 1
    elif got != want:
        bad = sum(1 for a, b in zip(got, want) if a != b)
        print(f"FAIL {name}: {bad} sample mismatches"); fails += 1
    else:
        print(f"OK   {name} ({ew}x{eh})")

print(f"\n{checked - fails}/{checked} passed")
sys.exit(1 if fails else 0)
