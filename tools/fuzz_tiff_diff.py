#!/usr/bin/env python3
"""Broad-coverage TIFF differential sweep (the fuzz_brotli_diff
pattern): write N random-but-VALID grayscale TIFFs with the SYSTEM
libtiff across compression {none, LZW, AdobeDeflate, PackBits} ×
predictor {1,2} × random dims/rows-per-strip × content shapes (text
bytes, high-entropy LCG, ramps, long runs, mixed) — sizes chosen so
LZW streams cross every early-change width boundary and the
4094-entry Clear — then require graft.operators.Tiff to decode every
one byte-exactly (graft.tools.TiffDiff). Seeded, so a failure
reproduces.

Usage: python3 tools/fuzz_tiff_diff.py [N=200] [seed=1]  (after `sbt Test/compile`)
"""
import ctypes
import os
import random
import shutil
import subprocess
import sys
import tempfile

T = ctypes.CDLL("libtiff.so.6")
T.TIFFOpen.restype = ctypes.c_void_p
T.TIFFOpen.argtypes = [ctypes.c_char_p, ctypes.c_char_p]
T.TIFFSetField.restype = ctypes.c_int
T.TIFFWriteScanline.restype = ctypes.c_int
T.TIFFWriteScanline.argtypes = [ctypes.c_void_p, ctypes.c_void_p,
                                ctypes.c_uint32, ctypes.c_uint16]
T.TIFFReadScanline.restype = ctypes.c_int
T.TIFFReadScanline.argtypes = [ctypes.c_void_p, ctypes.c_void_p,
                               ctypes.c_uint32, ctypes.c_uint16]
T.TIFFClose.argtypes = [ctypes.c_void_p]

IMAGEWIDTH, IMAGELENGTH, BITSPERSAMPLE = 256, 257, 258
COMPRESSION, PHOTOMETRIC, SAMPLESPERPIXEL = 259, 262, 277
ROWSPERSTRIP, PLANARCONFIG, PREDICTOR = 278, 284, 317

N = int(sys.argv[1]) if len(sys.argv) > 1 else 200
SEED = int(sys.argv[2]) if len(sys.argv) > 2 else 1
rnd = random.Random(SEED)


def content(kind, n):
    if kind == 0:
        words = b"the of and information time people website public "
        return (words * (n // len(words) + 1))[:n]
    if kind == 1:
        return bytes(rnd.getrandbits(8) for _ in range(n))
    if kind == 2:
        return bytes((i * 37) % 256 for i in range(n))
    if kind == 3:
        out = bytearray()
        while len(out) < n:
            out += bytes([rnd.getrandbits(8)]) * (rnd.randint(1, 300))
        return bytes(out[:n])
    half = n // 2
    return content(0, half) + content(1, n - half)


def write_tiff(path, w, h, px, comp, pred, rps):
    tif = ctypes.c_void_p(T.TIFFOpen(path.encode(), b"w"))
    assert tif.value, f"TIFFOpen failed: {path}"
    sf = T.TIFFSetField
    sf(tif, ctypes.c_uint32(IMAGEWIDTH), ctypes.c_uint32(w))
    sf(tif, ctypes.c_uint32(IMAGELENGTH), ctypes.c_uint32(h))
    sf(tif, ctypes.c_uint32(BITSPERSAMPLE), ctypes.c_int(8))
    sf(tif, ctypes.c_uint32(SAMPLESPERPIXEL), ctypes.c_int(1))
    sf(tif, ctypes.c_uint32(PHOTOMETRIC), ctypes.c_int(1))
    sf(tif, ctypes.c_uint32(PLANARCONFIG), ctypes.c_int(1))
    sf(tif, ctypes.c_uint32(COMPRESSION), ctypes.c_int(comp))
    if pred != 1:
        sf(tif, ctypes.c_uint32(PREDICTOR), ctypes.c_int(pred))
    sf(tif, ctypes.c_uint32(ROWSPERSTRIP), ctypes.c_uint32(rps))
    for r in range(h):
        buf = ctypes.create_string_buffer(px[r * w:(r + 1) * w], w)
        assert T.TIFFWriteScanline(tif, buf, r, 0) == 1
    T.TIFFClose(tif)


def read_tiff(path, w, h):
    tif = ctypes.c_void_p(T.TIFFOpen(path.encode(), b"r"))
    assert tif.value
    out = bytearray()
    buf = ctypes.create_string_buffer(w)
    for r in range(h):
        assert T.TIFFReadScanline(tif, buf, r, 0) == 1
        out += buf.raw[:w]
    T.TIFFClose(tif)
    return bytes(out)


d = tempfile.mkdtemp(prefix="tiff_diff_")
try:
    for i in range(N):
        comp = rnd.choice([1, 5, 5, 8, 8, 32773])  # weight the codecs
        pred = rnd.choice([1, 2]) if comp in (5, 8) else 1
        # size classes: small, boundary-crossing, clear-crossing
        cls = rnd.randint(0, 3)
        if cls == 0:
            w, h = rnd.randint(1, 40), rnd.randint(1, 30)
        elif cls == 1:
            w, h = rnd.randint(40, 120), rnd.randint(20, 60)
        elif cls == 2:
            w, h = rnd.randint(100, 300), rnd.randint(40, 120)
        else:
            w, h = rnd.randint(200, 400), rnd.randint(100, 200)
        rps = rnd.choice([1, 2, 5, 16, 64, h, h + 7])
        px = content(rnd.randint(0, 4), w * h)
        path = os.path.join(d, f"{i:04d}.tif")
        write_tiff(path, w, h, px, comp, pred, rps)
        back = read_tiff(path, w, h)
        assert back == px, f"libtiff self round-trip failed on case {i}"
        with open(os.path.join(d, f"{i:04d}.gray"), "wb") as f:
            f.write(back)
    print(f"{N} libtiff-written cases -> {d}; running graft.tools.TiffDiff")
    r = subprocess.run(["tools/runjava.sh", "graft.tools.TiffDiff", d],
                       cwd=os.path.dirname(os.path.dirname(
                           os.path.abspath(__file__))))
    sys.exit(r.returncode)
finally:
    shutil.rmtree(d, ignore_errors=True)
