#!/usr/bin/env python3
"""Broad-coverage WebP RGBA differential sweep: encode N random images
with the SYSTEM libwebp (random content shapes, qualities 10..99,
dims 3..180 incl. odd/prime sizes, with and without alpha), dump
`WebPDecodeRGBA` expected output, and require graft's full lossy chain
(Vp8 decode -> fancy upsample -> fixed-point matrix -> ALPH merge) to
agree sample-exactly (graft.tools.WebpRgbDiff). Seeded.

Usage: python3 tools/fuzz_webp_rgba.py [N=150] [seed=1]  (after `sbt Test/compile`)
"""
import ctypes
import os
import random
import shutil
import struct
import subprocess
import sys

LIB = ctypes.CDLL("libwebp.so.7")
LIB.WebPEncodeRGBA.restype = ctypes.c_size_t
LIB.WebPEncodeRGBA.argtypes = [
    ctypes.c_char_p, ctypes.c_int, ctypes.c_int, ctypes.c_int,
    ctypes.c_float, ctypes.POINTER(ctypes.POINTER(ctypes.c_uint8))]
LIB.WebPEncodeLosslessRGBA.restype = ctypes.c_size_t
LIB.WebPEncodeLosslessRGBA.argtypes = [
    ctypes.c_char_p, ctypes.c_int, ctypes.c_int, ctypes.c_int,
    ctypes.POINTER(ctypes.POINTER(ctypes.c_uint8))]
LIB.WebPDecodeRGBA.restype = ctypes.POINTER(ctypes.c_uint8)
LIB.WebPDecodeRGBA.argtypes = [
    ctypes.c_char_p, ctypes.c_size_t,
    ctypes.POINTER(ctypes.c_int), ctypes.POINTER(ctypes.c_int)]
LIB.WebPFree.argtypes = [ctypes.c_void_p]


def image(rnd, w, h, alpha):
    kind = rnd.randrange(4)
    buf = bytearray(w * h * 4)
    a1, a2, a3 = rnd.randrange(1, 9), rnd.randrange(1, 9), rnd.randrange(256)
    for y in range(h):
        for x in range(w):
            i = (y * w + x) * 4
            if kind == 0:
                r, g, b = (x * 255) // max(1, w - 1), (y * 255) // max(1, h - 1), (x + y + a3) % 256
            elif kind == 1:
                r = ((x // a1) * 37 + (y // a2) * 91 + a3) % 256
                g = ((x // a2) * 53 + (y // a1) * 29) % 256
                b = ((x // 4) * 11 + (y // 3) * 71) % 256
            elif kind == 2:
                r, g, b = rnd.randrange(256), rnd.randrange(256), rnd.randrange(256)
            else:
                on = ((x // (1 + a1)) + (y // (1 + a2))) % 2 == 0
                r, g, b = (230, 40, a3) if on else (20, 200, (255 - a3))
            buf[i], buf[i + 1], buf[i + 2] = r, g, b
            buf[i + 3] = (40 + (x * 5 + y * 9 + a3) % 200) if alpha else 255
    return bytes(buf)


def main():
    n_cases = int(sys.argv[1]) if len(sys.argv) > 1 else 150
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 1
    rnd = random.Random(seed)
    d = "/tmp/webp_rgba_diff"
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    for i in range(n_cases):
        w = rnd.choice([3, 5, 7, 11, 16, 17, 31, 33, 48, 64, 97, 129, 180])
        h = rnd.choice([3, 5, 7, 13, 16, 21, 29, 32, 45, 80, 101, 160])
        alpha = rnd.random() < 0.3
        q = rnd.randrange(10, 100)
        rgba = image(rnd, w, h, alpha)
        out = ctypes.POINTER(ctypes.c_uint8)()
        if rnd.random() < 0.35:  # VP8L: encoder-chosen transform mixes
            n = LIB.WebPEncodeLosslessRGBA(rgba, w, h, w * 4, ctypes.byref(out))
        else:
            n = LIB.WebPEncodeRGBA(rgba, w, h, w * 4, ctypes.c_float(q),
                                   ctypes.byref(out))
        assert n > 0
        blob = ctypes.string_at(out, n)
        LIB.WebPFree(out)
        ww = ctypes.c_int()
        hh = ctypes.c_int()
        p = LIB.WebPDecodeRGBA(blob, len(blob), ctypes.byref(ww), ctypes.byref(hh))
        expect = ctypes.string_at(p, ww.value * hh.value * 4)
        LIB.WebPFree(p)
        open(f"{d}/{i:04d}.webp", "wb").write(blob)
        with open(f"{d}/{i:04d}.rgba", "wb") as f:
            f.write(struct.pack("<ii", ww.value, hh.value))
            f.write(expect)
    print(f"generated {n_cases} cases (seed {seed}); running graft decode...")
    rc = subprocess.run(
        ["tools/runjava.sh", "graft.tools.WebpRgbDiff", d],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    sys.exit(rc.returncode)


if __name__ == "__main__":
    main()
