#!/usr/bin/env python3
"""Broad-coverage bzip2 differential sweep (the fuzz_brotli_diff
pattern): compress N seeded random cases with CPython's bz2 module —
which IS the system libbz2 — across compression levels 1..9 and
content shapes (dictionary-ish text, high entropy, ramps, long runs
that stress RUNA/RUNB and the RLE1 count-byte layer, mixed, empty,
1-byte, multi-block sizes, pbzip2-style concatenated streams) — then
require graft.operators.Bzip2 to decode every one byte-exactly
(graft.tools.Bzip2Diff). Seeded, so a failure reproduces.

Usage: python3 tools/fuzz_bzip2_diff.py [N=200] [seed=1]  (after `sbt Test/compile`)
"""
import bz2
import os
import random
import shutil
import subprocess
import sys
import tempfile

N = int(sys.argv[1]) if len(sys.argv) > 1 else 200
SEED = int(sys.argv[2]) if len(sys.argv) > 2 else 1
rnd = random.Random(SEED)


def content(kind, n):
    if kind == 0:
        words = b"the of and information time people website public domain "
        return (words * (n // len(words) + 1))[:n]
    if kind == 1:
        return rnd.randbytes(n)
    if kind == 2:
        return bytes((i * 37) % 256 for i in range(n))
    if kind == 3:
        out = bytearray()
        while len(out) < n:
            out += bytes([rnd.getrandbits(8)]) * rnd.randint(1, 1000)
        return bytes(out[:n])
    half = n // 2
    return content(0, half) + content(1, n - half)


d = tempfile.mkdtemp(prefix="bzip2_diff_")
try:
    for i in range(N):
        szc = rnd.randint(0, 5)
        if szc == 0:
            n = 0
        elif szc == 1:
            n = rnd.randint(1, 10)
        elif szc == 2:
            n = rnd.randint(10, 5000)
        elif szc == 3:
            n = rnd.randint(5000, 120000)
        elif szc == 4:
            n = rnd.randint(120000, 400000)  # multi-block at low levels
        else:
            n = rnd.randint(400000, 1200000)
        data = content(rnd.randint(0, 4), n)
        level = rnd.randint(1, 9)
        blob = bz2.compress(data, level)
        if rnd.random() < 0.15:  # concatenated second stream
            extra = content(rnd.randint(0, 4), rnd.randint(0, 30000))
            blob += bz2.compress(extra, rnd.randint(1, 9))
            data += extra
        with open(os.path.join(d, f"{i:04d}.bz2"), "wb") as f:
            f.write(blob)
        with open(os.path.join(d, f"{i:04d}.raw"), "wb") as f:
            f.write(data)
    print(f"{N} libbz2-written cases -> {d}; running graft.tools.Bzip2Diff")
    r = subprocess.run(["tools/runjava.sh", "graft.tools.Bzip2Diff", d],
                       cwd=os.path.dirname(os.path.dirname(
                           os.path.abspath(__file__))))
    sys.exit(r.returncode)
finally:
    shutil.rmtree(d, ignore_errors=True)
