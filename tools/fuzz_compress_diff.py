#!/usr/bin/env python3
"""Unix compress (.Z LZW) differential sweep. The system has no .Z
COMPRESSOR (uncompress(1) is a gzip wrapper), but `gzip -d` IS the
reference DECODER — so the sweep runs both directions through it:

  1. graft.operators.UnixCompress.encode writes N seeded cases across
     content shapes and maxbits 9..16 (graft.tools.CompressDiff, batch);
  2. `gzip -d` must recover every one byte-exactly (encoder pinned
     against the reference decoder, incl. the group-padding quirk that
     desyncs naive implementations at the first width bump);
  3. graft.operators.UnixCompress.decode must agree on the same wire
     (decoder pinned against the encoder across the sweep).

Seeded, so a failure reproduces.

Usage: python3 tools/fuzz_compress_diff.py [N=200] [seed=1]  (after `sbt Test/compile`)
"""
import os
import random
import shutil
import subprocess
import sys
import tempfile

N = int(sys.argv[1]) if len(sys.argv) > 1 else 200
SEED = int(sys.argv[2]) if len(sys.argv) > 2 else 1
rnd = random.Random(SEED)

root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
d = tempfile.mkdtemp(prefix="compress_diff_")


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


try:
    # 1. write the cases + graft-encoded .Z files (also runs the graft
    #    decoder over its own wire and compares -> raw2)
    spec = os.path.join(d, "spec.txt")
    with open(spec, "w") as f:
        for i in range(N):
            szc = rnd.randint(0, 4)
            n = [0, rnd.randint(1, 10), rnd.randint(10, 5000),
                 rnd.randint(5000, 200000), rnd.randint(200000, 1000000)][szc]
            data = content(rnd.randint(0, 4), n)
            maxbits = rnd.choice([9, 10, 12, 13, 14, 15, 16])
            with open(os.path.join(d, f"{i:04d}.raw"), "wb") as rf:
                rf.write(data)
            f.write(f"{i:04d} {maxbits}\n")
    r = subprocess.run(["tools/runjava.sh", "graft.tools.CompressDiff", d],
                       cwd=root)
    if r.returncode != 0:
        sys.exit(r.returncode)

    # 2. the system gzip must recover every graft-encoded .Z byte-exactly
    fails = 0
    for i in range(N):
        z = os.path.join(d, f"{i:04d}.Z")
        want = open(os.path.join(d, f"{i:04d}.raw"), "rb").read()
        p = subprocess.run(["gzip", "-dc", z], capture_output=True)
        if p.returncode != 0 or p.stdout != want:
            print(f"FAIL {i:04d}: gzip -d "
                  f"rc={p.returncode} len={len(p.stdout)}/{len(want)}")
            fails += 1
    print(f"{N - fails}/{N} graft-encoded .Z recovered byte-exact by "
          f"the system gzip")
    sys.exit(1 if fails else 0)
finally:
    shutil.rmtree(d, ignore_errors=True)
