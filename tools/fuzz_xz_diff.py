#!/usr/bin/env python3
"""Broad-coverage xz differential sweep (the fuzz_bzip2_diff pattern):
compress N seeded random cases with CPython's lzma module — which IS
the system liblzma — across presets 0..9 (incl. EXTREME), check types
CRC32/CRC64/SHA256/none, content shapes (text, high entropy, ramps,
long runs, mixed, empty, 1-byte, multi-MB), pre-filter chains (~45%
of cases across x86/ARM/ARM-Thumb/PowerPC/SPARC branch converters and
delta with random distances — every `xz -F <filter>` regime liblzma
exposes here; ARM64 is xz-java-pinned in XzSpec), plus multi-stream
concatenation — then require graft.operators.Xz to decode every one
byte-exactly (graft.tools.XzDiff). Seeded, so a failure reproduces.

Usage: python3 tools/fuzz_xz_diff.py [N=200] [seed=1]  (after `sbt Test/compile`)
"""
import lzma
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


CHECKS = [lzma.CHECK_CRC32, lzma.CHECK_CRC64, lzma.CHECK_SHA256,
          lzma.CHECK_NONE]

d = tempfile.mkdtemp(prefix="xz_diff_")
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
            n = rnd.randint(5000, 100000)
        elif szc == 4:
            n = rnd.randint(100000, 500000)
        else:
            n = rnd.randint(500000, 2000000)
        data = content(rnd.randint(0, 4), n)
        preset = rnd.randint(0, 9)
        if rnd.random() < 0.2:
            preset |= lzma.PRESET_EXTREME
        check = rnd.choice(CHECKS)
        if rnd.random() < 0.08 and n < 500000:
            # RISC-V pre-filter: CPython's lzma module predates
            # FILTER_RISCV, so these go through the xz CLI (same
            # liblzma). Salt the content with trigger-dense words so
            # the JAL/AUIPC-pair/escape paths all run.
            salt = bytearray(data)
            j = 0
            while j + 8 <= len(salt):
                r = rnd.random()
                if r < 0.08:
                    salt[j] = 0xEF
                elif r < 0.16:
                    salt[j] = rnd.choice([0x17, 0x97])
                j += rnd.randrange(2, 10, 2)
            data = bytes(salt)
            blob = subprocess.run(
                ["xz", "--filters=riscv lzma2:preset=" +
                 str(preset & 0x0F), "-c", "-T1",
                 "--check=" + {lzma.CHECK_CRC32: "crc32",
                               lzma.CHECK_CRC64: "crc64",
                               lzma.CHECK_SHA256: "sha256",
                               lzma.CHECK_NONE: "none"}[check]],
                input=data, capture_output=True, check=True).stdout
        elif rnd.random() < 0.45:  # pre-filter chains (xz -F <filter>)
            pre = rnd.choice([
                {"id": lzma.FILTER_X86},
                {"id": lzma.FILTER_ARM},
                {"id": lzma.FILTER_ARMTHUMB},
                {"id": lzma.FILTER_POWERPC},
                {"id": lzma.FILTER_SPARC},
                {"id": lzma.FILTER_IA64},
                {"id": lzma.FILTER_DELTA, "dist": rnd.randint(1, 256)},
            ])
            blob = lzma.compress(
                data, format=lzma.FORMAT_XZ, check=check,
                filters=[pre, {"id": lzma.FILTER_LZMA2,
                               "preset": preset & 0x0F}])
        else:
            blob = lzma.compress(data, format=lzma.FORMAT_XZ, check=check,
                                 preset=preset)
        if rnd.random() < 0.15:  # concatenated second stream
            extra = content(rnd.randint(0, 4), rnd.randint(0, 20000))
            blob += lzma.compress(extra, format=lzma.FORMAT_XZ,
                                  check=rnd.choice(CHECKS),
                                  preset=rnd.randint(0, 6))
            data += extra
        with open(os.path.join(d, f"{i:04d}.xz"), "wb") as f:
            f.write(blob)
        with open(os.path.join(d, f"{i:04d}.raw"), "wb") as f:
            f.write(data)
    print(f"{N} liblzma-written cases -> {d}; running graft.tools.XzDiff")
    r = subprocess.run(["tools/runjava.sh", "graft.tools.XzDiff", d],
                       cwd=os.path.dirname(os.path.dirname(
                           os.path.abspath(__file__))))
    sys.exit(r.returncode)
finally:
    shutil.rmtree(d, ignore_errors=True)
