#!/usr/bin/env python3
"""Focused RISC-V BCJ differential sweep: N trigger-dense cases
encoded by the SYSTEM liblzma (`xz --filters='riscv lzma2'` — CPython's
lzma module predates FILTER_RISCV) must decode byte-exactly under
graft (graft.tools.XzDiff).

The filter's semantics were extracted BLACK-BOX from liblzma 5.8 with
chosen-plaintext probes (no xz source on this system): encode a probe,
strip the container and the lzma2 layer (python lzma FORMAT_RAW), and
diff the exposed FILTERED bytes against the plaintext. The recovered
scheme — validated by this sweep and by xz-java's RISCVOptions in
XzSpec:

  - scan at 2-byte alignment while i + 8 <= size;
  - JAL rd=x1/x5 (byte0 0xEF, byte1 & 0x0D == 0): the scattered
    J-immediate <-> absolute halfword address ((jimm + pc) >> 1,
    20 bits) stored byte-reversed in bits 12..31; advance 4;
  - AUIPC rd not in {x0,x2} with a "pair shape" next word
    ((w2 & 3) == 3 and rs1(w2) == rd) is PACKED: marker word
    inst2[19:0] << 12 | 0x117 plus the 32-bit absolute address
    (imm20 << 12) + signext(imm12) + pc stored big-endian; advance 8;
  - AUIPC-x2 whose imm aliases a packed marker ((imm & 3) == 3,
    rs1(imm) not in {0,2}) is ESCAPED into the vacated pair-shape
    space: (w2 >> 12) << 12 | rs1 << 7 | 0x17, then
    (w2 & 0xFFF) << 20 | imm; advance 8;
  - non-converting AUIPCs still consume positions: failed pair
    advances 6, failed marker 4 — the decoder replays the same skips.

Usage: python3 tools/fuzz_riscv_diff.py [N=200] [seed=1]  (after `sbt Test/compile`)
"""
import os
import random
import shutil
import struct
import subprocess
import sys
import tempfile

N = int(sys.argv[1]) if len(sys.argv) > 1 else 200
SEED = int(sys.argv[2]) if len(sys.argv) > 2 else 1
rnd = random.Random(SEED)


def trigger_dense(nwords: int) -> bytes:
    words = []
    for _ in range(nwords):
        r = rnd.random()
        if r < 0.2:  # JAL x1/x5
            rd = rnd.choice([1, 5])
            w = rnd.getrandbits(20) << 12 | rd << 7 | 0x6F
        elif r < 0.4:  # AUIPC, any rd
            w = rnd.getrandbits(20) << 12 | rnd.getrandbits(5) << 7 | 0x17
        elif r < 0.55:  # pair-shaped I-type word
            w = (rnd.getrandbits(12) << 20 | rnd.getrandbits(5) << 15 |
                 rnd.getrandbits(8) << 7 | rnd.choice([0x03, 0x13, 0x67]))
        elif r < 0.65:  # marker-shaped AUIPC-x2
            w = rnd.getrandbits(20) << 12 | 0x117
        else:
            w = rnd.getrandbits(32)
        words.append(struct.pack('<I', w))
    pad = rnd.choice([b'', b'\x17', b'\xEF\x00', bytes(rnd.randint(1, 7))])
    return pad + b''.join(words)


d = tempfile.mkdtemp(prefix="riscv_diff_")
try:
    for i in range(N):
        kind = i % 4
        if kind == 0:
            data = trigger_dense(rnd.randint(1, 5000))
        elif kind == 1:
            data = rnd.randbytes(rnd.randint(0, 100000))
        elif kind == 2:
            data = bytes(rnd.choice([0x17, 0x97, 0xEF, 0x00, 0x03, 0x13])
                         for _ in range(rnd.randint(8, 4000)))
        else:
            data = (b"the public domain text corpus line\n" * rnd.randint(1, 300)
                    + trigger_dense(rnd.randint(0, 500)))
        preset = rnd.randint(0, 6)
        check = rnd.choice(["crc32", "crc64", "sha256", "none"])
        blob = subprocess.run(
            ["xz", f"--filters=riscv lzma2:preset={preset}", "-c", "-T1",
             f"--check={check}"],
            input=data, capture_output=True, check=True).stdout
        with open(os.path.join(d, f"{i:04d}.xz"), "wb") as f:
            f.write(blob)
        with open(os.path.join(d, f"{i:04d}.raw"), "wb") as f:
            f.write(data)
    print(f"{N} liblzma riscv-filtered cases -> {d}; running graft.tools.XzDiff")
    r = subprocess.run(["tools/runjava.sh", "graft.tools.XzDiff", d],
                       cwd=os.path.dirname(os.path.dirname(
                           os.path.abspath(__file__))))
    sys.exit(r.returncode)
finally:
    shutil.rmtree(d, ignore_errors=True)
