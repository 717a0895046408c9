#!/usr/bin/env python3
"""Broad-coverage brotli differential sweep: generate N random-but-VALID
streams with the SYSTEM libbrotli across the full encoder parameter
space — qualities 0..11, windows 10..24, all three modes
(GENERIC/TEXT/FONT, which select different context models), content
shapes (dictionary-rich text, hex noise, byte ramps, runs, mixed,
binary-with-structure), sizes 0..~1 MiB, and random FLUSH splits — then
require graft.operators.Brotli to decode every one byte-exactly
(graft.tools.BrotliDiff). Seeded, so a failure reproduces.

Usage: python3 tools/fuzz_brotli_diff.py [N=200] [seed=1]  (after `sbt Test/compile`)
"""
import ctypes
import hashlib
import os
import random
import shutil
import subprocess
import sys

LIBE = ctypes.CDLL("libbrotlienc.so.1")
LIBD = ctypes.CDLL("libbrotlidec.so.1")
LIBE.BrotliEncoderCompress.restype = ctypes.c_int
LIBE.BrotliEncoderCompress.argtypes = [
    ctypes.c_int, ctypes.c_int, ctypes.c_int, ctypes.c_size_t,
    ctypes.c_char_p, ctypes.POINTER(ctypes.c_size_t), ctypes.c_char_p]
LIBE.BrotliEncoderCreateInstance.restype = ctypes.c_void_p
LIBE.BrotliEncoderSetParameter.argtypes = [
    ctypes.c_void_p, ctypes.c_int, ctypes.c_uint32]
LIBE.BrotliEncoderCompressStream.restype = ctypes.c_int
LIBE.BrotliEncoderCompressStream.argtypes = [
    ctypes.c_void_p, ctypes.c_int,
    ctypes.POINTER(ctypes.c_size_t), ctypes.POINTER(ctypes.c_char_p),
    ctypes.POINTER(ctypes.c_size_t), ctypes.POINTER(ctypes.c_char_p),
    ctypes.POINTER(ctypes.c_size_t)]
LIBE.BrotliEncoderDestroyInstance.argtypes = [ctypes.c_void_p]

P_MODE, P_QUALITY, P_LGWIN = 0, 1, 2
OP_FLUSH, OP_FINISH = 1, 2

WORDS = ("the of and information time people website public domain "
         "however whether download software development government "
         "description copyright available ").split()


def content(rnd, kind, n):
    if kind == 0:  # dictionary-rich text
        return (" ".join(rnd.choice(WORDS) for _ in range(n // 6)))[:n].encode()
    if kind == 1:  # hex noise
        out = b""
        i = 0
        while len(out) < n:
            out += hashlib.md5(f"{rnd.random()}:{i}".encode()).hexdigest().encode()
            i += 1
        return out[:n]
    if kind == 2:  # byte structure
        return bytes((i * rnd.randrange(1, 250)) % 256 for i in range(n))
    if kind == 3:  # runs
        out = bytearray()
        while len(out) < n:
            out += bytes([rnd.randrange(256)]) * rnd.randrange(1, 400)
        return bytes(out[:n])
    # mixed
    return (content(rnd, 0, n // 2) + content(rnd, 1, n - n // 2))[:n]


def compress_stream(data, q, w, mode, splits, rnd):
    st = LIBE.BrotliEncoderCreateInstance(None, None, None)
    LIBE.BrotliEncoderSetParameter(st, P_QUALITY, q)
    LIBE.BrotliEncoderSetParameter(st, P_LGWIN, w)
    LIBE.BrotliEncoderSetParameter(st, P_MODE, mode)
    chunks = []
    at = 0
    for s in sorted(splits):
        chunks.append(data[at:s])
        at = s
    chunks.append(data[at:])
    out = b""
    for ci, chunk in enumerate(chunks):
        op = OP_FINISH if ci == len(chunks) - 1 else OP_FLUSH
        avail_in = ctypes.c_size_t(len(chunk))
        next_in = ctypes.c_char_p(chunk)
        while True:
            buf = ctypes.create_string_buffer(1 << 21)
            avail_out = ctypes.c_size_t(len(buf))
            next_out = ctypes.c_char_p(ctypes.addressof(buf))
            ok = LIBE.BrotliEncoderCompressStream(
                st, op, ctypes.byref(avail_in), ctypes.byref(next_in),
                ctypes.byref(avail_out), ctypes.byref(next_out), None)
            assert ok == 1
            out += buf.raw[:len(buf) - avail_out.value]
            if avail_in.value == 0 and avail_out.value > 0:
                break
    LIBE.BrotliEncoderDestroyInstance(st)
    return out


def main():
    n_cases = int(sys.argv[1]) if len(sys.argv) > 1 else 200
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 1
    rnd = random.Random(seed)
    d = "/tmp/brotli_diff"
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    for i in range(n_cases):
        kind = rnd.randrange(5)
        size = rnd.choice([0, 1, 7, rnd.randrange(2, 500),
                           rnd.randrange(500, 20000),
                           rnd.randrange(20000, 1 << 20)])
        data = content(rnd, kind, size)
        q = rnd.randrange(12)
        w = rnd.randrange(10, 25)
        mode = rnd.randrange(3)
        if rnd.random() < 0.3 and size > 10:
            splits = [rnd.randrange(1, size) for _ in range(rnd.randrange(1, 4))]
            blob = compress_stream(data, q, w, mode, splits, rnd)
        else:
            out_len = ctypes.c_size_t(len(data) * 2 + 2048)
            out = ctypes.create_string_buffer(out_len.value)
            ok = LIBE.BrotliEncoderCompress(q, w, mode, len(data), data,
                                            ctypes.byref(out_len), out)
            assert ok == 1
            blob = out.raw[:out_len.value]
        open(f"{d}/{i:04d}.br", "wb").write(blob)
        open(f"{d}/{i:04d}.raw", "wb").write(data)
    print(f"generated {n_cases} cases (seed {seed}); running graft decode...")
    rc = subprocess.run(
        ["tools/runjava.sh", "graft.tools.BrotliDiff", d],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    sys.exit(rc.returncode)


if __name__ == "__main__":
    main()
