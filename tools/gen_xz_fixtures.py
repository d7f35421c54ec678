#!/usr/bin/env python3
"""Generate FOREIGN XZ fixtures with liblzma via ctypes
(lzma_easy_buffer_encode) plus the xz CLI for multi-block layouts:
payload/.xz pairs pinning `Codecs.xzDecode` (xz-java) byte-exact
against the reference implementation across presets (0/6/9e —
different lc/lp/pb usage and match depths), every check kind
(none/CRC32/CRC64/SHA-256), uncompressed LZMA2 chunks (incompressible
input at preset 0), multi-block streams, and concatenated streams.

Outputs: src/test/resources/xz/fixture_<name>.{bin,xz}
"""
import ctypes
import os
import subprocess

L = ctypes.CDLL("liblzma.so.5")
L.lzma_easy_buffer_encode.restype = ctypes.c_int

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RES = os.path.join(ROOT, "src/test/resources/xz")
os.makedirs(RES, exist_ok=True)

CHECK_NONE, CHECK_CRC32, CHECK_CRC64, CHECK_SHA256 = 0, 1, 4, 10
PRESET_EXTREME = 0x80000000


def xzc(data: bytes, preset: int = 6, check: int = CHECK_CRC64) -> bytes:
    out = ctypes.create_string_buffer(len(data) + len(data) // 3 + 256)
    out_pos = ctypes.c_size_t(0)
    rc = L.lzma_easy_buffer_encode(
        ctypes.c_uint32(preset), ctypes.c_int(check), None,
        data, ctypes.c_size_t(len(data)),
        out, ctypes.byref(out_pos), ctypes.c_size_t(len(out)))
    assert rc == 0, rc
    return out.raw[:out_pos.value]


def det(n: int, seed: int) -> bytes:
    out = bytearray(n)
    x = seed & 0xFFFFFFFFFFFFFFFF
    for i in range(n):
        x = (x + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
        z = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        out[i] = (z ^ (z >> 31)) & 0xFF
    return bytes(out)


def put(name, data, xz):
    with open(os.path.join(RES, f"fixture_{name}.bin"), "wb") as f:
        f.write(data)
    with open(os.path.join(RES, f"fixture_{name}.xz"), "wb") as f:
        f.write(xz)
    print(f"{name}: {len(data)} -> {len(xz)}")


text = (b"<doc id=%d>the quick brown fox jumps over the lazy dog; "
        b"sphinx of black quartz judge my vow</doc>\n")
bigtext = b"".join(text % (i,) for i in range(2000))

put("empty", b"", xzc(b""))
put("tiny", b"abc", xzc(b"abc"))
put("text6", bigtext[:50000], xzc(bigtext[:50000], 6))
put("text0", bigtext[:50000], xzc(bigtext[:50000], 0))
put("text9e", bigtext[:50000], xzc(bigtext[:50000], 9 | PRESET_EXTREME))
put("check_none", bigtext[:8000], xzc(bigtext[:8000], 6, CHECK_NONE))
put("check_crc32", bigtext[:8000], xzc(bigtext[:8000], 6, CHECK_CRC32))
put("check_sha256", bigtext[:8000], xzc(bigtext[:8000], 6, CHECK_SHA256))
put("binary", det(60000, 7), xzc(det(60000, 7), 0))  # uncompressed chunks
put("zeros", b"\x00" * 200000, xzc(b"\x00" * 200000))
put("multistream", bigtext[:3000] + det(1000, 3),
    xzc(bigtext[:3000]) + xzc(det(1000, 3)))

# multi-block via the xz CLI (independent 64 KiB blocks, the seekable
# production layout)
mb = bigtext  # ~206 KB -> 4 blocks
p = subprocess.run(["xz", "-6", "--block-size=65536", "-c", "-T", "1"],
                   input=mb, stdout=subprocess.PIPE, check=True)
put("multiblock", mb, p.stdout)

# ---- round 20: filtered streams (delta + BCJ x86 pre-filters) ------
# Generated with the stdlib lzma module (same liblzma underneath) so
# filter-chain properties are exercised exactly as xz writes them.
import lzma


def xzf(data: bytes, filters) -> bytes:
    return lzma.compress(data, format=lzma.FORMAT_XZ, filters=filters)


def x86ish(n: int) -> bytes:
    # synthetic machine-code-ish stream: spaced CALL/JMP (E8/E9) with
    # small forward/backward displacements whose MSBytes are 00/FF —
    # the exact population the BCJ transform rewrites — plus filler
    # that includes adjacent E8 runs to exercise the mask path
    out = bytearray()
    i = 0
    while len(out) < n:
        out += b"\x55\x48\x89\xe5"          # prologue filler
        disp = (i * 641) % 0x7FFF
        out += b"\xe8" + disp.to_bytes(4, "little")       # call +disp
        out += b"\x90\x90"
        back = (0x100000000 - ((i * 257) % 0x6000)) & 0xFFFFFFFF
        out += b"\xe9" + back.to_bytes(4, "little")       # jmp -disp
        if i % 5 == 0:
            out += b"\xe8\xe8\xe8"          # adjacent-opcode mask food
        if i % 7 == 0:
            out += b"\xe8\x01\x02\x03\x04"  # MSB not 00/FF: untouched
        i += 1
    return bytes(out[:n])


def sawtooth(n: int, period: int) -> bytes:
    return bytes((i * 7) % period for i in range(n))


L2 = {"id": lzma.FILTER_LZMA2, "preset": 6}
put("bcj_x86", x86ish(40000),
    xzf(x86ish(40000), [{"id": lzma.FILTER_X86}, L2]))
put("bcj_x86_small", x86ish(256),
    xzf(x86ish(256), [{"id": lzma.FILTER_X86}, L2]))
put("delta1", sawtooth(30000, 251),
    xzf(sawtooth(30000, 251), [{"id": lzma.FILTER_DELTA, "dist": 1}, L2]))
put("delta4", sawtooth(30000, 251),
    xzf(sawtooth(30000, 251), [{"id": lzma.FILTER_DELTA, "dist": 4}, L2]))
put("delta256", sawtooth(30000, 256),
    xzf(sawtooth(30000, 256), [{"id": lzma.FILTER_DELTA, "dist": 256}, L2]))
put("delta_x86_chain", x86ish(20000),
    xzf(x86ish(20000), [{"id": lzma.FILTER_DELTA, "dist": 2},
                        {"id": lzma.FILTER_X86}, L2]))
# multi-block + filter chain: per-block independent BCJ state
p = subprocess.run(["xz", "--x86", "--lzma2=preset=6",
                    "--block-size=16384", "-c", "-T", "1"],
                   input=x86ish(50000), stdout=subprocess.PIPE, check=True)
put("bcj_multiblock", x86ish(50000), p.stdout)
