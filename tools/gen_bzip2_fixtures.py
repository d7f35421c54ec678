#!/usr/bin/env python3
"""Generate FOREIGN bzip2 fixtures with libbz2 via ctypes
(BZ2_bzBuffToBuffCompress): payload/.bz2 pairs that pin
`Codecs.bzip2Decode` (commons-compress) byte-exact against the
reference implementation across the format's moving parts — RLE1 runs,
RUNA/RUNB run lengths, symbol-map ranges, Huffman group switching,
multi-block streams (level 1 over >100k input), and a concatenated
multistream file (the Wikipedia-dump shape).

Outputs: src/test/resources/bzip2/fixture_<name>.{bin,bz2}
"""
import ctypes
import os

B = ctypes.CDLL("libbz2.so.1.0")
B.BZ2_bzBuffToBuffCompress.restype = ctypes.c_int

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RES = os.path.join(ROOT, "src/test/resources/bzip2")
os.makedirs(RES, exist_ok=True)


def bz2c(data: bytes, level: int = 9) -> bytes:
    out = ctypes.create_string_buffer(len(data) + len(data) // 100 + 600)
    out_len = ctypes.c_uint(len(out))
    rc = B.BZ2_bzBuffToBuffCompress(out, ctypes.byref(out_len),
                                    data, ctypes.c_uint(len(data)),
                                    ctypes.c_int(level), ctypes.c_int(0),
                                    ctypes.c_int(0))
    assert rc == 0, rc
    return out.raw[:out_len.value]


def det(n: int, seed: int) -> bytes:
    out = bytearray(n)
    x = seed & 0xFFFFFFFFFFFFFFFF
    for i in range(n):
        x = (x + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
        z = x
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        out[i] = (z ^ (z >> 31)) & 0xFF
    return bytes(out)


def put(name: str, data: bytes, bz: bytes):
    with open(os.path.join(RES, f"fixture_{name}.bin"), "wb") as f:
        f.write(data)
    with open(os.path.join(RES, f"fixture_{name}.bz2"), "wb") as f:
        f.write(bz)
    print(f"{name}: {len(data)} -> {len(bz)}")


cases = {
    "empty": b"",
    "tiny": b"abc",
    "text": (b"the quick brown fox jumps over the lazy dog. " * 40),
    # RLE1: runs of exactly 4 (count byte 0), 5, 255+4, and longer
    "rle_runs": (b"x" * 4 + b"y" * 5 + b"z" * 259 + b"w" * 1000 +
                 b"tail" + b"q" * 3),
    # every byte value present (full symbol map, all 16 ranges)
    "allbytes": bytes(range(256)) * 8,
    # long zero run: RUNA/RUNB arithmetic over a big MTF-0 run
    "zeros": b"\x00" * 60000,
    "binary": det(50000, 7),
    "skewed": (b"aaaaabbbbbcccc" * 3000 + det(2000, 9)),
}
for name, data in cases.items():
    put(name, data, bz2c(data))

# multi-block: level 1 (100k blocks) over 250k of text-ish input
big = (b"<page><title>Article %d</title><text>some wiki text body "
       b"with recurring template {{cite}} markup</text></page>\n")
bigdata = b"".join(big % (i,) for i in range(2500))
put("multiblock", bigdata, bz2c(bigdata, level=1))

# concatenated multistream (the Wikipedia multistream dump shape)
s1 = b"<page><title>First</title></page>\n" * 50
s2 = b"<page><title>Second</title></page>\n" * 50
put("multistream", s1 + s2, bz2c(s1) + bz2c(s2))
