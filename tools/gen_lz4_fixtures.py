#!/usr/bin/env python3
"""Generate FOREIGN LZ4 frame fixtures with liblz4 via ctypes
(LZ4F_compressFrame): payload/.lz4 pairs pinning `Codecs.lz4Decode`
(commons-compress) byte-exact against the reference implementation —
default LINKED blocks, explicit independent blocks, block checksums,
content checksums, small block sizes (forcing multi-block), and high
compression levels.

Outputs: src/test/resources/lz4/fixture_<name>.{bin,lz4}
"""
import ctypes
import os

L = ctypes.CDLL("liblz4.so.1")
L.LZ4F_compressFrame.restype = ctypes.c_size_t
L.LZ4F_compressFrameBound.restype = ctypes.c_size_t
L.LZ4F_isError.restype = ctypes.c_uint

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RES = os.path.join(ROOT, "src/test/resources/lz4")
os.makedirs(RES, exist_ok=True)


class FrameInfo(ctypes.Structure):
    _fields_ = [("blockSizeID", ctypes.c_int),
                ("blockMode", ctypes.c_int),        # 0 linked, 1 indep
                ("contentChecksumFlag", ctypes.c_int),
                ("frameType", ctypes.c_int),
                ("contentSize", ctypes.c_ulonglong),
                ("dictID", ctypes.c_uint),
                ("blockChecksumFlag", ctypes.c_int)]


class Prefs(ctypes.Structure):
    _fields_ = [("frameInfo", FrameInfo),
                ("compressionLevel", ctypes.c_int),
                ("autoFlush", ctypes.c_uint),
                ("favorDecSpeed", ctypes.c_uint),
                ("reserved", ctypes.c_uint * 3)]


def lz4f(data: bytes, **kw) -> bytes:
    prefs = Prefs()
    for k, v in kw.items():
        setattr(prefs.frameInfo, k, v)
    cap = L.LZ4F_compressFrameBound(ctypes.c_size_t(len(data)),
                                    ctypes.byref(prefs))
    out = ctypes.create_string_buffer(cap)
    r = L.LZ4F_compressFrame(out, ctypes.c_size_t(cap),
                             data, ctypes.c_size_t(len(data)),
                             ctypes.byref(prefs))
    assert not L.LZ4F_isError(ctypes.c_size_t(r)), r
    return out.raw[:r]


def det(n: int, seed: int) -> bytes:
    out = bytearray(n)
    x = seed & 0xFFFFFFFFFFFFFFFF
    for i in range(n):
        x = (x + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
        z = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        out[i] = (z ^ (z >> 31)) & 0xFF
    return bytes(out)


def put(name, data, frame):
    with open(os.path.join(RES, f"fixture_{name}.bin"), "wb") as f:
        f.write(data)
    with open(os.path.join(RES, f"fixture_{name}.lz4"), "wb") as f:
        f.write(frame)
    print(f"{name}: {len(data)} -> {len(frame)}")


text = (b"<doc id=%d>the quick brown fox jumps over the lazy dog; "
        b"pack my box with five dozen liquor jugs</doc>\n")
bigtext = b"".join(text % (i,) for i in range(2000))

put("empty", b"", lz4f(b""))
put("tiny", b"abc", lz4f(b"abc"))
put("text", bigtext[:5000], lz4f(bigtext[:5000]))
# default 64K blockSizeID=0 → max (4MB?) default; force 64KB linked multi-block
put("linked_multiblock", bigtext, lz4f(bigtext, blockSizeID=4, blockMode=0))
put("indep_blocks", bigtext, lz4f(bigtext, blockSizeID=4, blockMode=1))
put("block_checksums", bigtext[:30000],
    lz4f(bigtext[:30000], blockSizeID=4, blockChecksumFlag=1))
put("content_checksum", bigtext[:20000],
    lz4f(bigtext[:20000], contentChecksumFlag=1))
put("content_size", bigtext[:10000],
    lz4f(bigtext[:10000], contentSize=10000, contentChecksumFlag=1))
put("binary", det(40000, 11), lz4f(det(40000, 11), blockSizeID=4))
put("zeros", b"\x00" * 100000, lz4f(b"\x00" * 100000, blockSizeID=4))
