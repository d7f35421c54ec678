#!/usr/bin/env python3
"""Generate FOREIGN zstd conformance fixtures: libzstd-encoded streams
with their exact inputs, across compression levels (and therefore
block/literals/sequence mode mixes) plus a checksummed variant.

`Zstd.decode` runs on libzstd through zstd-jni; the fixtures are the
parity gate for the frame walk around it (skippable frames, the
Dictionary_ID handshake, the output cap).

Outputs: src/test/resources/zstd/fixture_<name>.{raw,zst}
"""
import ctypes, os

Z = ctypes.CDLL("/usr/lib/x86_64-linux-gnu/libzstd.so.1")
Z.ZSTD_compress.restype = ctypes.c_size_t
Z.ZSTD_compressBound.restype = ctypes.c_size_t
Z.ZSTD_isError.restype = ctypes.c_uint
Z.ZSTD_decompress.restype = ctypes.c_size_t
Z.ZSTD_createCCtx.restype = ctypes.c_void_p
Z.ZSTD_CCtx_setParameter.restype = ctypes.c_size_t
Z.ZSTD_compress2.restype = ctypes.c_size_t

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TRES = os.path.join(ROOT, "src/test/resources/zstd")
os.makedirs(TRES, exist_ok=True)

ZSTD_c_compressionLevel = 100
ZSTD_c_checksumFlag = 201
ZSTD_c_contentSizeFlag = 200


def compress(data, level, checksum=False, content_size=True):
    bound = Z.ZSTD_compressBound(len(data))
    out = (ctypes.c_uint8 * bound)()
    cctx = Z.ZSTD_createCCtx()
    Z.ZSTD_CCtx_setParameter(ctypes.c_void_p(cctx), ZSTD_c_compressionLevel, level)
    Z.ZSTD_CCtx_setParameter(ctypes.c_void_p(cctx), ZSTD_c_checksumFlag,
                             1 if checksum else 0)
    Z.ZSTD_CCtx_setParameter(ctypes.c_void_p(cctx), ZSTD_c_contentSizeFlag,
                             1 if content_size else 0)
    n = Z.ZSTD_compress2(ctypes.c_void_p(cctx), out, bound,
                         (ctypes.c_uint8 * len(data))(*data), len(data))
    assert not Z.ZSTD_isError(n), n
    Z.ZSTD_freeCCtx(ctypes.c_void_p(cctx))
    return bytes(bytearray(out[i] for i in range(n)))


def roundtrip_ok(enc, data):
    out = (ctypes.c_uint8 * (len(data) + 16))()
    n = Z.ZSTD_decompress(out, len(data) + 16,
                          (ctypes.c_uint8 * len(enc))(*enc), len(enc))
    return not Z.ZSTD_isError(n) and \
        bytes(bytearray(out[i] for i in range(n))) == data


def gen_dict_fixtures():
    """Dictionary fixtures (RFC 8878 section 5): a ZDICT-trained
    structured dictionary plus streams compressed against it with
    ZSTD_compress_usingCDict (entropy preload + content prefix + the
    repeated-offset seeds all in play), and a RAW-CONTENT dictionary
    (no magic) used as a plain window prefix. The production
    `.warc.zst` convention ships exactly such a shared dictionary in a
    leading skippable frame.
    """
    import random
    Z.ZDICT_trainFromBuffer.restype = ctypes.c_size_t
    Z.ZDICT_trainFromBuffer.argtypes = [
        ctypes.c_void_p, ctypes.c_size_t, ctypes.c_void_p,
        ctypes.POINTER(ctypes.c_size_t), ctypes.c_uint]
    Z.ZDICT_isError.restype = ctypes.c_uint
    Z.ZDICT_getDictID.restype = ctypes.c_uint
    Z.ZDICT_getDictID.argtypes = [ctypes.c_void_p, ctypes.c_size_t]
    Z.ZSTD_compress_usingDict.restype = ctypes.c_size_t
    Z.ZSTD_compress_usingDict.argtypes = [
        ctypes.c_void_p, ctypes.c_void_p, ctypes.c_size_t,
        ctypes.c_void_p, ctypes.c_size_t, ctypes.c_void_p,
        ctypes.c_size_t, ctypes.c_int]
    Z.ZSTD_createDCtx.restype = ctypes.c_void_p
    Z.ZSTD_decompress_usingDict.restype = ctypes.c_size_t
    Z.ZSTD_decompress_usingDict.argtypes = [
        ctypes.c_void_p, ctypes.c_void_p, ctypes.c_size_t,
        ctypes.c_void_p, ctypes.c_size_t, ctypes.c_void_p,
        ctypes.c_size_t]

    rnd = random.Random(5)
    # samples with heavy shared structure (the case dictionaries exist
    # for): synthetic JSON event lines
    hosts = ["api.example.com", "cdn.example.net", "www.example.org"]
    paths = ["/v1/items", "/v1/users", "/assets/app.js", "/index.html",
             "/v2/search", "/healthz"]
    def sample(i):
        return ('{"timestamp":"2026-08-%02dT0%d:1%d:00Z","host":"%s",'
                '"path":"%s","status":%d,"bytes":%d,"user_agent":'
                '"Mozilla/5.0 (compatible; ExampleBot/2.1; '
                '+http://www.example.com/bot.html)","cache":"%s"}\n'
                % (1 + i % 28, i % 10, i % 10, hosts[i % 3],
                   paths[i % 6], [200, 200, 200, 404, 301][i % 5],
                   rnd.randrange(100, 99999),
                   ["HIT", "MISS", "EXPIRED"][i % 3])) \
            .encode()
    samples = [sample(i) * (1 + i % 4) for i in range(160)]
    flat = b"".join(samples)
    sizes = (ctypes.c_size_t * len(samples))(*[len(s) for s in samples])
    dict_buf = (ctypes.c_uint8 * 4096)()
    n = Z.ZDICT_trainFromBuffer(dict_buf, 4096,
                                (ctypes.c_uint8 * len(flat))(*flat),
                                sizes, len(samples))
    assert not Z.ZDICT_isError(n), n
    dict_bytes = bytes(bytearray(dict_buf[i] for i in range(n)))
    dict_id = Z.ZDICT_getDictID(dict_buf, n)
    assert dict_id != 0
    open(os.path.join(TRES, "fixture_dict.bin"), "wb").write(dict_bytes)
    print("trained dict: %d bytes, id=%d" % (len(dict_bytes), dict_id))

    def compress_dict(data, level, dictionary):
        bound = Z.ZSTD_compressBound(len(data))
        out = (ctypes.c_uint8 * bound)()
        cctx = Z.ZSTD_createCCtx()
        n = Z.ZSTD_compress_usingDict(
            ctypes.c_void_p(cctx), out, bound,
            (ctypes.c_uint8 * max(1, len(data)))(*data), len(data),
            (ctypes.c_uint8 * len(dictionary))(*dictionary),
            len(dictionary), level)
        assert not Z.ZSTD_isError(n), n
        Z.ZSTD_freeCCtx(ctypes.c_void_p(cctx))
        return bytes(bytearray(out[i] for i in range(n)))

    def roundtrip_dict(enc, data, dictionary):
        dctx = Z.ZSTD_createDCtx()
        out = (ctypes.c_uint8 * (len(data) + 16))()
        n = Z.ZSTD_decompress_usingDict(
            ctypes.c_void_p(dctx), out, len(data) + 16,
            (ctypes.c_uint8 * len(enc))(*enc), len(enc),
            (ctypes.c_uint8 * len(dictionary))(*dictionary),
            len(dictionary))
        Z.ZSTD_freeDCtx(ctypes.c_void_p(dctx))
        return not Z.ZSTD_isError(n) and \
            bytes(bytearray(out[i] for i in range(n))) == data

    bodies = [("one", sample(1000)), ("four", sample(7) * 4),
              ("mix", sample(3) + b"unrelated tail content " * 20 +
               sample(11)),
              ("novel", b"completely unrelated payload without any "
               b"shared structure at all; entropy tables still seed "
               b"the first block. " * 12)]
    for name, data in bodies:
        for lv in (1, 3, 19):
            enc = compress_dict(data, lv, dict_bytes)
            assert roundtrip_dict(enc, data, dict_bytes)
            nm = "dict_%s_l%d" % (name, lv)
            open(os.path.join(TRES, "fixture_%s.raw" % nm), "wb").write(data)
            open(os.path.join(TRES, "fixture_%s.zst" % nm), "wb").write(enc)
            print("fixture %-15s raw=%-7d zst=%d" % (nm, len(data), len(enc)))

    # raw-content dictionary: no magic, the blob IS the window prefix
    raw_dict = (b"WARC/1.1\r\nWARC-Type: response\r\nWARC-Target-URI: "
                b"http://www.example.com/ Content-Type: application/"
                b"http;msgtype=response HTTP/1.1 200 OK Content-Type: "
                b"text/html; charset=utf-8 ") * 3
    open(os.path.join(TRES, "fixture_dict_raw.bin"), "wb").write(raw_dict)
    body = (b"WARC/1.1\r\nWARC-Type: response\r\nWARC-Target-URI: "
            b"http://www.example.com/page HTTP/1.1 200 OK Content-Type: "
            b"text/html; charset=utf-8 <html><body>raw-content dict "
            b"prefix test</body></html>")
    for lv in (3, 19):
        enc = compress_dict(body, lv, raw_dict)
        assert roundtrip_dict(enc, body, raw_dict)
        nm = "dictraw_body_l%d" % lv
        open(os.path.join(TRES, "fixture_%s.raw" % nm), "wb").write(body)
        open(os.path.join(TRES, "fixture_%s.zst" % nm), "wb").write(enc)
        print("fixture %-15s raw=%-7d zst=%d" % (nm, len(body), len(enc)))


def main():
    import random
    rnd = random.Random(8878)
    text = (b"The quick brown fox jumps over the lazy dog. "
            b"Zstandard is the other modern HTTP content coding; "
            b"its frames carry Huffman literals and FSE-coded "
            b"sequences with three repeated offsets. ") * 50
    html = (b"<!DOCTYPE html><html><head><meta charset=\"utf-8\">"
            b"<title>Example</title></head><body><p>Hello, zstd "
            b"world!</p><div class=\"content\"><span>value</span>"
            b"</div></body></html>") * 70
    rand = bytes(bytearray(rnd.randrange(256) for _ in range(50000)))
    runs = bytes(bytearray([i // 999 % 256 for i in range(60000)]))
    utf8 = ("Ελληνικά κείμενο και русский текст с многобайтовыми "
            "символами. ").encode("utf-8") * 150
    words = (b"There would have been something about the first people "
             b"which they could not know, because the world was large "
             b"and every question received different answers between "
             b"education, business, development, experience and "
             b"research following the description available.")
    big = (text + rand[:20000] + html + runs[:30000]) * 6  # multi-block
    tiny = b"z"
    empty = b""
    cases = []
    for name, data in [("text", text), ("html", html), ("rand", rand),
                       ("runs", runs), ("utf8", utf8), ("words", words),
                       ("big", big), ("tiny", tiny), ("empty", empty)]:
        for lv in (1, 3, 9, 19):
            enc = compress(data, lv)
            assert roundtrip_ok(enc, data)
            nm = "%s_l%d" % (name, lv)
            open(os.path.join(TRES, "fixture_%s.raw" % nm), "wb").write(data)
            open(os.path.join(TRES, "fixture_%s.zst" % nm), "wb").write(enc)
            cases.append((nm, len(data), len(enc)))
    # checksummed + no-content-size variants on one body
    for nm, enc in [("text_l3_ck", compress(text, 3, checksum=True)),
                    ("text_l3_nosize", compress(text, 3, content_size=False))]:
        assert roundtrip_ok(enc, text)
        open(os.path.join(TRES, "fixture_%s.raw" % nm), "wb").write(text)
        open(os.path.join(TRES, "fixture_%s.zst" % nm), "wb").write(enc)
        cases.append((nm, len(text), len(enc)))
    for nm, r, z in cases:
        print("fixture %-15s raw=%-7d zst=%d" % (nm, r, z))


if __name__ == "__main__":
    import sys
    if "--dict-only" in sys.argv:
        gen_dict_fixtures()
    else:
        main()
        gen_dict_fixtures()
    print("done")
