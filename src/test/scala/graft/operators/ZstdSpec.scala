package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Zstd decoding (libzstd behind `Zstd.decode`'s frame walk):
  * FOREIGN streams (encoded by the reference libzstd at levels
  * 1/3/9/19 over nine input kinds, plus checksummed and
  * no-content-size variants) must decode byte-exactly — the parity
  * gate. Plus the dictionary handshake, corruption/truncation fuzz
  * (typed error, never a throw) and the bomb cap.
  */
class ZstdSpec extends AnyFunSuite {

  private def fixture(name: String): (Array[Byte], Array[Byte]) = {
    def read(suffix: String): Array[Byte] = {
      val in = getClass.getResourceAsStream(s"/zstd/fixture_$name.$suffix")
      assert(in != null, s"missing fixture $name.$suffix")
      try {
        val bos = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](1 << 16)
        var n = in.read(buf)
        while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
        bos.toByteArray
      } finally in.close()
    }
    (read("raw"), read("zst"))
  }

  private val names = (for {
    kind <- Seq("text", "html", "rand", "runs", "utf8", "words", "big",
      "tiny", "empty")
    lv <- Seq(1, 3, 9, 19)
  } yield s"${kind}_l$lv") ++ Seq("text_l3_ck", "text_l3_nosize")

  test("38 foreign libzstd streams decode byte-exactly (incl. the " +
    "multi-block, checksummed, and no-content-size variants)") {
    var checked = 0
    for (nm <- names) {
      val (raw, zst) = fixture(nm)
      Zstd.decode(zst, maxOut = raw.length + 64) match {
        case Right(got) =>
          assert(got.length == raw.length, s"$nm: ${got.length} vs ${raw.length}")
          assert(java.util.Arrays.equals(got, raw), s"$nm: bytes differ")
          checked += 1
        case Left(reason) => fail(s"$nm: $reason")
      }
    }
    assert(checked == names.length)
  }

  test("own-encoder round trip: raw blocks in a single-segment frame " +
    "(libzstd-accepted layout)") {
    for (n <- Seq(0, 1, 255, 256, 65536, 65537, 200000)) {
      val data = Array.tabulate[Byte](n)(i => ((i * 31 + 7) & 0xff).toByte)
      val enc = Zstd.encodeRaw(data)
      Zstd.decode(enc, n + 64) match {
        case Right(got) => assert(java.util.Arrays.equals(got, data), s"n=$n")
        case Left(r) => fail(s"n=$n: $r")
      }
    }
  }

  test("concatenated frames decode in order; a skippable frame between " +
    "them is skipped") {
    val a = "first frame body ".getBytes("UTF-8")
    val c = "second frame body".getBytes("UTF-8")
    val skip = Array[Byte](0x50, 0x2A, 0x4D, 0x18, // 0x184D2A50 LE
      4, 0, 0, 0, 1, 2, 3, 4) // 4-byte payload
    val cat = Zstd.encodeRaw(a) ++ skip ++ Zstd.encodeRaw(c)
    assert(Zstd.decode(cat, 256) == Right(a ++ c) ||
      Zstd.decode(cat, 256).toOption.exists(_.sameElements(a ++ c)))
    // a truncated skippable frame is typed
    assert(Zstd.decode((Zstd.encodeRaw(a) ++ skip.take(10)), 256).isLeft)
    // a skippable frame declaring a 4 GB payload must type out, not
    // wrap the cursor
    val lie = Array[Byte](0x50, 0x2A, 0x4D, 0x18,
      0xFF.toByte, 0xFF.toByte, 0xFF.toByte, 0xFF.toByte)
    assert(Zstd.decode(Zstd.encodeRaw(a) ++ lie, 256) == Left("truncated"))
  }

  // ------------------------------------------------------ dictionaries

  private def resource(path: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(path)
    assert(in != null, s"missing resource $path")
    try {
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](1 << 16)
      var n = in.read(buf)
      while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
      bos.toByteArray
    } finally in.close()
  }

  test("12 foreign libzstd DICTIONARY streams decode byte-exactly " +
    "(ZDICT-trained structured dict: entropy preload + content prefix " +
    "+ rep-offset seeds; levels 1/3/19)") {
    val dictBytes = resource("/zstd/fixture_dict.bin")
    val dict = Zstd.parseDictionary(dictBytes) match {
      case Right(d) => d
      case Left(r) => fail(s"dict parse: $r")
    }
    assert(dict.id != 0L, "trained dict must carry a non-zero id")
    var checked = 0
    for (kind <- Seq("one", "four", "mix", "novel"); lv <- Seq(1, 3, 19)) {
      val (raw, zst) = fixture(s"dict_${kind}_l$lv")
      Zstd.decode(zst, raw.length + 64, dict) match {
        case Right(got) =>
          assert(java.util.Arrays.equals(got, raw), s"dict_${kind}_l$lv")
          checked += 1
        case Left(r) => fail(s"dict_${kind}_l$lv: $r")
      }
    }
    assert(checked == 12)
  }

  test("raw-content dictionary streams decode byte-exactly (no magic: " +
    "the blob is the window prefix, id 0)") {
    val rawDict = resource("/zstd/fixture_dict_raw.bin")
    val dict = Zstd.parseDictionary(rawDict).toOption.get
    assert(dict.id == 0L)
    assert(dict.bytes.sameElements(rawDict))
    for (lv <- Seq(3, 19)) {
      val (raw, zst) = fixture(s"dictraw_body_l$lv")
      Zstd.decode(zst, raw.length + 64, dict) match {
        case Right(got) =>
          assert(java.util.Arrays.equals(got, raw), s"dictraw_body_l$lv")
        case Left(r) => fail(s"dictraw_body_l$lv: $r")
      }
    }
  }

  test("dictionary discipline is typed: missing dict, mismatched id, " +
    "truncated dict blob") {
    val dictBytes = resource("/zstd/fixture_dict.bin")
    val dict = Zstd.parseDictionary(dictBytes).toOption.get
    val (raw, zst) = fixture("dict_one_l3")
    // frame declares a dictionary id → without the dict it's typed
    assert(Zstd.decode(zst, raw.length + 64) == Left("dictionary-missing"))
    // a WRONG structured dictionary is a typed mismatch (id differs)
    val wrongId = dictBytes.clone()
    wrongId(4) = (wrongId(4) ^ 0x5A).toByte // flip low id byte
    Zstd.parseDictionary(wrongId) match {
      case Right(w) =>
        assert(Zstd.decode(zst, raw.length + 64, w) ==
          Left("dictionary-mismatch"))
      case Left(_) => // id byte flip may corrupt nothing else; fine
    }
    // truncating the dict inside its entropy tables is a typed parse
    // error, not a throw
    for (cut <- Seq(8, 12, 40, dictBytes.length / 2)) {
      Zstd.parseDictionary(dictBytes.take(cut)) match {
        case Left(reason) => assert(reason.nonEmpty)
        case Right(d) => assert(d.bytes.length == cut)
      }
    }
    // the RIGHT dict still decodes after all that
    assert(Zstd.decode(zst, raw.length + 64, dict).toOption
      .exists(java.util.Arrays.equals(_, raw)))
  }

  test("own dict-referencing encoder round-trips: the frame DEPENDS on " +
    "the dictionary content (undecodable without it)") {
    val prefix = ("WARC/1.1\r\nWARC-Type: response\r\n" +
      "WARC-Target-URI: http://www.example.com/doc/").getBytes("UTF-8")
    val d0 = Zstd.parseDictionary(prefix).toOption.get
    val structured = Zstd.encodeStructuredDict(0xCAFEL, prefix)
    for (suffixLen <- Seq(0, 1, 300, 5000, 70000)) {
      val suffix = Array.tabulate[Byte](suffixLen)(i => ((i * 17 + 3) & 0xff).toByte)
      val data = prefix ++ suffix
      // raw-content shape (no id field)
      val enc0 = Zstd.encode(data, prefix)
      assert(Zstd.decode(enc0, data.length + 64, d0).toOption
        .exists(java.util.Arrays.equals(_, data)), s"n=$suffixLen")
      // declared-id shape, served by the raw-content dictionary too
      val enc1 = Zstd.encode(data, structured)
      assert(Zstd.decode(enc1, data.length + 64, d0).toOption
        .exists(java.util.Arrays.equals(_, data)), s"n=$suffixLen id")
      // without the dictionary: typed, never garbage
      assert(Zstd.decode(enc0, 1 << 20).isLeft, s"n=$suffixLen nodict")
      assert(Zstd.decode(enc1, 1 << 20) == Left("dictionary-missing"))
    }
  }

  test("encodeStructuredDict builds a parseable §5 blob: magic, id, " +
    "entropy preamble, rep seeds, content — and its id gates frames") {
    val content = ("WARC/1.0\r\nWARC-Type: response\r\n" +
      "WARC-Target-URI: https://example.test/doc/").getBytes("UTF-8")
    val blob = Zstd.encodeStructuredDict(0x47524654L, content)
    val d = Zstd.parseDictionary(blob) match {
      case Right(x) => x
      case Left(r) => fail(s"structured dict parse: $r")
    }
    assert(d.id == 0x47524654L)
    assert(d.bytes.endsWith(content))
    val tail = "Content-Length: 99\r\n\r\nbody".getBytes("UTF-8")
    val enc = Zstd.encode(content ++ tail, blob)
    assert(Zstd.decode(enc, 1 << 20, d).toOption
      .exists(java.util.Arrays.equals(_, content ++ tail)))
    // a different structured dict id is a typed mismatch
    val other = Zstd.parseDictionary(
      Zstd.encodeStructuredDict(0x1L, content)).toOption.get
    assert(Zstd.decode(enc, 1 << 20, other) == Left("dictionary-mismatch"))
    // and no dict at all is typed missing
    assert(Zstd.decode(enc, 1 << 20) == Left("dictionary-missing"))
  }

  test("dictionary corruption fuzz: single-byte flips in dict or stream " +
    "are typed errors or decodes, never throws") {
    val dictBytes = resource("/zstd/fixture_dict.bin")
    val (raw, zst) = fixture("dict_mix_l3")
    for (i <- 0 until dictBytes.length by math.max(1, dictBytes.length / 61)) {
      val bad = dictBytes.clone()
      bad(i) = (bad(i) ^ 0x40).toByte
      Zstd.parseDictionary(bad) match {
        case Right(d) =>
          Zstd.decode(zst, raw.length + 64, d) match {
            case Right(got) => assert(got.length <= raw.length + 64)
            case Left(reason) => assert(reason.nonEmpty)
          }
        case Left(reason) => assert(reason.nonEmpty)
      }
    }
    val dict = Zstd.parseDictionary(dictBytes).toOption.get
    for (i <- 0 until zst.length by math.max(1, zst.length / 61)) {
      val bad = zst.clone()
      bad(i) = (bad(i) ^ 0x10).toByte
      Zstd.decode(bad, raw.length + 64, dict) match {
        case Right(got) => assert(got.length <= raw.length + 64)
        case Left(reason) => assert(reason.nonEmpty)
      }
    }
  }

  test("a flipped checksum is a typed checksum-mismatch") {
    val (raw, zst) = fixture("text_l3_ck")
    val bad = zst.clone()
    bad(bad.length - 1) = (bad(bad.length - 1) ^ 0x01).toByte
    assert(Zstd.decode(bad, raw.length + 64) == Left("checksum-mismatch"))
  }

  test("truncation fuzz: every prefix is a typed error or a clean " +
    "decode, never a throw") {
    for (nm <- Seq("text_l3", "big_l19", "runs_l1")) {
      val (raw, zst) = fixture(nm)
      for (cut <- 0 until zst.length by math.max(1, zst.length / 97)) {
        Zstd.decode(zst.take(cut), raw.length + 64) match {
          case Right(_) =>
          case Left(reason) => assert(reason.nonEmpty)
        }
      }
    }
  }

  test("corruption fuzz: single-byte flips are typed errors or decodes, " +
    "never throws; the output cap is honored") {
    val (raw, zst) = fixture("text_l9")
    for (i <- 0 until zst.length by math.max(1, zst.length / 127);
         x <- Seq(0x01, 0x80)) {
      val bad = zst.clone()
      bad(i) = (bad(i) ^ x).toByte
      Zstd.decode(bad, raw.length + 64) match {
        case Right(got) => assert(got.length <= raw.length + 64)
        case Left(reason) => assert(reason.nonEmpty)
      }
    }
    assert(Zstd.decode(zst, maxOut = 16) == Left("output-cap"))
    // a frame DECLARING a content size above the cap is refused before
    // its output is allocated, however little it really holds
    def declaring(size: Int): Array[Byte] =
      Array[Byte](0x28, 0xB5.toByte, 0x2F, 0xFD.toByte, 0xA0.toByte) ++
        Array.tabulate[Byte](4)(i => (size >>> (8 * i)).toByte) ++
        Array[Byte](0x21, 0, 0) ++ "tiny".getBytes // last raw block, 4 B
    assert(Zstd.decode(declaring(4)).exists(_.sameElements("tiny".getBytes)))
    assert(Zstd.decode(declaring(1 << 30)) == Left("output-cap"))
    assert(Zstd.decode(declaring(4096), maxOut = 100) == Left("output-cap"))
  }
}
