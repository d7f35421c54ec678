package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** XZ decoding (xz-java behind `Codecs`) against FOREIGN liblzma
  * fixtures — the parity gate: presets 0/6/9e, every check kind,
  * uncompressed LZMA2 chunks, filter chains, multi-block and
  * concatenated streams; malformed-stream typing; the bomb cap and the
  * memory limit; writer round trips.
  */
class XzSpec extends AnyFunSuite {

  private val res = "src/test/resources/xz"

  private def fixture(name: String, ext: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$res/fixture_$name.$ext"))

  private val fixtureNames = Seq("empty", "tiny", "text6", "text0",
    "text9e", "check_none", "check_crc32", "check_sha256", "binary",
    "zeros", "multistream", "multiblock")

  test("12 FOREIGN liblzma/xz fixtures decode byte-exact: presets " +
    "0/6/9e, checks none/CRC32/CRC64/SHA-256, uncompressed chunks, " +
    "200k zero runs, multi-block (64 KiB), concatenated streams") {
    for (name <- fixtureNames) {
      val want = fixture(name, "bin")
      Codecs.xzDecode(fixture(name, "xz")) match {
        case Right(got) =>
          assert(java.util.Arrays.equals(got, want), s"$name mismatch")
        case Left(r) => fail(s"$name: $r")
      }
    }
  }

  test("FOREIGN filter-chain fixtures decode byte-exact: BCJ x86 " +
    "(single + multi-block independent state), delta dist 1/4/256, " +
    "and a delta+x86+LZMA2 three-filter chain") {
    for (name <- Seq("bcj_x86", "bcj_x86_small", "delta1", "delta4",
        "delta256", "delta_x86_chain", "bcj_multiblock")) {
      val want = fixture(name, "bin")
      Codecs.xzDecode(fixture(name, "xz")) match {
        case Right(got) =>
          assert(java.util.Arrays.equals(got, want), s"$name mismatch")
        case Left(r) => fail(s"$name: $r")
      }
    }
  }

  test("filtered-stream fuzz stays typed: bit flips over the BCJ and " +
    "delta fixtures never throw") {
    for (name <- Seq("bcj_x86_small", "delta4")) {
      val good = fixture(name, "xz")
      for (i <- 6 until good.length by 3) {
        val bad = good.clone()
        bad(i) = (bad(i) ^ 0x5A).toByte
        Codecs.xzDecode(bad) match {
          case Left(reason) => assert(reason.nonEmpty, s"$name flip $i")
          case Right(out) => assert(out.length <= 60000)
        }
      }
    }
    // an unsupported pre-filter id must still be a typed refusal:
    // patch the delta fixture's filter id 0x03 -> 0x05 in the block
    // header (and fix the header CRC so the id gate is what fires)
    val good = fixture("delta4", "xz")
    val hdrOff = 12 // stream header is 12 bytes; block header follows
    val hdrSize = ((good(hdrOff) & 0xff) + 1) * 4
    val idx = (hdrOff + 2 until hdrOff + hdrSize - 4)
      .find(i => good(i) == 0x03).get
    val bad = good.clone()
    bad(idx) = 0x05
    val crc = {
      val c = new java.util.zip.CRC32()
      c.update(bad, hdrOff, hdrSize - 4)
      c.getValue
    }
    for (k <- 0 until 4)
      bad(hdrOff + hdrSize - 4 + k) = ((crc >> (8 * k)) & 0xff).toByte
    assert(Codecs.xzDecode(bad) == Left("unsupported-filter"))
  }

  test("malformed streams are typed errors: flag/CRC flips, " +
    "truncation, bad magic, index lies — never throws or garbage") {
    val good = fixture("text6", "xz")
    assert(Codecs.xzDecode("definitely not xz".getBytes).isLeft)
    assert(Codecs.xzDecode(Array.emptyByteArray).isLeft)
    for (cut <- Seq(3, 11, 20, good.length / 2, good.length - 3))
      assert(Codecs.xzDecode(good.take(cut)).isLeft, s"cut $cut")
    for (i <- 6 until good.length by 5) {
      val bad = good.clone()
      bad(i) = (bad(i) ^ 0x21).toByte
      Codecs.xzDecode(bad) match {
        case Left(reason) => assert(reason.nonEmpty, s"flip $i")
        case Right(out) => assert(out.length <= 60000) // lucky flip
      }
    }
    // a wrong footer check-type must fail the footer-flags gate
    val bad = good.clone()
    bad(bad.length - 3) = 1 // CRC64 stream claims CRC32 in the footer
    assert(Codecs.xzDecode(bad).isLeft)
  }

  test("bomb cap: the zeros fixture under a small maxOut is refused " +
    "before allocating through") {
    assert(Codecs.xzDecode(fixture("zeros", "xz"), maxOut = 1000) ==
      Left("output-cap"))
    // the decoder's memory limit follows maxOut: the 64 MiB dictionary
    // of preset 9e fits the default cap, and is refused under a small
    // one before the dictionary is allocated
    val big = fixture("text9e", "xz")
    assert(Codecs.xzDecode(big).exists(
      java.util.Arrays.equals(_, fixture("text9e", "bin"))))
    assert(Codecs.xzDecode(big, maxOut = 1 << 20) == Left("output-cap"))
  }

  private def det(n: Int, seed: Long): Array[Byte] = {
    val out = new Array[Byte](n)
    var x = seed
    var i = 0
    while (i < n) {
      x += 0x9E3779B97F4A7C15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      out(i) = (z ^ (z >>> 31)).toByte
      i += 1
    }
    out
  }

  test("stored-chunk writer round-trips through our own decoder: " +
    "empty, tiny, multi-chunk (> 64 KiB), binary") {
    for (c <- Seq[Array[Byte]](Array.emptyByteArray, "abc".getBytes,
      ("line of text " * 2000).getBytes, det(200000, 5))) {
      Codecs.xzDecode(Codecs.xzEncode(c, stored = true)) match {
        case Right(got) =>
          assert(java.util.Arrays.equals(got, c), s"len ${c.length}")
        case Left(r) => fail(s"len ${c.length}: $r")
      }
    }
    // filtered writer -> our reader: the full chain both directions
    for ((bcj, dd) <- Seq((true, 0), (false, 4), (true, 2))) {
      val c = det(70000, 12)
      Codecs.xzDecode(Codecs.xzEncode(c, bcj = bcj, deltaDist = dd, stored = true)) match {
        case Right(got) =>
          assert(java.util.Arrays.equals(got, c), s"bcj=$bcj dd=$dd")
        case Left(r) => fail(s"bcj=$bcj dd=$dd: $r")
      }
    }
  }

  test("LZMA encoder round-trips through our own decoder: literals, " +
    "matched-literal mode, rep0/short-rep, cross-chunk matches, " +
    "stored-chunk fallback — and genuinely compresses") {
    val text = ("the quick brown fox jumps over the lazy dog. " * 3000)
      .getBytes
    val cases: Seq[(String, Array[Byte])] = Seq(
      ("empty", Array.emptyByteArray),
      ("one", Array[Byte](42)),
      ("tiny", "abc".getBytes),
      ("text", text), // 135 KB: matches cross the 48 KiB chunk seam
      ("zeros", new Array[Byte](150000)), // rep0 runs, max match len
      ("binary", det(120000, 7)), // stored-chunk fallback path
      ("mixed", det(20000, 5) ++ ("hello world " * 5000).getBytes ++
        det(20000, 6)),
      ("alternating", Array.tabulate[Byte](60000)(i =>
        if ((i / 7) % 2 == 0) 'a'.toByte else det(1, i.toLong)(0))))
    for ((name, d) <- cases) {
      val enc = Codecs.xzEncode(d)
      Codecs.xzDecode(enc) match {
        case Right(got) =>
          assert(java.util.Arrays.equals(got, d), s"$name mismatch")
        case Left(r) => fail(s"$name: $r")
      }
    }
    assert(Codecs.xzEncode(text).length < text.length / 20,
      "repetitive text must compress below 0.05")
    // compression composes with the pre-filters
    for ((bcj, dd) <- Seq((true, 0), (false, 4), (true, 2))) {
      val c = det(9000, 13)
      Codecs.xzDecode(Codecs.xzEncode(c, bcj = bcj, deltaDist = dd)) match {
        case Right(got) =>
          assert(java.util.Arrays.equals(got, c), s"bcj=$bcj dd=$dd")
        case Left(r) => fail(s"bcj=$bcj dd=$dd: $r")
      }
    }
  }

  test("LZMA-compressed stream fuzz: bit flips are typed errors, " +
    "never throws or oversized output") {
    val good = Codecs.xzEncode(("lorem ipsum dolor sit amet " * 400).getBytes)
    for (i <- 6 until good.length by 3) {
      val bad = good.clone()
      bad(i) = (bad(i) ^ 0x35).toByte
      Codecs.xzDecode(bad) match {
        case Left(reason) => assert(reason.nonEmpty, s"flip $i")
        case Right(out) => assert(out.length <= 60000)
      }
    }
  }

  test("stream padding: trailing and inter-stream zero padding is " +
    "legal in 4-byte units, anything else types out") {
    val a = fixture("tiny", "xz")
    val pad4 = a ++ Array[Byte](0, 0, 0, 0) ++ a
    assert(Codecs.xzDecode(pad4).exists(_.sameElements("abcabc".getBytes)))
    val pad2 = a ++ Array[Byte](0, 0)
    assert(Codecs.xzDecode(pad2).isLeft)
  }
}
