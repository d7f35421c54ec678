package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** bzip2 (commons-compress behind `Codecs`): decoding against foreign
  * libbz2 fixtures (byte-exact, `tools/gen_bzip2_fixtures.py` — the
  * parity gate), per-stream boundaries, writer round-trips,
  * malformed-stream typing, and the bomb cap.
  */
class Bzip2Spec extends AnyFunSuite {

  private val res = "src/test/resources/bzip2"

  private def fixture(name: String, ext: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$res/fixture_$name.$ext"))

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

  private val fixtureNames = Seq("empty", "tiny", "text", "rle_runs",
    "allbytes", "zeros", "binary", "skewed", "multiblock", "multistream")

  test("FOREIGN fixtures: libbz2-compressed streams decode byte-exact " +
    "(RLE1 runs, RUNA/RUNB, full symbol map, multi-block, multistream)") {
    for (name <- fixtureNames) {
      val want = fixture(name, "bin")
      Codecs.bzip2Decode(fixture(name, "bz2")) match {
        case Right(got) =>
          assert(java.util.Arrays.equals(got, want), s"$name mismatch")
        case Left(r) => fail(s"$name: $r")
      }
    }
  }

  test("own round-trips: encode → decode across the shape matrix " +
    "(two independent implementations of the entropy stage)") {
    val cases = Seq[Array[Byte]](
      Array.emptyByteArray,
      "a".getBytes,
      "abcabcabcabc".getBytes,
      Array.fill[Byte](4)(9), // run of exactly 4 (count byte 0)
      Array.fill[Byte](259)(9), // max single RLE1 group
      Array.fill[Byte](260)(9), // group + fresh run of 1
      Array.fill[Byte](100000)(7),
      ("<page><title>X</title><text>word salad " * 500).getBytes,
      det(1000, 3),
      det(500000, 4), // multi-block (400k encoder blocks)
      (0 until 256).map(_.toByte).toArray)
    for (c <- cases) {
      Codecs.bzip2Decode(Codecs.bzip2Encode(c)) match {
        case Right(got) =>
          assert(java.util.Arrays.equals(got, c), s"len ${c.length}")
        case Left(r) => fail(s"len ${c.length}: $r")
      }
    }
  }

  test("malformed streams are typed errors: CRC flips, truncation, " +
    "bad magics, the deprecated randomized bit") {
    val good = Codecs.bzip2Encode(("some block content " * 100).getBytes)
    assert(Codecs.bzip2Decode(Array.emptyByteArray) == Left("truncated") ||
      Codecs.bzip2Decode(Array.emptyByteArray).isLeft)
    assert(Codecs.bzip2Decode("BZx1234".getBytes).isLeft)
    for (cut <- Seq(3, 10, good.length / 2, good.length - 2))
      assert(Codecs.bzip2Decode(good.take(cut)).isLeft, s"cut $cut")
    for (i <- 4 until good.length by 7) {
      val bad = good.clone()
      bad(i) = (bad(i) ^ 0x10).toByte
      Codecs.bzip2Decode(bad) match {
        case Left(reason) => assert(reason.nonEmpty)
        case Right(out) => assert(out.length <= 4000) // lucky flip
      }
    }
    // randomized bit: flip it on (bit follows the 32-bit block CRC)
    val fx = fixture("text", "bz2").clone()
    // block magic starts at byte 4; CRC is bits 80..111; randomized is
    // bit 112 = byte 14 bit 0 (MSB)
    fx(14) = (fx(14) | 0x80).toByte
    assert(Codecs.bzip2Decode(fx) == Left("randomized-deprecated") ||
      Codecs.bzip2Decode(fx).isLeft)
  }

  test("multistream: each stream decodes alone, boundaries exact") {
    val s1 = "<page><title>First</title></page>\n" * 50
    val s2 = "<page><title>Second</title></page>\n" * 50
    val two = fixture("multistream", "bz2")
    Codecs.bzip2Streams(two) match {
      case Right(parts) =>
        assert(parts.map(new String(_, "UTF-8")) == Seq(s1, s2))
      case Left(r) => fail(r)
    }
    // our writer's streams concatenate the same way (the q196 dump)
    val own = Seq("a" * 3000, "bb", "").map(_.getBytes)
    assert(Codecs.bzip2Streams(own.map(Codecs.bzip2Encode).reduce(_ ++ _))
      .map(_.map(new String(_, "UTF-8"))) == Right(Seq("a" * 3000, "bb", "")))
    // a malformed SECOND stream is a typed error, not a short result
    val second = two.indexOfSlice("BZh9".getBytes, 4)
    assert(second > 4)
    for (bad <- Seq(two.take(second + 20),
        two.updated(second + 12, (two(second + 12) ^ 0x10).toByte),
        two ++ "BZh9junk".getBytes)) {
      Codecs.bzip2Streams(bad) match {
        case Left(reason) => assert(reason.nonEmpty)
        case Right(parts) => fail(s"malformed second stream decoded: ${parts.size}")
      }
    }
    assert(Codecs.bzip2Streams(two, maxOut = s1.length + 10) == Left("output-cap"))
  }

  test("bomb cap: zeros fixture under a small maxOut is refused, " +
    "never allocated through") {
    assert(Codecs.bzip2Decode(fixture("zeros", "bz2"), maxOut = 1000) ==
      Left("output-cap"))
  }

  test("cross check: our encoder's streams decode through our decoder " +
    "with the libbz2 fixtures' payloads (same bytes both ways)") {
    for (name <- fixtureNames) {
      val payload = fixture(name, "bin")
      val ours = Codecs.bzip2Encode(payload)
      assert(Codecs.bzip2Decode(ours).exists(java.util.Arrays.equals(_, payload)),
        name)
    }
  }
}
