package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** LZ4 frames (commons-compress behind `Codecs`): decoding against
  * foreign liblz4 fixtures — the parity gate (linked and independent
  * blocks, both checksum kinds, content size) — writer round-trips,
  * malformed-frame typing, and the bomb cap.
  */
class Lz4Spec extends AnyFunSuite {

  private val res = "src/test/resources/lz4"

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

  private val fixtureNames = Seq("empty", "tiny", "text",
    "linked_multiblock", "indep_blocks", "block_checksums",
    "content_checksum", "content_size", "binary", "zeros")

  test("FOREIGN fixtures: liblz4-compressed frames decode byte-exact " +
    "(linked blocks, indep blocks, block/content checksums, sizes)") {
    for (name <- fixtureNames) {
      val want = fixture(name, "bin")
      Codecs.lz4Decode(fixture(name, "lz4")) match {
        case Right(got) =>
          assert(java.util.Arrays.equals(got, want), s"$name mismatch")
        case Left(r) => fail(s"$name: $r")
      }
    }
  }

  test("own round-trips across the shape matrix, plus concatenated " +
    "frames and a leading skippable frame") {
    val cases = Seq[Array[Byte]](
      Array.emptyByteArray,
      "a".getBytes,
      "abcabcabcabcabcabc".getBytes,
      Array.fill[Byte](200000)(7),
      ("line of repeated text " * 4000).getBytes, // multi-block
      det(1000, 3),
      det(300000, 4))
    for (c <- cases) {
      Codecs.lz4Decode(Codecs.lz4Encode(c)) match {
        case Right(got) =>
          assert(java.util.Arrays.equals(got, c), s"len ${c.length}")
        case Left(r) => fail(s"len ${c.length}: $r")
      }
    }
    // concatenation + skippable
    val a = "first frame ".getBytes
    val b = "second frame".getBytes
    val skip = Array[Byte](0x50, 0x2A, 0x4D, 0x18, 4, 0, 0, 0, 1, 2, 3, 4)
    val cat = skip ++ Codecs.lz4Encode(a) ++ Codecs.lz4Encode(b)
    assert(Codecs.lz4Decode(cat).exists(java.util.Arrays.equals(_, a ++ b)))
  }

  test("malformed frames are typed errors: header-checksum flip, " +
    "content-checksum flip, truncation, bad magic, offset overrun") {
    val good = Codecs.lz4Encode(("block content " * 200).getBytes)
    assert(Codecs.lz4Decode("not lz4 data".getBytes).isLeft)
    for (cut <- Seq(2, 6, good.length / 2, good.length - 2))
      assert(Codecs.lz4Decode(good.take(cut)).isLeft, s"cut $cut")
    val hdrBad = good.clone()
    hdrBad(4) = (hdrBad(4) ^ 0x10).toByte // FLG flip → header checksum
    assert(Codecs.lz4Decode(hdrBad).isLeft)
    val tailBad = good.clone()
    tailBad(good.length - 1) = (tailBad(good.length - 1) ^ 1).toByte
    assert(Codecs.lz4Decode(tailBad) == Left("content-checksum"))
    for (i <- 15 until good.length - 5 by 7) {
      val bad = good.clone()
      bad(i) = (bad(i) ^ 0x20).toByte
      Codecs.lz4Decode(bad) match {
        case Left(reason) => assert(reason.nonEmpty)
        case Right(out) => assert(out.length <= 4000)
      }
    }
  }

  test("bomb cap: the zeros fixture under a small maxOut is refused") {
    assert(Codecs.lz4Decode(fixture("zeros", "lz4"), maxOut = 1000) ==
      Left("output-cap"))
  }
}
