package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** The zstd WRITER (`Zstd.encode`, libzstd level 3 via zstd-jni):
  * round-trips through `Zstd.decode` across the shape matrix,
  * compresses the HTML-corpus shape below the 0.5-ratio pin, keeps
  * dictionary-seeded frames dependent on their dictionary, and never
  * expands incompressible input past the framing.
  */
class ZstdEncodeSpec extends AnyFunSuite {

  private def rt(data: Array[Byte]): Unit = {
    val enc = Zstd.encode(data)
    Zstd.decode(enc) match {
      case Right(out) =>
        assert(java.util.Arrays.equals(out, data),
          s"round-trip mismatch at ${data.length} bytes")
      case Left(r) => fail(s"decode failed: $r (len ${data.length})")
    }
  }

  private def det(n: Int, seed: Long): Array[Byte] = {
    // SplitMix64 byte stream: deterministic "incompressible" input
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

  private def htmlish(docs: Int): Array[Byte] = {
    val sb = new StringBuilder
    for (i <- 0 until docs) {
      sb ++= s"<html><head><title>Document $i</title></head><body>"
      sb ++= s"<h1>Section heading $i</h1>"
      for (j <- 0 until 12)
        sb ++= s"<p class=\"body-text\">Paragraph $j of document $i " +
          "with some repeated filler words the quick brown fox jumps " +
          "over the lazy dog.</p>"
      sb ++= "</body></html>\n"
    }
    sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }

  test("round-trips: empty, tiny, uniform, text, binary, random, " +
    "multi-block — every literals/block form") {
    rt(Array.emptyByteArray)
    rt(Array[Byte](42))
    rt("abc".getBytes)
    rt(Array.fill[Byte](1)(7))
    rt(Array.fill[Byte](1000)(0)) // RLE block
    rt(Array.fill[Byte](200000)(9)) // RLE blocks across the 128K boundary
    rt("to be or not to be, that is the question".getBytes)
    rt(htmlish(3)) // Huffman literals + matches
    rt(det(100, 1)) // short incompressible
    rt(det(50000, 2)) // raw-block fallback (every byte value present)
    rt(htmlish(200)) // > 128 KiB: multi-block with cross-block matches
    rt((det(400, 3) ++ htmlish(100) ++ det(400, 4)) ++ htmlish(100))
    // alternating compressible/incompressible segments
    val mix = new java.io.ByteArrayOutputStream()
    for (k <- 0 until 6) {
      mix.write(det(30000, k.toLong))
      mix.write(htmlish(20))
    }
    rt(mix.toByteArray)
  }

  test("round-trips: >128-distinct-literal blocks (FSE-compressed " +
    "Huffman weights — the form direct nibbles can't express) and " +
    "long single-match runs") {
    val all256 = Array.tabulate[Byte](256)(_.toByte)
    rt(all256 ++ all256 ++ all256 ++ all256) // matches over full alphabet
    val longRun = ("abcdefgh".getBytes ++
      Array.fill[Byte](70000)('x'.toByte)) ++ "abcdefgh".getBytes
    rt(longRun)
    rt(skewedWide(4000, 1))
    rt(skewedWide(50000, 2)) // 4-stream with FSE weights
    // structural pin: the literals section must be COMPRESSED (type 2)
    // with an FSE weights header (first tree byte < 128) — not a raw
    // fallback that would make this test vacuous
    val enc = Zstd.encode(skewedWide(50000, 2))
    // frame header: magic(4) + fhd(1) + 2-byte FCS (50000 takes the
    // fcsCode-1 form); then the 3-byte block header
    val bh = (enc(7) & 0xff) | ((enc(8) & 0xff) << 8) |
      ((enc(9) & 0xff) << 16)
    assert(((bh >> 1) & 3) == 2, "block must be compressed")
    val lh = enc(10) & 0xff
    assert((lh & 3) == 2, "literals must be Huffman-compressed")
    val sf = (lh >> 2) & 3
    val descAt = 10 + (sf match { case 0 | 1 => 3; case 2 => 4; case _ => 5 })
    assert((enc(descAt) & 0xff) < 128,
      "weights must take the FSE-compressed form")
    // full 256-symbol alphabet, skewed — weight alphabet exercises
    // zero runs between present weights
    rt(Array.tabulate[Byte](30000)(i =>
      if (i % 3 != 0) 7 else ((i * 2654435761L >> 5) & 0xff).toByte))
  }

  /** Skewed >128-symbol stream: Huffman must win AND the weights must
    * take the FSE-compressed path.
    */
  private def skewedWide(n: Int, seed: Long): Array[Byte] = {
    val out = new Array[Byte](n)
    var x = seed
    var i = 0
    while (i < n) {
      x = x * 6364136223846793005L + 1442695040888963407L
      val r = ((x >>> 33) % 100).toInt
      out(i) =
        if (r < 60) 'e'.toByte // heavy head
        else if (r < 80) ('a' + (x >>> 40) % 16).toByte
        else (130 + ((x >>> 45) % 90)).toByte // wide tail past 128
      i += 1
    }
    out
  }

  test("dictionary-seeded frames: matches reach into the §5 content " +
    "prefix; dropping the dict makes the frame undecodable") {
    val dictContent = htmlish(2)
    val dictBlob = Zstd.encodeStructuredDict(0x47524654L, dictContent)
    val data = ("<html><head><title>Document 1</title></head><body>" +
      "fresh tail content beyond the shared prefix").getBytes ++ det(64, 9)
    val enc = Zstd.encode(data, dictBlob)
    // matches into the dictionary content make the frame smaller
    assert(enc.length < Zstd.encode(data).length)
    val parsed = Zstd.parseDictionary(dictBlob) match {
      case Right(d) => d
      case Left(r) => fail(s"structured dict parse: $r")
    }
    Zstd.decode(enc, 1 << 20, parsed) match {
      case Right(out) => assert(java.util.Arrays.equals(out, data))
      case Left(r) => fail(s"dict decode: $r")
    }
    // without the dict the Dictionary_ID handshake must refuse
    assert(Zstd.decode(enc).isLeft)
  }

  test("ratio pin: the HTML-corpus shape compresses below 0.5 " +
    "(the q195 write-side promise); uniform bytes below 0.01") {
    val html = htmlish(50)
    val enc = Zstd.encode(html)
    val ratio = enc.length.toDouble / html.length
    assert(ratio < 0.5, f"html ratio $ratio%.3f")
    val runs = Array.fill[Byte](100000)(5)
    assert(Zstd.encode(runs).length < 1000)
  }

  test("content checksum flag: checksummed frames round-trip; a " +
    "payload flip fails the CHECKSUM gate, not just garbles") {
    val data = htmlish(5)
    val enc = Zstd.encode(data, checksum = true)
    assert(Zstd.decode(enc).exists(java.util.Arrays.equals(_, data)))
    assert(Zstd.decode(Zstd.encode(Array.emptyByteArray, checksum = true))
      .exists(_.isEmpty))
    // flip one literal byte in the last block: either a structural
    // typed error or, if the stream still parses, checksum-mismatch —
    // never silent wrong output
    var caught = 0
    for (i <- enc.length - 60 until enc.length - 4) {
      val bad = enc.clone()
      bad(i) = (bad(i) ^ 0x01).toByte
      Zstd.decode(bad) match {
        case Left("checksum-mismatch") => caught += 1
        case Left(_) => ()
        case Right(out) => assert(java.util.Arrays.equals(out, data))
      }
    }
    assert(caught > 0, "no flip ever reached the checksum gate")
  }

  test("output never exceeds input by more than the framing " +
    "(incompressible inputs degrade to raw blocks)") {
    for (n <- Seq(1, 100, 5000, 131072, 200000)) {
      val d = det(n, n.toLong)
      val enc = Zstd.encode(d)
      // frame header ≤ 9 + 3 bytes per 128K block
      assert(enc.length <= n + 9 + 3 * (n / (1 << 17) + 1),
        s"expansion at $n: ${enc.length}")
    }
  }
}
