package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Dictionary training for the q195/q204 archives
  * (`WarcOps.warcGroupDict`: libzstd's ZDICT within an 8 KiB budget,
  * falling back to the structured `WarcRecPrefix` dictionary for a
  * group too small to train). The trained dictionary beats the
  * round-19 SAMPLED-prefix dictionary on a q195-style corpus through
  * the same writer, its frames decode byte-exact, and training is
  * deterministic and never throws.
  */
class ZstdDictTrainSpec extends AnyFunSuite {

  private val utf8 = java.nio.charset.StandardCharsets.UTF_8

  /** q195-shaped records: shared WARC/HTTP skeleton + shared corpus
    * vocabulary + per-record unique material (ids, hashes, tails).
    */
  private def records(n: Int): Seq[Array[Byte]] = (0 until n).map { i =>
    val vocab = Seq("analytics", "pipeline", "checkpoint", "sessions",
      "training", "documents", "embedding", "throughput")
    val body = (0 until 10).map { j =>
      s"<p class=${'"'}body-text${'"'}>Paragraph $j of record $i " +
        s"about ${vocab((i + j) % vocab.length)} and " +
        s"${vocab((i * 3 + j) % vocab.length)} workloads, unique " +
        s"tail ${(i * 1103515245L + j * 12345L).toHexString}.</p>"
    }.mkString
    (s"WARC/1.0\r\nWARC-Type: response\r\n" +
      s"WARC-Target-URI: https://example.com/doc/$i\r\n" +
      s"Content-Type: application/http; msgtype=response\r\n\r\n" +
      s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" +
      s"<html><head><title>Record $i</title></head><body>$body" +
      s"</body></html>\r\n\r\n").getBytes(utf8)
  }

  private def sampledPrefixDict(recs: Seq[Array[Byte]], cap: Int): Array[Byte] = {
    // the round-19 baseline: leading records verbatim up to the cap
    val bos = new java.io.ByteArrayOutputStream()
    recs.iterator.takeWhile(_ => bos.size < cap).foreach(bos.write)
    bos.toByteArray
  }

  private def totalWith(recs: Seq[Array[Byte]], dict: Array[Byte]): Long =
    recs.map(r => Zstd.encode(r, dict).length.toLong).sum

  private lazy val fallback =
    Zstd.encodeStructuredDict(WarcOps.WarcZstDictId, WarcOps.WarcRecPrefix)

  test("trained dict beats the sampled-prefix baseline on the " +
    "q195-style corpus; frames round-trip through our own decoder") {
    val recs = records(64)
    val raw = recs.map(_.length.toLong).sum
    val sampled = sampledPrefixDict(recs, 8192)
    val trained = WarcOps.warcGroupDict(recs)
    assert(trained.length >= 8 && trained.length <= 8192)
    assert(!java.util.Arrays.equals(trained, fallback), "64 records must train")
    val tSampled = totalWith(recs, sampled)
    val tTrained = totalWith(recs, trained)
    info(f"raw $raw%d sampled $tSampled%d (${tSampled.toDouble / raw}%.4f) " +
      f"trained $tTrained%d (${tTrained.toDouble / raw}%.4f)")
    assert(tTrained < tSampled,
      s"trained dict ($tTrained) must beat sampled prefix ($tSampled)")
    assert(tTrained.toDouble / raw < 0.15, "q195-style corpus must stay <0.15")
    // and the frames decode byte-exact under the same dict
    val dict = Zstd.parseDictionary(trained).fold(r => fail(r), identity)
    assert(dict.id != 0L)
    recs.foreach { r =>
      Zstd.decode(Zstd.encode(r, trained), 1 << 26, dict) match {
        case Right(out) => assert(java.util.Arrays.equals(out, r))
        case Left(reason) => fail(s"decode under trained dict: $reason")
      }
    }
  }

  test("training is deterministic, respects the budget, and survives " +
    "degenerate corpora") {
    val recs = records(32)
    val a = WarcOps.warcGroupDict(recs)
    val b = WarcOps.warcGroupDict(recs)
    assert(java.util.Arrays.equals(a, b), "training must be deterministic")
    assert(a.length <= 8192)
    assert(!java.util.Arrays.equals(a, fallback), "32 records must train")
    // tiny and uniform corpora: fall back to the structured prefix
    // dictionary, never throw
    val tiny = WarcOps.warcGroupDict(Seq("abc".getBytes(utf8)))
    assert(java.util.Arrays.equals(tiny, fallback))
    val uni = WarcOps.warcGroupDict(Seq.fill(4)(Array.fill[Byte](4000)(7)))
    assert(java.util.Arrays.equals(uni, fallback))
    // trained content actually comes from the corpus: the dictionary's
    // content tail is a corpus substring
    val hay = recs.reduce(_ ++ _)
    val seg = a.takeRight(32)
    assert(hay.containsSlice(seg), "selections must be corpus substrings")
  }
}
