package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** TAR walk: round trip over both containers (plain / multistream
  * tar.gz), prefix split rejoin, checksum verification, octal
  * discipline, decoy/dir fidelity, error-as-value on lies, and
  * truncation fuzz (never throws).
  */
class TarOpsSpec extends AnyFunSuite {

  private val utf8 = java.nio.charset.StandardCharsets.UTF_8

  private def expectText(id: Long, text: String): String =
    (TarOps.partsOf(text, 1 + (id % 3).toInt) :+ TarOps.markerText(id))
      .mkString("\n")

  test("round trip: plain tar, multistream tar.gz, and tar.bz2 extract " +
    "identically") {
    val text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    for (id <- Seq(6L, 5L, 7L)) { // even=tar, %4==1=tgz, %4==3=tar.bz2
      val out = TarOps.extractArchive(id, TarOps.buildArchive(id, text))
      val k = 1 + (id % 3).toInt
      assert(out.status == "ok")
      assert(out.container == (if (id % 2 == 0) "tar"
        else if (id % 4 == 3) "tar.bz2" else "tgz"))
      assert(out.n_members == k + 3)
      assert(out.n_files == k + 2)
      assert(out.text == expectText(id, text))
      assert(!out.text.contains("decoy"), "binary decoy must not leak")
    }
  }

  test("tar.xz: the q147 member layout in a stored-chunk xz stream " +
    "extracts identically; a corrupt xz stream is a typed dead letter") {
    val text = "alpha beta gamma delta epsilon zeta"
    for (id <- Seq(3L, 8L)) {
      val xz = Codecs.xzEncode(TarOps.buildTar(TarOps.archiveMembers(id, text)), stored = true)
      val out = TarOps.extractArchive(id, xz)
      assert(out.status == "ok" && out.container == "tar.xz")
      assert(out.text == expectText(id, text))
    }
    val bad = Codecs.xzEncode(
      TarOps.buildTar(TarOps.archiveMembers(1L, text)), stored = true)
    bad(20) = (bad(20) ^ 0x40).toByte
    val dead = TarOps.extractArchive(1L, bad)
    assert(dead.container == "tar.xz" && dead.status == "bad-xz")
  }

  test("prefix split: >100-byte paths rejoin exactly; names in archive order") {
    val out = TarOps.extractArchive(4L, TarOps.buildArchive(4L, "one two three"))
    val names = out.names.split("\n").toSeq
    assert(names.head == TarOps.DeepDir)
    assert(names(1) == "meta/decoy.bin")
    assert(names(2) == TarOps.DeepDir + "/part_0.txt")
    assert(names.last == "marker.txt")
    assert(TarOps.DeepDir.getBytes(utf8).length == 101, "must force the split")
  }

  test("octet discipline: multi-byte marker sizes count bytes, not chars") {
    val out = TarOps.extractArchive(0L, TarOps.buildArchive(0L, "w"))
    // parts: k=1, "w" (1 byte) + marker "Tar № 0" (№ is 3 UTF-8 bytes) + decoy 64
    val markerBytes = TarOps.markerText(0L).getBytes(utf8).length
    assert(markerBytes > TarOps.markerText(0L).length, "marker must be multi-byte")
    assert(out.n_bytes == 1L + markerBytes + 64L)
    assert(out.text.endsWith(TarOps.markerText(0L)))
  }

  test("octal field parse: padded forms accepted, garbage rejected") {
    def f(s: String): Long = TarOps.octal(s.getBytes(utf8), 0, s.length)
    assert(f("0000644\u0000") == 420L)
    assert(f("  644 \u0000\u0000") == 420L)
    assert(f("00000000012\u0000") == 10L)
    assert(f("        ") == -1L)
    assert(f("0012x34\u0000") == -1L)
    assert(f("9999\u0000") == -1L)
  }

  test("checksum lie: flipped data under an unadjusted checksum keeps earlier members") {
    val tar = TarOps.buildTar(Seq(
      ("a.txt", '0', "first".getBytes(utf8)),
      ("b.txt", '0', "second".getBytes(utf8))))
    // corrupt the SECOND header's name byte: its checksum no longer matches
    val secondHdr = 512 + 512 // a.txt header + one padded data block
    val bad = tar.clone()
    bad(secondHdr) = 'z'.toByte
    val (st, ms) = TarOps.parseTar(bad)
    assert(st == "bad-header")
    assert(ms.map(_.name) == Seq("a.txt"))
    assert(new String(ms.head.data, utf8) == "first")
  }

  test("missing terminator is truncated; stray tail after terminator is ok") {
    val tar = TarOps.buildTar(Seq(("a.txt", '0', "x".getBytes(utf8))))
    val noTerm = java.util.Arrays.copyOfRange(tar, 0, tar.length - 1024)
    assert(TarOps.parseTar(noTerm)._1 == "truncated")
    assert(TarOps.parseTar(noTerm)._2.map(_.name) == Seq("a.txt"))
    assert(TarOps.parseTar(tar ++ new Array[Byte](7))._1 == "ok")
  }

  test("truncation fuzz: every byte prefix of both containers never throws") {
    for (id <- Seq(2L, 3L)) {
      val full = TarOps.buildArchive(id, "some words for the fuzz corpus here")
      var p = 0
      while (p <= full.length) {
        val out = TarOps.extractArchive(id, java.util.Arrays.copyOfRange(full, 0, p))
        if (p == full.length) assert(out.status == "ok")
        p += 1
      }
    }
  }

  test("bit-flip fuzz: every single-byte corruption is a value, never a throw") {
    val full = TarOps.buildArchive(5L, "flip every byte of me")
    for (i <- full.indices) {
      val bad = full.clone()
      bad(i) = (bad(i) ^ 0x41).toByte
      TarOps.extractArchive(5L, bad) // must not throw
    }
  }

  test("not-tar and bad-gzip dead letters") {
    assert(TarOps.extractArchive(1L, Array.empty[Byte]).status == "not-tar")
    assert(TarOps.extractArchive(1L, new Array[Byte](100)).status == "not-tar")
    assert(TarOps.extractArchive(1L,
      ("not a tar at all, just text padded out to be long enough......" * 20)
        .getBytes(utf8)).status == "not-tar")
    // gzip magic with a corrupt stream behind it
    val junk = Array[Byte](0x1f, 0x8b.toByte, 8, 0, 0, 0, 0, 0, 0, 0, 42, 42)
    val out = TarOps.extractArchive(1L, junk)
    assert(out.container == "tgz" && out.status != "ok")
  }

  test("directory entries are members but not files") {
    val out = TarOps.extractArchive(9L, TarOps.buildArchive(9L, "a b c d"))
    assert(out.n_members == out.n_files + 1)
  }

  test("webdataset samples: adjacency groups, non-adjacent keys split, " +
    "dotted extensions keep their tail, directories skip") {
    def m(name: String, flag: Char, data: String) =
      TarOps.TarMember(name, flag, data.getBytes("UTF-8"))
    val members = Seq(
      m("d/", '5', ""),
      m("d/000001.txt", '0', "t1"),
      m("d/000001.meta.json", '0', "m1"),
      m("d/000002.txt", '0', "t2"),
      m("d/000001.txt", '0', "t1-again"), // NON-adjacent: a new sample
      m("noext", '0', "x"))
    val samples = TarOps.webdatasetSamples(members)
    assert(samples.map(_._1) == Seq("000001", "000002", "000001", "noext"))
    assert(new String(samples(0)._2("meta.json"), "UTF-8") == "m1")
    assert(new String(samples(2)._2("txt"), "UTF-8") == "t1-again")
    assert(samples(3)._2.keySet == Set(""))
  }
}
