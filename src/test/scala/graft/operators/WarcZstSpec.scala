package graft.operators

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** `.warc.zst` archives: frame extents address records without
  * decompressing anything, single records range-read by extent, a
  * corrupt frame drops with the walk resyncing, and the full q185
  * output equals the gzip twin q135's row for row.
  */
class WarcZstSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def rec(uri: String, body: String): String = {
    val http = s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n$body"
    s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: $uri\r\n" +
      s"Content-Length: ${http.getBytes("UTF-8").length}\r\n\r\n$http\r\n\r\n"
  }

  test("extents address every frame byte-exactly; ONE record range-reads " +
    "by its extent without touching the rest") {
    val recs = (0 until 5).map(i => rec(s"https://z.test/$i", s"<p>body $i</p>"))
    val archive = recs.map(r => Zstd.encodeRaw(r.getBytes("UTF-8")))
      .foldLeft(Array.empty[Byte])(_ ++ _)
    val exts = WarcOps.zstdMemberExtents(archive)
    assert(exts.length == 5)
    assert(exts.map(e => e._1 + e._2).max == archive.length)
    // range-read record 3 from its extent alone
    val (off, len, _) = exts(3)
    val slice = java.util.Arrays.copyOfRange(
      archive, off.toInt, (off + len).toInt)
    val one = Zstd.decode(slice, 1 << 20).toOption.map(WarcOps.parseWarc)
    assert(one.exists(_.map(_._3) == Seq("<p>body 3</p>")))
  }

  test("a corrupt frame drops; the walk resyncs and the neighbors survive") {
    val recs = (0 until 4).map(i => rec(s"https://z.test/$i", s"<p>b$i</p>"))
    val frames = recs.map(r => Zstd.encodeRaw(r.getBytes("UTF-8")))
    val bad = frames(1).clone()
    bad(6) = (bad(6) ^ 0x77).toByte // inside the frame body
    val archive = frames(0) ++ bad ++ frames(2) ++ frames(3)
    val got = WarcOps.zstdMembers(archive).flatMap(WarcOps.parseWarc).map(_._3)
    assert(got.contains("<p>b0</p>") && got.contains("<p>b2</p>") &&
      got.contains("<p>b3</p>"))
    assert(!got.contains("<p>b1</p>"))
  }

  test("q185 on sf0.001 equals the gzip twin q135 row for row") {
    val viaZst = WarcOps.q185WarcZstExtract(spark, sf).collect().map(_.toSeq)
    val viaGz = WarcOps.q135WarcGzExtract(spark, sf).collect().map(_.toSeq)
    assert(viaZst.nonEmpty && viaZst.length == viaGz.length)
    viaZst.zip(viaGz).foreach { case (z, g) => assert(z == g) }
  }

  // ------------------------------------------- dictionary convention

  private def dictArchive(recs: Seq[String]): Array[Byte] = {
    val prefix = WarcOps.WarcRecPrefix
    val blob = Zstd.encodeStructuredDict(WarcOps.WarcZstDictId, prefix)
    val packed = Zstd.encodeRaw(blob)
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(0x5D); bos.write(0x2A); bos.write(0x4D); bos.write(0x18)
    val sz = packed.length
    bos.write(sz & 0xff); bos.write((sz >> 8) & 0xff)
    bos.write((sz >> 16) & 0xff); bos.write((sz >> 24) & 0xff)
    bos.write(packed)
    recs.foreach(r => bos.write(Zstd.encode(r.getBytes("UTF-8"), blob)))
    bos.toByteArray
  }

  test("dict-bearing archive: the leading skippable frame's dictionary " +
    "decodes every record frame; WITHOUT it the frames dead-letter " +
    "typed (drop), never as garbage") {
    val recs = (0 until 5).map(i =>
      rec(s"https://example.test/doc/$i", s"<p>dict body $i</p>"))
    val archive = dictArchive(recs)
    val got = WarcOps.zstdMembers(archive).flatMap(WarcOps.parseWarc).map(_._3)
    assert(got == (0 until 5).map(i => s"<p>dict body $i</p>"))
    // strip the dictionary frame: every record frame declares the id
    // and must drop — zero members, zero garbage
    val skipLen = 8 + ((archive(4) & 0xff) | ((archive(5) & 0xff) << 8) |
      ((archive(6) & 0xff) << 16) | ((archive(7) & 0xff) << 24))
    val stripped = java.util.Arrays.copyOfRange(archive, skipLen, archive.length)
    assert(WarcOps.zstdMembers(stripped).isEmpty)
    // a MALFORMED dictionary blob (unparseable FSE preamble) degrades
    // the same way: dict-less walk, id-declaring frames typed out
    val packedLen = skipLen - 8
    val blobLen = Zstd.encodeStructuredDict(
      WarcOps.WarcZstDictId, WarcOps.WarcRecPrefix).length
    val blobStart = 8 + (packedLen - blobLen) // inner raw frame's payload
    val badDict = archive.clone()
    badDict(blobStart + 10) = 0xFF.toByte // FSE accLog 20 > max: parse bails
    assert(WarcOps.zstdMembers(badDict).isEmpty)
  }

  test("dict-bearing archive extents still address records for range " +
    "reads (offsets past the dictionary frame)") {
    val recs = (0 until 4).map(i =>
      rec(s"https://example.test/doc/$i", s"<p>x$i</p>"))
    val archive = dictArchive(recs)
    val exts = WarcOps.zstdMemberExtents(archive)
    assert(exts.length == 4)
    assert(exts.head._1 > 8, "first record extent starts after the dict frame")
    assert(exts.map(e => e._1 + e._2).max == archive.length)
  }

  test("q195 write-side corpus on sf0.001: every archive compresses " +
    "below 0.5, records stay dict-DEPENDENT (stripping the dictionary " +
    "frame dead-letters all of them), and extents tile the archive") {
    import spark.implicits._
    def build() = WarcOps.syntheticWarcZstCompressed(
      graft.Tables.documents(spark, sf))
      .as[(Long, Array[Byte], Long, Long)].collect().sortBy(_._1)
    val arch = build()
    assert(arch.length == 8)
    // dictionary training and encoding are deterministic: a second
    // build of the corpus is byte-identical
    assert(build().map(_._2.toSeq).toSeq == arch.map(_._2.toSeq).toSeq)
    for ((gid, warc, rawLen, compLen) <- arch) {
      assert(compLen == warc.length)
      assert(compLen.toDouble / rawLen < 0.5,
        s"gid=$gid ratio ${compLen.toDouble / rawLen}")
      // every record decodes through the dict walk
      val members = WarcOps.zstdMembers(warc)
      assert(members.nonEmpty, s"gid=$gid")
      // dict-dependence: drop the leading skippable frame and every
      // id-declaring record frame must dead-letter (type, not garbage)
      val skipLen = 8 + ((warc(4) & 0xff) | ((warc(5) & 0xff) << 8) |
        ((warc(6) & 0xff) << 16) | ((warc(7) & 0xff) << 24))
      val stripped = java.util.Arrays.copyOfRange(warc, skipLen, warc.length)
      assert(WarcOps.zstdMembers(stripped).isEmpty, s"gid=$gid")
      // the non-decompressing boundary walk still tiles the archive
      // up to the trailing EMBEDDED seek table (round 20)
      val exts = WarcOps.zstdMemberExtents(warc)
      assert(exts.length == members.length)
      val table = Zstd.readSeekTable(warc)
      assert(table.isDefined, s"gid=$gid: embedded seek table must parse")
      val entries = table.get
      assert(entries.length == members.length + 1) // dict frame + records
      val tableStart = entries.map(_.compSize).sum
      assert(exts.map(e => e._1 + e._2).max == tableStart)
      // table extents agree with the walked extents, record for record
      val recEntries = entries.filter(_.decompSize > 0)
      assert(recEntries.map(e => (e.offset, e.compSize)) ==
        exts.map(e => (e._1, e._2)))
      recEntries.zip(members).foreach { case (e, m) =>
        assert(e.decompSize == m.length.toLong)
        assert(e.checksum.contains(Zstd.xxh64Low32(m)))
      }
    }
  }

  test("q195 on sf0.001 equals the gzip twin q135 row for row " +
    "(ratio flag uniformly true)") {
    val viaZst = WarcOps.q195WarcZstWrite(spark, sf).collect()
    val viaGz = WarcOps.q135WarcGzExtract(spark, sf).collect().map(_.toSeq)
    assert(viaZst.nonEmpty && viaZst.length == viaGz.length)
    viaZst.zip(viaGz).foreach { case (z, g) =>
      assert(z.toSeq.init == g && z.getBoolean(z.length - 1))
    }
  }

  test("q186 on sf0.001 equals the gzip twin q135 row for row") {
    val viaDict = WarcOps.q186WarcZstDictExtract(spark, sf).collect().map(_.toSeq)
    val viaGz = WarcOps.q135WarcGzExtract(spark, sf).collect().map(_.toSeq)
    assert(viaDict.nonEmpty && viaDict.length == viaGz.length)
    viaDict.zip(viaGz).foreach { case (z, g) => assert(z == g) }
  }

  test("q192 CDX fetch: extents persisted by the index range-read every " +
    "record through the shared dictionary; a lying extent is None") {
    // CDX rows need a capture timestamp: records carry WARC-Date
    val recs = (0 until 4).map { i =>
      val body = s"<p>cdx $i</p>"
      val http = s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n$body"
      s"WARC/1.0\r\nWARC-Type: response\r\n" +
        s"WARC-Target-URI: https://example.test/doc/$i\r\n" +
        s"WARC-Date: 2026-01-0${i + 1}T00:00:00Z\r\n" +
        s"Content-Length: ${http.getBytes("UTF-8").length}\r\n\r\n$http\r\n\r\n"
    }
    val archive = dictArchive(recs)
    val rows = CdxOps.cdxRecordsZst("a.warc", archive)
    assert(rows.length == 4)
    val (dict, dictEnd) = WarcOps.warcZstDict(archive)
    assert(dict != null && dictEnd > 8)
    assert(rows.forall(_.offset >= dictEnd),
      "record extents start after the dictionary frame")
    rows.zipWithIndex.foreach { case (r, i) =>
      val got = CdxOps.fetchRecordZst(archive, dict, r.offset, r.length)
      assert(got.exists(_._3 == s"<p>cdx $i</p>"), s"extent $i")
    }
    // lies: shifted offset, short length, no dictionary
    val r0 = rows.head
    assert(CdxOps.fetchRecordZst(archive, dict, r0.offset + 1, r0.length).isEmpty)
    assert(CdxOps.fetchRecordZst(archive, dict, r0.offset, r0.length - 1).isEmpty)
    assert(CdxOps.fetchRecordZst(archive, null, r0.offset, r0.length).isEmpty)
  }

  test("q192 on sf0.001 equals the gzip twin q135 row for row") {
    val viaCdx = CdxOps.q192CdxZstFetch(spark, sf).collect().map(_.toSeq)
    val viaGz = WarcOps.q135WarcGzExtract(spark, sf).collect().map(_.toSeq)
    assert(viaCdx.nonEmpty && viaCdx.length == viaGz.length)
    viaCdx.zip(viaGz).foreach { case (z, g) => assert(z == g) }
  }

  test("NEGATIVE control: a planted STORED (raw-block) archive group " +
    "comes back ratio_lt_60 = false through the SAME join q195 uses") {
    val arch = WarcOps.syntheticWarcZstCompressed(
      graft.Tables.documents(spark, sf), storedGroup = 3)
    val rows = WarcOps.warcZstRatioJoin(spark, arch).collect()
    assert(rows.nonEmpty)
    val (stored, compressed) = rows.partition(_.getLong(0) % 8 == 3)
    assert(stored.nonEmpty, "group 3 must have documents")
    stored.foreach(r => assert(!r.getBoolean(r.length - 1),
      s"doc ${r.getLong(0)}: stored group must flag false"))
    compressed.foreach(r => assert(r.getBoolean(r.length - 1),
      s"doc ${r.getLong(0)}: compressed groups must flag true"))
    // and the stored group's text still extracts identically (the
    // flag reports the CONTAINER, not the content)
    val normal = WarcOps.q195WarcZstWrite(spark, sf).collect()
    assert(rows.map(_.toSeq.init).toSeq == normal.map(_.toSeq.init).toSeq)
  }

  test("TRAINED dict beats the round-19 sampled prefix on the actual " +
    "q195 corpus, group by group totals (both numbers pinned)") {
    import spark.implicits._
    val arch = WarcOps.syntheticWarcZstCompressed(
      graft.Tables.documents(spark, sf))
      .as[(Long, Array[Byte], Long, Long)].collect()
    var tSampled = 0L; var tTrained = 0L; var raw = 0L
    for ((gid, warc, _, _) <- arch) {
      val recs = WarcOps.zstdMembers(warc)
      raw += recs.map(_.length.toLong).sum
      // the archive ships a ZDICT-trained dictionary, not the fallback
      val (shipped, _) = WarcOps.warcZstDict(warc)
      assert(shipped.id != 0L && shipped.id != WarcOps.WarcZstDictId, s"gid=$gid")
      // baseline: the leading records verbatim as a raw-content prefix
      val bos = new java.io.ByteArrayOutputStream()
      bos.write(WarcOps.WarcRecPrefix)
      recs.iterator.takeWhile(_ => bos.size < 8192).foreach(bos.write(_))
      val sampled = bos.toByteArray
      val trained = WarcOps.warcGroupDict(recs)
      tSampled += recs.map(r => Zstd.encode(r, sampled).length.toLong).sum
      tTrained += recs.map(r => Zstd.encode(r, trained).length.toLong).sum
    }
    info(f"q195 corpus raw=$raw sampled=$tSampled " +
      f"(${tSampled.toDouble / raw}%.4f) trained=$tTrained " +
      f"(${tTrained.toDouble / raw}%.4f)")
    assert(tTrained < tSampled,
      s"trained ($tTrained) must beat the sampled prefix ($tSampled)")
  }

  test("a group of 10 or fewer records falls back to the structured " +
    "WarcRecPrefix dictionary and still decodes") {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sf).orderBy("doc_id").limit(40)
    val arch = WarcOps.syntheticWarcZstCompressed(docs)
      .as[(Long, Array[Byte], Long, Long)].collect()
    assert(arch.length == 8)
    val fallback = Zstd.encodeStructuredDict(WarcOps.WarcZstDictId, WarcOps.WarcRecPrefix)
    for ((gid, warc, _, _) <- arch) {
      val (dict, _) = WarcOps.warcZstDict(warc)
      assert(dict.id == WarcOps.WarcZstDictId && dict.bytes.sameElements(fallback),
        s"gid=$gid")
      val members = WarcOps.zstdMembers(warc)
      assert(members.nonEmpty && members.length <= 10, s"gid=$gid")
      assert(members.forall(m => WarcOps.parseWarc(m).length == 1), s"gid=$gid")
      assert(Zstd.readSeekTable(warc).get.count(_.decompSize > 0) == members.length)
    }
    assert(arch.map(a => WarcOps.zstdMembers(a._2).length).sum == 40)
  }

  test("seek table round-trips: checksummed and plain forms, empty " +
    "table, and every structural lie parses to None") {
    val entries = Seq((100L, 0L, Option(0x1234L)), (250L, 4000L, Option(7L)),
      (13L, 90000L, Option(0xFFFFFFFFL)))
    val blob = Zstd.seekTable(entries)
    val payload = new Array[Byte](363) // 100 + 250 + 13
    val full = payload ++ blob
    val got = Zstd.readSeekTable(full).get
    assert(got.map(e => (e.compSize, e.decompSize, e.checksum)) ==
      entries.map(t => (t._1, t._2, t._3)))
    assert(got.map(_.offset) == Seq(0L, 100L, 350L))
    // plain (no checksum) form
    val plain = payload ++ Zstd.seekTable(entries.map(t => (t._1, t._2, None)))
    assert(Zstd.readSeekTable(plain).get.forall(_.checksum.isEmpty))
    // empty table over an empty payload
    assert(Zstd.readSeekTable(Zstd.seekTable(Nil)).get.isEmpty)
    // lies: wrong magic, reserved descriptor bits, size lies, bad sum
    def corrupt(at: Int, v: Byte): Array[Byte] = {
      val c = full.clone(); c(c.length + at) = v; c
    }
    assert(Zstd.readSeekTable(corrupt(-1, 0x00)).isEmpty) // magic
    assert(Zstd.readSeekTable(corrupt(-5, 0x44)).isEmpty) // reserved bits
    assert(Zstd.readSeekTable(corrupt(-9, 99)).isEmpty) // frame count
    // entry size lie breaks the extent sum -> None
    val lie = full.clone()
    lie(payload.length + 8) = (lie(payload.length + 8) ^ 1).toByte
    assert(Zstd.readSeekTable(lie).isEmpty)
    // truncated table
    assert(Zstd.readSeekTable(full.take(full.length - 5)).isEmpty)
  }

  test("q204 on sf0.001 equals the gzip twin q135 row for row " +
    "(selective access answered by the EMBEDDED index)") {
    val viaSeek = WarcOps.q204SeekableFetch(spark, sf).collect().map(_.toSeq)
    val viaGz = WarcOps.q135WarcGzExtract(spark, sf).collect().map(_.toSeq)
    assert(viaSeek.nonEmpty && viaSeek.length == viaGz.length)
    viaSeek.zip(viaGz).foreach { case (z, g) => assert(z == g) }
  }

  test("q204 resilience: a stripped or lying table falls back to the " +
    "header walk; a flipped checksum dead-letters ONE record") {
    import spark.implicits._
    val arch = WarcOps.syntheticWarcZstCompressed(
      graft.Tables.documents(spark, sf))
      .as[(Long, Array[Byte], Long, Long)].collect()
    val warc = arch.head._2
    val entries = Zstd.readSeekTable(warc).get
    val tableStart = entries.map(_.compSize).sum
    // stripped: no table -> walk path yields the same records
    val stripped = java.util.Arrays.copyOf(warc, tableStart.toInt)
    assert(Zstd.readSeekTable(stripped).isEmpty)
    assert(WarcOps.zstdMembers(stripped).map(_.toSeq) ==
      WarcOps.zstdMembers(warc).map(_.toSeq))
    // flipped checksum: the table still parses; that record refuses
    val (dict, _) = WarcOps.warcZstDict(warc)
    val rec1 = entries.filter(_.decompSize > 0).head
    assert(WarcOps.fetchRecordSeek(warc, dict, rec1).isDefined)
    assert(WarcOps.fetchRecordSeek(warc, dict,
      rec1.copy(checksum = rec1.checksum.map(_ ^ 1))).isEmpty)
    assert(WarcOps.fetchRecordSeek(warc, dict,
      rec1.copy(decompSize = rec1.decompSize + 1)).isEmpty)
    assert(WarcOps.fetchRecordSeek(warc, dict,
      rec1.copy(offset = rec1.offset + 1)).isEmpty)
  }

  test("truncation fuzz: every archive prefix yields the intact frame " +
    "prefix, never a throw") {
    val recs = (0 until 3).map(i => rec(s"https://z.test/$i", s"<p>t$i</p>"))
    val archive = recs.map(r => Zstd.encodeRaw(r.getBytes("UTF-8")))
      .foldLeft(Array.empty[Byte])(_ ++ _)
    for (cut <- 0 to archive.length by 7) {
      val n = WarcOps.zstdMembers(archive.take(cut)).length
      assert(n <= 3)
    }
    assert(WarcOps.zstdMembers(archive).length == 3)
  }
}
