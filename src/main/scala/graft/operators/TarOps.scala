package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** TAR (POSIX ustar) container walk + tar.gz — the dataset-archive
  * front door beside ZIP (q143): published text corpora, code dumps,
  * and crawl-derived bundles ship as `.tar`/`.tar.gz`, so a pipeline
  * that ingests real training data must walk the 512-byte-block
  * header format and the (possibly multi-member) gzip stream around
  * it.
  *
  * The walk is strictly offset-driven, the way the format is defined:
  * a 512-byte header block (name / octal size / checksum / typeflag /
  * `ustar` magic / prefix), then `ceil(size/512)` data blocks, then
  * the next header; two all-zero blocks terminate. Every header's
  * checksum is verified (unsigned byte sum with the checksum field
  * read as spaces — the POSIX rule); long paths (>100 bytes) arrive
  * split across the `prefix`/`name` fields and are rejoined with a
  * `/`. The octal size field counts OCTETS, so multi-byte text pins
  * the byte-vs-char discipline.
  *
  * tar.gz: the whole-stream gzip form (and the legal multi-member
  * `.tgz` concatenation) inflates through the same member machinery
  * the WARC front door uses (`WarcOps.gunzipMembers` — JDK
  * `Inflater`, trailer-verified), members concatenated back into one
  * tar stream.
  *
  * Codec discipline (`Jpeg`/`ZipOps`/`Mp4Ops`/`PdfOps`): error as
  * value, never a throw — a bad later header ends the walk at the lie
  * with every earlier member intact (TAR has no resync point);
  * allocation is bounded BEFORE trusting header sizes; truncation at
  * every byte prefix is fuzzed.
  *
  * The q147 corpus builds a real archive per document — a deep
  * directory whose 101-byte path FORCES the prefix split on every
  * row, a binary decoy that must never leak into text, modular word
  * slices as `.txt` members, and a multi-byte marker — plain tar for
  * even ids, two-member tar.gz for id % 4 == 1, `.tar.bz2` for
  * id % 4 == 3, so the hash is container-independent. The oracle replays member names, file
  * octet counts, and the text sha from pure (doc_id, text) word
  * arithmetic without ever seeing a tar byte: any checksum slip,
  * octal mis-parse, prefix mis-join, padding slip, or gzip-member
  * boundary error changes a column.
  *
  * Scale shape (100 TB): per-row byte walker via `mapPartitions`,
  * zero shuffle before the output sort; work linear in archive size.
  */
object TarOps {

  private val MaxMembers = 4096
  private val MaxMemberBytes = 1L << 26

  final case class TarMember(name: String, typeflag: Char, data: Array[Byte])

  final case class TarInfo(
      doc_id: Long, status: String, container: String, n_members: Int,
      n_files: Int, n_bytes: Long, names: String, text: String)

  // ----------------------------------------------------------------- walk

  /** Octal field: leading spaces/NULs tolerated, digits, terminated by
    * space/NUL; -1 on garbage (the error-as-value contract).
    */
  private[graft] def octal(b: Array[Byte], off: Int, len: Int): Long = {
    var i = off
    val end = off + len
    while (i < end && (b(i) == ' '.toByte || b(i) == 0)) i += 1
    var v = 0L
    var seen = false
    while (i < end && b(i) >= '0'.toByte && b(i) <= '7'.toByte) {
      v = (v << 3) | (b(i) - '0'.toByte)
      seen = true
      i += 1
    }
    while (i < end && (b(i) == ' '.toByte || b(i) == 0)) i += 1
    if (seen && i == end) v else -1L
  }

  private def nulString(b: Array[Byte], off: Int, len: Int): String = {
    var n = 0
    while (n < len && b(off + n) != 0) n += 1
    new String(b, off, n, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** POSIX checksum: unsigned byte sum of the header with the checksum
    * field (148..156) read as ASCII spaces.
    */
  private[graft] def headerChecksum(b: Array[Byte], off: Int): Long = {
    var s = 0L
    var i = 0
    while (i < 512) {
      s += (if (i >= 148 && i < 156) 32 else b(off + i) & 0xff)
      i += 1
    }
    s
  }

  private def isZeroBlock(b: Array[Byte], off: Int): Boolean = {
    var i = 0
    while (i < 512) {
      if (b(off + i) != 0) return false
      i += 1
    }
    true
  }

  /** The offset-driven walk: (status, members). Status `ok` requires
    * the two-zero-block terminator; a later lie keeps earlier members
    * (`bad-header` / `truncated`) — TAR has no resync point.
    */
  private[graft] def parseTar(b: Array[Byte]): (String, Seq[TarMember]) = {
    val out = scala.collection.mutable.ArrayBuffer.empty[TarMember]
    def fail(s: String) = (if (out.isEmpty && s != "truncated") "not-tar" else s, out.toSeq)
    if (b.length < 512) return ("not-tar", Nil)
    var p = 0
    while (true) {
      if (p + 512 > b.length) return fail("truncated")
      if (isZeroBlock(b, p)) return ("ok", out.toSeq)
      if (!(b(p + 257) == 'u'.toByte && b(p + 258) == 's'.toByte &&
            b(p + 259) == 't'.toByte && b(p + 260) == 'a'.toByte &&
            b(p + 261) == 'r'.toByte)) return fail("bad-header")
      val stored = octal(b, p + 148, 8)
      if (stored < 0 || stored != headerChecksum(b, p)) return fail("bad-header")
      val size = octal(b, p + 124, 12)
      if (size < 0 || size > MaxMemberBytes) return fail("bad-header")
      val name = nulString(b, p, 100)
      val prefix = nulString(b, p + 345, 155)
      val full = if (prefix.isEmpty) name else prefix + "/" + name
      val tf = b(p + 156) match { case 0 => '0'; case c => c.toChar }
      val dataOff = p + 512
      if (dataOff + size > b.length) return fail("truncated")
      out += TarMember(full, tf,
        java.util.Arrays.copyOfRange(b, dataOff, dataOff + size.toInt))
      if (out.length > MaxMembers) return fail("too-many")
      p = dataOff + ((size.toInt + 511) / 512) * 512
    }
    ("ok", out.toSeq) // unreachable
  }

  /** Container dispatch: gzip (single- or multi-member `.tgz`) inflates
    * through the WARC member machinery, members concatenated back into
    * one tar stream; plaintext passes through.
    */
  private[graft] def isBzip2(b: Array[Byte]): Boolean =
    b.length >= 4 && b(0) == 'B' && b(1) == 'Z' && b(2) == 'h' &&
      b(3) >= '1' && b(3) <= '9'

  private[graft] def isXz(b: Array[Byte]): Boolean =
    b.length >= 6 && (b(0) & 0xff) == 0xFD && b(1) == '7' && b(2) == 'z' &&
      b(3) == 'X' && b(4) == 'Z' && b(5) == 0

  private[graft] def parseTarAuto(bytes: Array[Byte]): (String, String, Seq[TarMember]) =
    if (WarcOps.isGzip(bytes)) {
      val members = WarcOps.gunzipMembers(bytes)
      if (members.isEmpty) ("tgz", "bad-gzip", Nil)
      else {
        val bos = new java.io.ByteArrayOutputStream()
        members.foreach(bos.write)
        val (st, ms) = parseTar(bos.toByteArray)
        ("tgz", st, ms)
      }
    } else if (isXz(bytes)) {
      // kernel/source-mirror shape: whole tar in an xz stream
      Codecs.xzDecode(bytes) match {
        case Left(_) => ("tar.xz", "bad-xz", Nil)
        case Right(tar) =>
          val (st, ms) = parseTar(tar)
          ("tar.xz", st, ms)
      }
    } else if (isBzip2(bytes)) {
      // the Gutenberg/dump-mirror shape: whole tar in (possibly
      // multistream) bzip2 — streams concatenate back into one stream
      Codecs.bzip2Decode(bytes) match {
        case Left(_) => ("tar.bz2", "bad-bzip2", Nil)
        case Right(tar) =>
          val (st, ms) = parseTar(tar)
          ("tar.bz2", st, ms)
      }
    } else {
      val (st, ms) = parseTar(bytes)
      ("tar", st, ms)
    }

  // --------------------------------------------------------------- encode

  /** Write a real ustar archive: checksummed headers, prefix split for
    * >100-byte paths (at a `/` so the decoder's rejoin is exact),
    * 512-block padding, two zero terminator blocks.
    */
  private[graft] def buildTar(members: Seq[(String, Char, Array[Byte])]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    members.foreach { case (path, tf, data) =>
      val pb = path.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val (prefix, name) =
        if (pb.length <= 100) (Array.empty[Byte], pb)
        else {
          var s = -1
          var i = 0
          while (i < pb.length) { // last '/' with name<=100, prefix<=155
            if (pb(i) == '/'.toByte && pb.length - i - 1 <= 100 && i <= 155 && s < 0) s = i
            i += 1
          }
          require(s > 0, s"unsplittable tar path: $path")
          (java.util.Arrays.copyOfRange(pb, 0, s),
            java.util.Arrays.copyOfRange(pb, s + 1, pb.length))
        }
      val h = new Array[Byte](512)
      System.arraycopy(name, 0, h, 0, name.length)
      def oct(v: Long, off: Int, len: Int): Unit = {
        val s = ("%0" + (len - 1) + "o").format(v).getBytes(ascii)
        System.arraycopy(s, 0, h, off, s.length) // trailing NUL stays
      }
      oct(420, 100, 8) // mode 0644
      oct(0, 108, 8); oct(0, 116, 8) // uid/gid
      oct(data.length.toLong, 124, 12)
      oct(0, 136, 12) // mtime: fixed epoch
      h(156) = tf.toByte
      System.arraycopy("ustar".getBytes(ascii), 0, h, 257, 5)
      h(263) = '0'; h(264) = '0'
      System.arraycopy(prefix, 0, h, 345, prefix.length)
      java.util.Arrays.fill(h, 148, 156, ' '.toByte)
      val sum = headerChecksum(h, 0)
      val cs = "%06o".format(sum).getBytes(ascii)
      System.arraycopy(cs, 0, h, 148, 6)
      h(154) = 0; h(155) = ' '
      bos.write(h)
      bos.write(data)
      val pad = (512 - data.length % 512) % 512
      bos.write(new Array[Byte](pad))
    }
    bos.write(new Array[Byte](1024))
    bos.toByteArray
  }

  // ----------------------------------------------------------------- q147

  /** The 101-byte directory path — every member under it forces the
    * ustar prefix/name split.
    */
  private[graft] val DeepDir: String = "deep/" + "x" * 96

  /** The multi-byte marker member — octal size counts octets, so a
    * char-counted size diverges the walk.
    */
  private[graft] def markerText(id: Long): String = "Tar № " + id

  /** Modular word slices (word i → part i % k), the q144 arithmetic. */
  private[graft] def partsOf(text: String, k: Int): Seq[String] = {
    val ws = text.split("[ \t\r\n]+").filter(_.nonEmpty)
    (0 until k).map(j => ws.zipWithIndex.collect {
      case (w, i) if i % k == j => w
    }.mkString(" "))
  }

  /** One archive per document: deep dir (prefix split), binary decoy
    * (must never leak into text), k modular `.txt` parts, multi-byte
    * marker; even ids plain tar, id % 4 == 1 a two-member tar.gz (the
    * legal multistream `.tgz` concatenation), id % 4 == 3 a
    * `.tar.bz2`.
    */
  private[graft] def archiveMembers(
      id: Long, text: String): Seq[(String, Char, Array[Byte])] = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val k = 1 + (id % 3).toInt
    val decoy = Array.tabulate[Byte](64)(i => ((id + i) & 0xff).toByte)
    Seq((DeepDir, '5', Array.empty[Byte]), ("meta/decoy.bin", '0', decoy)) ++
      partsOf(text, k).zipWithIndex.map { case (p, j) =>
        (s"$DeepDir/part_$j.txt", '0', p.getBytes(utf8))
      } ++ Seq(("marker.txt", '0', markerText(id).getBytes(utf8)))
  }

  private[graft] def buildArchive(id: Long, text: String): Array[Byte] = {
    val tar = buildTar(archiveMembers(id, text))
    if (id % 2 == 0) tar
    else if (id % 4 == 3) Codecs.bzip2Encode(tar) // .tar.bz2 (round 19)
    else {
      val mid = tar.length / 2
      WarcOps.gzipBytes(java.util.Arrays.copyOfRange(tar, 0, mid)) ++
        WarcOps.gzipBytes(java.util.Arrays.copyOfRange(tar, mid, tar.length))
    }
  }

  /** Full-container extraction; the error-as-value contract. Text =
    * the `.txt` members in archive order; names = every member's
    * rejoined full path in archive order.
    */
  private[graft] def extractArchive(docId: Long, bytes: Array[Byte]): TarInfo = {
    val (container, status, ms) = parseTarAuto(bytes)
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val files = ms.filter(_.typeflag == '0')
    val txt = files.filter(_.name.endsWith(".txt"))
    TarInfo(docId, status, container, ms.length, files.length,
      files.map(_.data.length.toLong).sum,
      ms.map(_.name).mkString("\n"),
      txt.map(m => new String(m.data, utf8)).mkString("\n"))
  }

  /** q201: `.tar.xz` ingestion — the source-mirror / kernel-tarball
    * shape: the q147 member layout wrapped in an xz stream and walked
    * back through the container door. Same per-doc arithmetic as q147
    * with the container pinned `tar.xz` on every row. A third of the
    * corpus travels through each filter-chain shape — plain LZMA2, BCJ
    * x86 (id % 3 == 1, the compiled-binary-mirror case), delta dist 4
    * (id % 3 == 2) — and even ids are LZMA-compressed while odd ids
    * keep stored chunks, so the oracle replays only if the reader
    * reverses every filter and the LZMA core byte-exactly.
    *
    * Scale shape (100 TB): per-row build + walk, no exchange before
    * the output sort (the q147 contract).
    */
  def q201TarXz(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, t) =>
        val tar = buildTar(archiveMembers(id, t))
        val bcj = id % 3 == 1
        val dd = if (id % 3 == 2) 4 else 0
        extractArchive(id,
          Codecs.xzEncode(tar, bcj = bcj, deltaDist = dd, stored = id % 2 == 1))
      })
      .toDF()
      .select(col("doc_id"), col("status"), col("container"),
        col("n_members").cast("long").as("n_members"),
        col("n_files").cast("long").as("n_files"),
        col("n_bytes"),
        sha2(col("names"), 256).as("names_sha"),
        sha2(col("text"), 256).as("text_sha"))
      .orderBy(col("doc_id"))
  }

  /** q147: the dataset-archive front door end-to-end — build a real
    * tar / multistream tar.gz per document, inflate, walk the
    * 512-byte blocks with checksum verification and prefix rejoin;
    * member count, file count, file octet total, the full name list
    * sha, and the text sha all replayed by the oracle from pure
    * (doc_id, text) word arithmetic.
    */
  def q147TarExtract(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, t) => extractArchive(id, buildArchive(id, t)) })
      .toDF()
      .select(col("doc_id"), col("status"), col("container"),
        col("n_members").cast("long").as("n_members"),
        col("n_files").cast("long").as("n_files"),
        col("n_bytes"),
        sha2(col("names"), 256).as("names_sha"),
        sha2(col("text"), 256).as("text_sha"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------------------ q176

  /** WebDataset sample assembly over a parsed tar: files of one sample
    * share the dot-basename KEY and are ADJACENT in the archive (the
    * format's one structural rule); a key seen again later is a NEW
    * sample occurrence, never merged backwards. Returns samples in
    * archive order as (key, ext → bytes).
    */
  private[graft] def webdatasetSamples(
      members: Seq[TarMember]): Seq[(String, Map[String, Array[Byte]])] = {
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(String, scala.collection.mutable.LinkedHashMap[String, Array[Byte]])]
    for (m <- members if m.typeflag == '0') {
      val base = m.name.substring(m.name.lastIndexOf('/') + 1)
      val dot = base.indexOf('.')
      val (key, ext) =
        if (dot < 0) (base, "") else (base.substring(0, dot), base.substring(dot + 1))
      if (out.nonEmpty && out.last._1 == key) out.last._2 += ext -> m.data
      else out += ((key, scala.collection.mutable.LinkedHashMap(ext -> m.data)))
    }
    out.toSeq.map { case (k, m) => (k, m.toMap) }
  }

  /** q176: WebDataset export end to end — the OTHER standard
    * training-shard format beside TFRecord (q152): documents shard by
    * `doc_id % 8`, each contributing ADJACENT `<id>.txt` (the text +
    * a multi-byte marker) and `<id>.cls` (the q170 language label)
    * entries to a real ustar archive; the shards then RE-PARSE through
    * the q147 walker and reassemble through the adjacency rule. The
    * oracle replays per document the shard name, its sample count
    * (a window count), the text sha, and the label — a header, octal
    * size, adjacency, or checksum slip changes rows.
    */
  def q176WebdatasetExport(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val langs = LangIdOps.LangNames
    Tables.documents(spark, dir)
      .select((col("doc_id") % 8).as("shard_id"),
        struct(col("doc_id"), col("text")).as("s"))
      .groupBy(col("shard_id"))
      .agg(expr("array_sort(collect_list(s))").as("docs"))
      .as[(Long, Seq[(Long, String)])]
      .flatMap { case (sid, docs) =>
        val entries = docs.flatMap { case (id, text) =>
          val txt = (text + " Wds № " + id)
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val cls = langs((id % 6).toInt)
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          Seq((f"$id%012d.txt", '0', txt), (f"$id%012d.cls", '0', cls))
        }
        val shardName = f"shard-$sid%06d.tar"
        val tar = buildTar(entries)
        // re-parse + sample assembly: the export is only done if the
        // standard reader gets every sample back
        val (status, members) = parseTar(tar)
        if (status != "ok") Seq.empty
        else webdatasetSamples(members).map { case (key, parts) =>
          (key.toLong, shardName,
            new String(parts("txt"), java.nio.charset.StandardCharsets.UTF_8),
            new String(parts("cls"), java.nio.charset.StandardCharsets.UTF_8))
        }
      }
      .toDF("doc_id", "shard", "text", "cls")
      .select(col("doc_id"), col("shard"),
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("shard"))).as("shard_samples"),
        sha2(col("text"), 256).as("text_sha"), col("cls"))
      .orderBy(col("doc_id"))
  }
}
