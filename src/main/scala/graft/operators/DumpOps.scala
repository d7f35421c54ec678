package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Wikipedia-style MULTISTREAM XML dump ingestion — the oldest staple
  * of LLM corpus building (`*-pages-articles-multistream.xml.bz2`):
  * article batches each compressed as an independent bzip2 STREAM,
  * streams concatenated into one file so an index can seek to a batch
  * and decompress it alone. The engine both WRITES the shape (with
  * commons-compress bzip2) and WALKS it (per-stream decode, page
  * parse, entity unescape) — so q196's oracle pins the whole loop
  * from `documents` text arithmetic.
  *
  * Scale shape (100 TB): shard construction and the walk are both
  * per-row executor work around one group-by (the corpus-construction
  * shuffle shared with the WARC family); the per-stream decode is what
  * a real dump reader parallelizes over, one task per (shard, stream
  * extent) — exactly why the multistream form exists.
  */
object DumpOps {

  private val PagesPerStream = 10

  private[graft] def xmlEscape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  private[graft] def xmlUnescape(s: String): String =
    s.replace("&lt;", "<").replace("&gt;", ">").replace("&amp;", "&")

  private[graft] def buildPage(id: Long, title: String, text: String): String =
    s"  <page>\n    <title>${xmlEscape(title)}</title>\n" +
      s"    <id>$id</id>\n" +
      s"    <revision>\n      <text>${xmlEscape(text)}</text>\n" +
      s"    </revision>\n  </page>\n"

  /** One multistream shard per group: pages in doc_id order, each run
    * of `PagesPerStream` pages bzip2-compressed as its own stream,
    * streams concatenated (the production layout an offset index
    * points into).
    */
  private[graft] def syntheticDumpBz2(
      docs: DataFrame, groups: Int = 8): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select((col("doc_id") % groups).as("group_id"),
        struct(col("doc_id"), col("text")).as("s"))
      .groupBy(col("group_id"))
      .agg(expr("array_sort(collect_list(s))").as("pages"))
      .as[(Long, Seq[(Long, String)])]
      .map { case (gid, pages) =>
        val utf8 = java.nio.charset.StandardCharsets.UTF_8
        val out = new java.io.ByteArrayOutputStream()
        pages.grouped(PagesPerStream).foreach { batch =>
          val xml = batch.map { case (id, text) =>
            buildPage(id, s"Doc $id", text)
          }.mkString
          out.write(Codecs.bzip2Encode(xml.getBytes(utf8)))
        }
        (gid, out.toByteArray)
      }
      .toDF("group_id", "dump")
  }

  private val PageRe =
    """(?s)<page>\s*<title>(.*?)</title>\s*<id>(\d+)</id>\s*<revision>\s*<text>(.*?)</text>""".r

  private[graft] final case class DumpPage(
      group_id: Long, stream_idx: Int, status: String, page_id: Long,
      title: String, text: String)

  /** Walk one shard: per-STREAM bzip2 decode (boundaries are part of
    * the contract — a reader seeks to them), page scan, entity
    * unescape. Malformed shards surface as one typed row.
    */
  private[graft] def parseDump(gid: Long, bytes: Array[Byte]): Seq[DumpPage] =
    Codecs.bzip2Streams(bytes) match {
      case Left(r) => Seq(DumpPage(gid, -1, "bad-bzip2:" + r, -1L, "", ""))
      case Right(streams) =>
        val utf8 = java.nio.charset.StandardCharsets.UTF_8
        streams.zipWithIndex.flatMap { case (s, idx) =>
          PageRe.findAllMatchIn(new String(s, utf8)).map { m =>
            DumpPage(gid, idx, "ok", m.group(2).toLong,
              xmlUnescape(m.group(1)), xmlUnescape(m.group(3)))
          }
        }
    }

  /** q196: multistream `.xml.bz2` dump round-trip — write and walk
    * stream-at-a-time with commons-compress bzip2, per-page title/text
    * recovered through the XML entity round-trip. The oracle replays
    * doc_id, title, the stream ordinal (row_number arithmetic over the
    * same grouping), and the text sha straight from `documents` — a
    * stream-boundary or escaping slip changes rows.
    */
  def q196DumpMultistream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    syntheticDumpBz2(Tables.documents(spark, dir))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (gid, b) => parseDump(gid, b) })
      .toDF()
      .select(col("page_id").as("doc_id"), col("title"),
        col("stream_idx").cast("long").as("stream_idx"),
        col("status"),
        sha2(col("text"), 256).as("text_sha"))
      .orderBy(col("doc_id"))
  }

  /** q197: `.jsonl.lz4` dataset shards — the other shard codec a
    * training pipeline meets (beside gzip WET, zstd WARC, TFRecord,
    * WebDataset): one LZ4 frame per shard of JSON lines, written by
    * commons-compress (independent 64 KiB blocks, content checksum)
    * and walked back the same way; JSON string escaping round-trips
    * through Spark's own `to_json`/`get_json_object`, so the oracle
    * replays doc_id, the line ordinal, and the text sha from
    * `documents` directly.
    *
    * Scale shape (100 TB): per-shard executor work around the one
    * corpus-construction group-by; decode is byte-linear with the
    * 64 MiB input cap.
    */
  def q197Lz4Shard(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val shards = Tables.documents(spark, dir)
      .select((col("doc_id") % 8).as("group_id"),
        struct(col("doc_id"),
          to_json(struct(col("doc_id"), col("text"))).as("line")).as("s"))
      .groupBy(col("group_id"))
      .agg(expr("transform(array_sort(collect_list(s)), x -> x.line)")
        .as("lines"))
      .as[(Long, Seq[String])]
      .map { case (gid, lines) =>
        val utf8 = java.nio.charset.StandardCharsets.UTF_8
        (gid, Codecs.lz4Encode((lines.mkString("\n") + "\n").getBytes(utf8)))
      }
      .toDF("group_id", "shard")
    shards.as[(Long, Array[Byte])]
      .flatMap { case (gid, shard) =>
        Codecs.lz4Decode(shard) match {
          case Left(r) => Seq((gid, -1L, "bad-lz4:" + r, ""))
          case Right(b) =>
            new String(b, java.nio.charset.StandardCharsets.UTF_8)
              .split("\n").toSeq.filter(_.nonEmpty).zipWithIndex
              .map { case (l, i) => (gid, i.toLong, "ok", l) }
        }
      }
      .toDF("group_id", "line_idx", "status", "line")
      .select(
        get_json_object(col("line"), "$.doc_id").cast("long").as("doc_id"),
        col("line_idx"), col("status"),
        sha2(get_json_object(col("line"), "$.text"), 256).as("text_sha"))
      .orderBy(col("doc_id"))
  }
}
