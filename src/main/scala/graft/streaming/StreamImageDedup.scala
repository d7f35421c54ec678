package graft.streaming

import graft.CacheLifecycle.unpersistOnRelease
import graft.operators.MultimodalOps
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import scala.util.Using

/** Streaming IMAGE ingest guard — the multimodal counterpart of
  * `StreamNearDup`'s text guard: every arriving image is checked against
  * everything ingested before it, at two strengths:
  *
  *  - **exact** (`decodedPixelDigest`): same decoded pixels, any
  *    container — a PNG re-wrapped as BMP is caught even though every
  *    byte differs (q87's operator at ingest time);
  *  - **near** (`dHash64`): same perceptual fingerprint — a lossily
  *    re-encoded copy (the JPEG'd duplicate that changes pixels but not
  *    content) is caught where both byte- and pixel-exact checks fail.
  *
  * Standing state is a per-batch-generation parquet index of
  * `(asset_id, dhash, digest)` signature rows — O(assets) × ~50 bytes,
  * never pixels — probed by two equi-joins per micro-batch; earlier =
  * already in the index OR lower asset id in the same batch (the
  * greedy-earliest-arrival rule `StreamEmbedIndex`'s guard uses).
  * Undecodable payloads are flagged (`kind = "undecodable"`), never
  * dropped silently — the dead-letter discipline of the CDC feeds.
  * Flags and index both land under `batch_id=<n>` directories, so a
  * replayed micro-batch overwrites its own generation cleanly and
  * `gcIndex` retention is the same windowed trade as the text guard's.
  */
object StreamImageDedup {

  def run(
      spark: SparkSession,
      sourceDir: String,
      checkpointDir: String,
      flagsDir: String,
      indexDir: String,
      maxFilesPerTrigger: Int = 1,
      availableNow: Boolean = true,
      schemaHint: Option[StructType] = None): StreamingQuery = {
    val raw = spark.readStream
      .schema(schemaHint.getOrElse(spark.read.parquet(sourceDir).schema))
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(sourceDir)
    val writer = raw.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, flagsDir, indexDir)
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }

  /** One micro-batch: decode → signatures → probe (standing + in-batch)
    * → flag → append this generation to the index. Package-visible so the
    * spec can drive batches directly.
    */
  private[streaming] def processBatch(
      batch: DataFrame, batchId: Long, flagsDir: String, indexDir: String): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    Using.resource(batch.select(col("asset_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, p) =>
          MultimodalOps.decodeImage(p) match {
            case Some(img) => (id, MultimodalOps.dHash64(img),
              java.util.Base64.getEncoder.encodeToString(
                MultimodalOps.decodedPixelDigest(img)), true)
            case None => (id, 0L, "", false)
          }
        }
      }
      .toDF("asset_id", "dhash", "digest", "decodable")
      .persist()) { sigs =>
      val ok = sigs.where(col("decodable"))
      // STRICTLY-EARLIER generations only: a crash between this batch's
      // index write and the checkpoint commit leaves its own generation
      // on disk, and a replay reading it would flag every asset as its
      // own duplicate (self-match) and overwrite the correct flags
      val standing = readIndexBefore(spark, indexDir, batchId)
      // earlier twins: every standing row, or a lower-id row of this batch
      def earlier(on: String): DataFrame = {
        val fromIndex = ok.as("a")
          .join(standing.as("b"), col(s"a.$on") === col(s"b.$on"))
          .select(col("a.asset_id").as("asset_id"), col("b.asset_id").as("prior"))
        val inBatch = ok.as("a")
          .join(ok.as("b"),
            col(s"a.$on") === col(s"b.$on") &&
              col("b.asset_id") < col("a.asset_id"))
          .select(col("a.asset_id").as("asset_id"), col("b.asset_id").as("prior"))
        fromIndex.unionByName(inBatch)
          .groupBy(col("asset_id"))
          .agg(min(col("prior")).as("dup_of"))
      }
      val exact = earlier("digest").withColumn("kind", lit("exact"))
      // a pixel-exact twin trivially shares the dHash: report it once,
      // under the STRONGER verdict
      val near = earlier("dhash")
        .join(exact.select("asset_id"), Seq("asset_id"), "left_anti")
        .withColumn("kind", lit("near"))
      val undecodable = sigs.where(!col("decodable"))
        .select(col("asset_id"), lit(-1L).as("dup_of"), lit("undecodable").as("kind"))
      val flags = exact.unionByName(near).unionByName(undecodable)
      // batch_id-dir writes: a replayed micro-batch overwrites its own
      // generation, committed generations are never touched
      flags.coalesce(1).write.mode("overwrite")
        .parquet(s"$flagsDir/batch_id=$batchId")
      ok.select(col("asset_id"), col("dhash"), col("digest"))
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$indexDir/batch_id=$batchId")
    }
  }

  /** The standing signature index (empty frame before the first commit). */
  private[streaming] def readIndex(spark: SparkSession, indexDir: String): DataFrame =
    readIndexBefore(spark, indexDir, Long.MaxValue)

  /** The index restricted to generations strictly before `batchId` — the
    * replay-safe probe view (a replayed batch must not see its own
    * crashed write).
    */
  private[streaming] def readIndexBefore(
      spark: SparkSession, indexDir: String, batchId: Long): DataFrame = {
    if (CheckpointStream.hasBatches(spark.sparkContext.hadoopConfiguration, indexDir))
      spark.read.parquet(indexDir)
        .filter(col("batch_id") < batchId)
        .select(col("asset_id"), col("dhash"), col("digest"))
    else {
      import spark.implicits._
      Seq.empty[(Long, Long, String)].toDF("asset_id", "dhash", "digest")
    }
  }

  /** Drained-flags view: every batch generation under `flagsDir`. */
  def readFlags(spark: SparkSession, flagsDir: String): DataFrame =
    spark.read.parquet(flagsDir).select("asset_id", "dup_of", "kind")

  /** Index retention in committed batch generations (the text guard's
    * windowed trade): duplicates of images older than the kept window go
    * undetected. Post-drain only — no active writer.
    */
  def gcIndex(spark: SparkSession, indexDir: String, keepBatches: Int): Unit = {
    require(keepBatches >= 1, "keepBatches must be >= 1")
    val p = new Path(indexDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return
    val gens = fs.listStatus(p).map(_.getPath)
      .filter(_.getName.startsWith("batch_id="))
      .sortBy(_.getName.stripPrefix("batch_id=").toLong)
    gens.dropRight(keepBatches).foreach(g => fs.delete(g, true))
  }
}
