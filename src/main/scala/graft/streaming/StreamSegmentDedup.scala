package graft.streaming

import graft.CacheLifecycle.unpersistOnRelease
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import scala.util.Using

/** Streaming SEGMENT-level dedup — q121's passage-grain dedup at ingest
  * time, the third standing guard beside the text near-dup
  * (`StreamNearDup`) and image (`StreamImageDedup`) guards: every
  * arriving document's consecutive `segWords`-word segments check
  * against every segment ingested before them — the standing per-batch
  * parquet index of segment md5 digests (32 B/segment, never text), or
  * an earlier (doc_id, seg_idx) within the same batch (the greedy
  * earliest-arrival rule every guard uses) — and each document's row
  * reports its ORDERED kept-text reassembly exactly like the batch
  * operator. When arrival order follows doc_id order, the drained result
  * equals batch q121 row-for-row (spec-pinned); out-of-order arrival
  * keeps the first-ARRIVED copy, the documented online trade.
  *
  * Crash/replay: outputs and index generations land under
  * `batch_id=<n>` dirs with overwrite semantics — a replayed micro-batch
  * rewrites its own generation and committed generations are never
  * touched (the image-guard discipline).
  */
object StreamSegmentDedup {

  def run(
      spark: SparkSession,
      sourceDir: String,
      checkpointDir: String,
      outDir: String,
      indexDir: String,
      segWords: Int = 10,
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
        processBatch(batch, batchId, outDir, indexDir, segWords)
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }

  /** One micro-batch: segment → probe (standing digests + in-batch
    * earliest) → per-document reassembly row → append the NEW digests as
    * this batch's index generation.
    */
  private[streaming] def processBatch(
      batch: DataFrame, batchId: Long, outDir: String, indexDir: String,
      segWords: Int): Unit = {
    val spark = batch.sparkSession
    Using.resource(batch
      .select(col("doc_id"), split(lower(col("text")), " ").as("w"))
      .select(col("doc_id"),
        posexplode(expr(
          s"transform(sequence(1, (size(w) + $segWords - 1) div $segWords), " +
            s"i -> concat_ws(' ', slice(w, (i - 1) * $segWords + 1, $segWords)))")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("seg_idx"),
        col("col").as("seg"), md5(col("col").cast("binary")).as("h"))
      .persist()) { segs =>
      // strictly-earlier generations only (the replay-safe probe view —
      // see StreamImageDedup.readIndexBefore's rationale)
      val standing = readIndexBefore(spark, indexDir, batchId)
      // a segment keeps iff its digest is NOT in the standing index AND
      // it is the first (doc_id, seg_idx) occurrence within this batch
      val firstInBatch = segs.groupBy(col("h"))
        .agg(min(struct(col("doc_id"), col("seg_idx"))).as("first"))
        .select(col("h"), col("first.doc_id").as("f_doc"),
          col("first.seg_idx").as("f_idx"))
      val verdicts = segs
        .join(standing.withColumn("seen", lit(1)), Seq("h"), "left")
        .join(firstInBatch, Seq("h"))
        .withColumn("keep",
          (col("seen").isNull &&
            col("doc_id") === col("f_doc") && col("seg_idx") === col("f_idx"))
            .cast("int"))
      val out = verdicts.groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_segs"),
          sum(col("keep")).as("n_kept"),
          sha2(concat_ws(" ",
            expr("transform(array_sort(collect_list(CASE WHEN keep = 1 " +
              "THEN struct(seg_idx, seg) END)), s -> s.seg)")), 256)
            .as("kept_sha"))
      out.coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/batch_id=$batchId")
      // index generation: only the digests this batch introduced — the
      // standing side never accumulates duplicates
      segs.select(col("h")).distinct()
        .join(standing, Seq("h"), "left_anti")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$indexDir/batch_id=$batchId")
    }
  }

  /** The standing digest index (empty frame before the first commit). */
  private[streaming] def readIndex(spark: SparkSession, indexDir: String): DataFrame =
    readIndexBefore(spark, indexDir, Long.MaxValue)

  /** Generations strictly before `batchId` — the replay-safe probe view. */
  private[streaming] def readIndexBefore(
      spark: SparkSession, indexDir: String, batchId: Long): DataFrame = {
    if (CheckpointStream.hasBatches(spark.sparkContext.hadoopConfiguration, indexDir))
      spark.read.parquet(indexDir)
        .filter(col("batch_id") < batchId)
        .select(col("h"))
    else {
      import spark.implicits._
      Seq.empty[String].toDF("h")
    }
  }

  /** All per-document dedup rows (each doc appears once, in the batch
    * that carried it).
    */
  def readDedup(spark: SparkSession, outDir: String): DataFrame = {
    val p = new Path(outDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p), s"no segment-dedup output under $outDir")
    spark.read.parquet(outDir)
      .select(col("doc_id"), col("n_segs"), col("n_kept"), col("kept_sha"))
  }
}
