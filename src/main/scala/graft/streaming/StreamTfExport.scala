package graft.streaming

import graft.operators.TfRecordOps
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Streaming TFRecord export — the continuous twin of q152's writer
  * half: curated documents arrive on a feed and leave as REAL
  * `.tfrecord` shard files (masked-CRC32C framing, raw bytes on disk —
  * not a parquet envelope), so the training stack tails shards instead
  * of re-exporting the corpus per epoch boundary.
  *
  * Sink discipline (the standing-index rules, shard-grained):
  *   - shards are written EXECUTOR-SIDE (the data never funnels
  *     through the driver; the driver sees only one (name, count) row
  *     per shard — a bounded collect);
  *   - tmp-file + rename publish per shard: a reader never sees a
  *     half-written shard, a crashed task leaves only a dot-tmp file
  *     (invisible to readers by convention);
  *   - shard names are DETERMINISTIC in (batchId, partitionId), so a
  *     replayed micro-batch (post-crash re-delivery) or a retried task
  *     overwrites its own shard instead of duplicating records —
  *     idempotence without a transaction log;
  *   - each record's payload is `<doc_id>\t<text>` UTF-8, so the
  *     parity reader reconstructs the exact input set.
  *
  * `StreamTfExportSpec` drives feed files end to end and re-parses
  * every shard through `TfRecordOps.parseShard`: drained shards ==
  * the input set exactly, across batches and across a replay.
  *
  * Scale shape (100 TB): one repartition per micro-batch to the shard
  * count (output-sized), per-shard sequential write; no driver data
  * path.
  */
object StreamTfExport {

  /** One shard's records decoded back to (doc_id, text). */
  private[graft] def decodeShard(bytes: Array[Byte]): Seq[(Long, String)] = {
    val (_, _, recs) = TfRecordOps.parseShard(bytes)
    recs.flatMap { r =>
      val s = new String(r, java.nio.charset.StandardCharsets.UTF_8)
      val t = s.indexOf('\t')
      if (t <= 0) None
      else s.substring(0, t).toLongOption.map(id => (id, s.substring(t + 1)))
    }
  }

  def run(
      spark: SparkSession,
      sourceDir: String,
      checkpointDir: String,
      outDir: String,
      maxFilesPerTrigger: Int = 1,
      availableNow: Boolean = true,
      schemaHint: Option[StructType] = None,
      shards: Int = 4): StreamingQuery = {
    import spark.implicits._
    val raw = spark.readStream
      .schema(schemaHint.getOrElse(spark.read.parquet(sourceDir).schema))
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(sourceDir)
    val conf = spark.sparkContext.broadcast(
      new SerializableConfiguration(spark.sparkContext.hadoopConfiguration))
    val writer = raw.select(col("doc_id"), col("text")).writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import batch.sparkSession.implicits._
        batch.select(col("doc_id"), col("text")).as[(Long, String)]
          .repartition(shards, col("doc_id"))
          .mapPartitions { it =>
            val rows = it.toVector.sortBy(_._1)
            if (rows.isEmpty) Iterator.empty
            else {
              val tc = org.apache.spark.TaskContext.get()
              val pid = tc.partitionId()
              val bytes = TfRecordOps.buildShard(rows.map { case (id, t) =>
                (id.toString + "\t" + t)
                  .getBytes(java.nio.charset.StandardCharsets.UTF_8)
              })
              val out = new Path(f"$outDir/batch$batchId%06d_part$pid%04d.tfrecord")
              // tmp is task-ATTEMPT-unique: a speculative or retried attempt
              // writes and renames its own file; the deterministic final name
              // keeps the publish idempotent.
              val tmp = new Path(s"$outDir/.tmp-${out.getName}-${tc.taskAttemptId()}")
              val fs = out.getFileSystem(conf.value.value)
              val os = fs.create(tmp, true)
              os.write(bytes)
              os.close()
              if (fs.exists(out)) fs.delete(out, false) // replay: overwrite, never duplicate
              if (!fs.rename(tmp, out))
                throw new java.io.IOException(s"publish failed: $out")
              Iterator.single((out.getName, rows.length))
            }
          }
          .collect() // bounded: one (name, count) row per shard
        ()
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer)
      .start()
  }
}
