package graft.streaming

import graft.operators.TarOps
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Streaming WebDataset export — the continuous twin of q176's writer
  * half and the tar-shard sibling of `StreamTfExport`: curated
  * documents arrive on a feed and leave as REAL `.tar` shards whose
  * samples are adjacent `<key>.txt`/`<key>.cls` entries — the format
  * WebDataset-style loaders stream during training.
  *
  * Sink discipline (shared with the TFRecord lane):
  *   - shards written EXECUTOR-SIDE; the driver sees one
  *     (name, count) row per shard — a bounded collect;
  *   - tmp + rename publish, the tmp name TASK-ATTEMPT-unique (a
  *     speculative or retried attempt can't corrupt a shard
  *     mid-rename) while the FINAL name stays deterministic in
  *     (batchId, partitionId) — replay overwrites, never duplicates;
  *   - keys are zero-padded doc_ids, entries per sample adjacent (the
  *     format's structural rule, validated by the round-trip spec
  *     through `TarOps.webdatasetSamples`).
  *
  * Scale shape (100 TB): one repartition per micro-batch to the shard
  * count, per-shard sequential tar write; no driver data path.
  */
object StreamWdsExport {

  /** One shard's samples decoded back to (doc_id, text, cls). */
  private[graft] def decodeShard(bytes: Array[Byte]): Seq[(Long, String, String)] = {
    val (status, members) = TarOps.parseTar(bytes)
    if (status != "ok") Seq.empty
    else TarOps.webdatasetSamples(members).flatMap { case (key, parts) =>
      for {
        id <- key.toLongOption
        txt <- parts.get("txt")
        cls <- parts.get("cls")
      } yield (id,
        new String(txt, java.nio.charset.StandardCharsets.UTF_8),
        new String(cls, java.nio.charset.StandardCharsets.UTF_8))
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
    val writer = raw.select(col("doc_id"), col("text"), col("cls")).writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import batch.sparkSession.implicits._
        batch.select(col("doc_id"), col("text"), col("cls"))
          .as[(Long, String, String)]
          .repartition(shards, col("doc_id"))
          .mapPartitions { it =>
            val rows = it.toVector.sortBy(_._1)
            if (rows.isEmpty) Iterator.empty
            else {
              val tc = org.apache.spark.TaskContext.get()
              val pid = tc.partitionId()
              val utf8 = java.nio.charset.StandardCharsets.UTF_8
              val entries = rows.flatMap { case (id, txt, cls) =>
                Seq((f"$id%012d.txt", '0', txt.getBytes(utf8)),
                  (f"$id%012d.cls", '0', cls.getBytes(utf8)))
              }
              val bytes = TarOps.buildTar(entries)
              val out = new Path(f"$outDir/batch$batchId%06d_part$pid%04d.tar")
              val tmp = new Path(s"$outDir/.tmp-${out.getName}-${tc.taskAttemptId()}")
              val fs = out.getFileSystem(conf.value.value)
              val os = fs.create(tmp, true)
              os.write(bytes)
              os.close()
              if (fs.exists(out)) fs.delete(out, false) // replay: overwrite
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
