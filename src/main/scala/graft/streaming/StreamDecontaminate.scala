package graft.streaming

import graft.CacheLifecycle.unpersistOnRelease
import graft.operators.DedupOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import scala.util.Using

/** Streaming benchmark decontamination — the ingest-time counterpart of the
  * batch guard (q40, `DedupOps.decontaminate`): every document entering the
  * training corpus is checked against the evaluation suite's n-gram shingle
  * set AS IT ARRIVES, so contaminated documents are flagged before they
  * ever land in training storage rather than found by a later batch sweep.
  *
  * Shape: decontamination is a PER-DOCUMENT judgment (a document's verdict
  * depends only on its own shingles and the static eval set), so the
  * streaming form is `foreachBatch` applying the IDENTICAL batch operator
  * to each micro-batch — batch-local application equals the global batch
  * result by construction, which is exactly what the parity test pins. The
  * eval side keeps the batch plan's asymmetry: megabytes of benchmark
  * shingles BROADCAST map-side against the arriving corpus, the stream
  * side never shuffling its shingles (the eval DataFrame is persisted once
  * for the life of the query so each micro-batch re-derives its shingle
  * set from cache, not from storage).
  *
  * Output: one row per arriving document (doc_id, n_shared, keep), written
  * to one `batch_id=N` partition dir per micro-batch with first-write-wins
  * `_SUCCESS` protection (`CheckpointStream.appendDiffs` — the same
  * replay-idempotent append contract as the diff sink).
  */
object StreamDecontaminate {

  /** Sniff the documents feed's schema from files already present; a
    * caller that knows the shape passes `schemaHint` (the sniff cannot see
    * files that arrive after the query starts).
    */
  private def docsSchemaFor(spark: SparkSession, sourceDir: String): StructType =
    spark.read.parquet(sourceDir).schema

  def run(
      spark: SparkSession,
      sourceDir: String,
      checkpointDir: String,
      sinkDir: String,
      evalSet: DataFrame,
      n: Int = 5,
      maxFilesPerTrigger: Int = 1,
      availableNow: Boolean = true,
      schemaHint: Option[StructType] = None,
      bloom: Boolean = false,
      bloomBitsPerItem: Long = 10L): StreamingQuery = {
    val evalCached = evalSet.persist()
    // Bloom mode (non-broadcastable eval sets): the blob is built ONCE at
    // query start — one bounded driver collect for the life of the query —
    // and every micro-batch primes the two-phase operator with it. The
    // per-document verdicts are bit-identical to the broadcast mode
    // (parity-tested); only the join strategy changes.
    val primed: Option[(DataFrame, Option[Array[Byte]])] =
      if (bloom) {
        val evalSh = DedupOps.evalShingles(evalCached, n).persist()
        Some((evalSh, DedupOps.buildShingleBloom(evalSh, bloomBitsPerItem)))
      } else None
    val raw = spark.readStream
      .schema(schemaHint.getOrElse(docsSchemaFor(spark, sourceDir)))
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(sourceDir)
    val writer = raw.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // persist: the isEmpty probe and the parquet write would otherwise
        // each run the full shingle-explode + broadcast join (same
        // discipline as CheckpointStream.run's foreachBatch)
        Using.resource((primed match {
          case Some((evalSh, blob)) =>
            DedupOps.decontaminateBloomPrimed(batch, evalSh, blob, n)
          case None => DedupOps.decontaminate(batch, evalCached, n)
        }).persist()) { flagged =>
          if (!flagged.isEmpty)
            CheckpointStream.appendDiffs(flagged, sinkDir, batchId)
        }
      }
    val query =
      (if (availableNow) writer.trigger(Trigger.AvailableNow())
       else writer.trigger(Trigger.ProcessingTime("1 second"))).start()
    QueryCaches.releaseOnTermination(spark, query,
      evalCached +: primed.map(_._1).toSeq)
  }
}
