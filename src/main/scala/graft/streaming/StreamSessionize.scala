package graft.streaming

import graft.operators.SessionOps
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Continuous gap-sessionization — the STREAMING lane of the q33/q110/q111
  * session-analytics family, wired into the Pipeline beside the heavy-
  * hitter and profile lanes. Unlike `EventWindows.runSessions` (Spark's
  * native `session_window`, whose merge rule differs from q33's at
  * exactly-gap spacing), this lane implements q33's OWN boundary
  * convention — an event at gap ≤ `SessionOps.SessionGapUs` CONTINUES the
  * session — inside `flatMapGroupsWithState`, so drained streaming
  * sessions are IDENTICAL to the batch `sessionized` frame's rollups
  * (StreamSessionizeSpec pins the full sf-feed equality).
  *
  * State per user is the OPEN TAIL of that user's history: exactly the
  * events whose session could still be extended by an in-watermark
  * arrival. A session finalizes — emits and leaves state — once the
  * watermark passes `session_end + gap`: any event that could continue it
  * (ts ≤ end + gap) would be beyond-watermark late. Arrivals are buffered
  * and sorted at the gap split, so OUT-OF-ORDER delivery within the
  * watermark cannot change results (stronger than the funnel lane's
  * in-order-only contract); an arrival LATER than the watermark is
  * dropped by the stateful operator's late-row filter BEFORE the state
  * function sees it — deliberately engaged here by keeping the
  * watermark-tagged column in the operator's input (unlike
  * CheckpointStream, where pruning disables it), because dropping
  * beyond-watermark stragglers is exactly what makes the finalization
  * rule sound: a session closes only when every event that could still
  * extend it is guaranteed filtered. Eviction uses the
  * `EventTimeTimeout` clock (the
  * CheckpointStream discipline: timeout ≥ watermark + 1 ms always), so a
  * user idle past the gap emits their trailing session without needing
  * another event.
  *
  * Each finalized session appends ONCE to `outDir/batch_id=N` with its
  * (ts, event_id)-ordered `types` sequence — the grain q110's paths and
  * q111's baskets derive from; [[readSessions]] / [[readSessionPaths]]
  * are those derivations over the sink.
  */
object StreamSessionize {

  private[graft] case class SessEvent(
      user_id: Long, event_type: String, ts_us: Long, event_id: Long)

  /** (ts_us, event_id, event_type) of every open-tail event. */
  private[graft] case class SessState(events: Seq[(Long, Long, String)])

  private[graft] case class SessionRow(
      user_id: Long, session_start_us: Long, session_end_us: Long,
      n_events: Long, types: Seq[String])

  /** Pure per-user step: merge arrivals into the buffered tail, split by
    * q33's gap rule, finalize every session no in-watermark event can
    * extend. Returns (finalized sessions in start order, retained tail).
    */
  private[graft] def advance(
      userId: Long,
      buffered: Seq[(Long, Long, String)],
      arrivals: Seq[SessEvent],
      wmUs: Long,
      gapUs: Long): (Seq[SessionRow], Seq[(Long, Long, String)]) = {
    val all = (buffered ++ arrivals.map(e => (e.ts_us, e.event_id, e.event_type)))
      .distinct // replayed micro-batch defense: an event folds in once
      .sortBy(t => (t._1, t._2))
    if (all.isEmpty) return (Nil, Nil)
    val sessions = scala.collection.mutable.ArrayBuffer(
      scala.collection.mutable.ArrayBuffer(all.head))
    for (e <- all.tail) {
      if (e._1 - sessions.last.last._1 > gapUs)
        sessions += scala.collection.mutable.ArrayBuffer(e)
      else sessions.last += e
    }
    // sessions are in time order, so closable ones form a PREFIX: a
    // session closes when the watermark passed its end + gap
    val (closed, open) = sessions.partition(s => s.last._1 + gapUs < wmUs)
    (closed.toSeq.map { s =>
      SessionRow(userId, s.head._1, s.last._1, s.length.toLong,
        s.toSeq.map(_._3))
    }, open.flatten.toSeq)
  }

  private[graft] def sessionUpdates(
      events: Dataset[SessEvent], gapUs: Long): Dataset[SessionRow] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, it: Iterator[SessEvent], state: GroupState[SessState]) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val prev = state.getOption.map(_.events).getOrElse(Nil)
          val (done, open) = advance(userId, prev, it.toSeq, wmUs, gapUs)
          if (open.isEmpty) { if (state.exists) state.remove() }
          else {
            state.update(SessState(open))
            // wake when the trailing session becomes closable; always
            // strictly ahead of the current watermark (the contract)
            state.setTimeoutTimestamp(math.max(
              open.map(_._1).max / 1000L + gapUs / 1000L + 1L,
              state.getCurrentWatermarkMs() + 1L))
          }
          done.iterator
      }
  }

  def run(
      spark: SparkSession,
      sourceDir: String,
      checkpointDir: String,
      outDir: String,
      gapUs: Long = SessionOps.SessionGapUs,
      watermark: String = "30 minutes",
      maxFilesPerTrigger: Int = 1,
      availableNow: Boolean = true,
      schemaHint: Option[StructType] = None): StreamingQuery = {
    import spark.implicits._
    val raw = spark.readStream
      .schema(schemaHint.getOrElse(spark.read.parquet(sourceDir).schema))
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(sourceDir)
    // the watermark-tagged column must REMAIN in the stateful operator's
    // child output (EventTimeTimeout's analysis requirement) — ts_us rides
    // beside it and the extra column is simply not deserialized
    val events = raw
      .select(col("user_id"), col("event_type"), col("event_id"),
        timestamp_micros(graft.Tables.tsMicros(raw)).as("event_time"))
      .withWatermark("event_time", watermark)
      .withColumn("ts_us", unix_micros(col("event_time")))
      .as[SessEvent]
    val writer = sessionUpdates(events, gapUs).toDF().writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) CheckpointStream.appendDiffs(batch, outDir, batchId)
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow())
     else writer.trigger(Trigger.ProcessingTime("1 second"))).start()
  }

  /** All finalized sessions (each was appended exactly once). */
  def readSessions(spark: SparkSession, outDir: String): DataFrame = {
    val root = new Path(outDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(root), s"no session output under $outDir")
    spark.read.parquet(outDir)
      .select(col("user_id"), col("session_start_us"), col("session_end_us"),
        col("n_events"), col("types"))
  }

  /** q110's path analysis over the FINALIZED sessions: consecutive 3-step
    * event-type paths, global top-k via the BoundedTopK partial aggregate
    * — identical tail to the batch operator, so over a fully-drained feed
    * the two agree row-for-row.
    */
  def readSessionPaths(spark: SparkSession, outDir: String, k: Int = 20): DataFrame = {
    val paths = readSessions(spark, outDir)
      .select(col("types").as("seq"))
      .select(explode(expr(
        "filter(transform(sequence(1, size(seq)), i -> " +
          "CASE WHEN i + 2 <= size(seq) THEN " +
          "concat_ws('>', seq[i - 1], seq[i], seq[i + 1]) END), " +
          "p -> p IS NOT NULL)")).as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n"))
    paths
      .agg(graft.functions.BoundedTopK(
        struct(col("n").as("n"), col("path").as("path")), k).as("top"))
      .select(posexplode(col("top")))
      .select((col("pos") + 1).cast("long").as("rank"),
        col("col.path").as("path"), col("col.n").as("n"))
      .orderBy(col("rank"))
  }
}
