package perfbench

import graft.Pipeline
import graft.sources.Enrichment
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** cdc_backfill: drain the whole seeded backlog (agents + IDE feeds, a
  * report dir for enrichment, planted malformed rows) through
  * `Pipeline.run`, again and again on fresh work dirs until the measuring
  * time is up (two drains at least). Set-up is the session start plus one
  * untimed drain of the first few files of each feed.
  *
  * Traced runs follow `Schedule`: after one warm drain, untraced and
  * traced drains alternate, and the wall-time difference between a traced
  * drain and its untraced neighbours is the tracing overhead.
  */
object Backfill {
  private val Ckpts = Seq("ckpt_cdc", "ckpt_ide", "ckpt_cdc_dl", "ckpt_ide_dl")

  def run(ctx: Ctx, spark: SparkSession, log: ProgressLog, tracer: Tracer, t0: Long,
      out: Outcome): Unit = {
    val counts = ctx.counts
    val feedRows = counts("agent_rows") + counts("ide_rows")
    val sc = spark.sparkContext
    val counters = new SparkCounters(tracer)

    def drain(i: Int, in: String = ctx.input): Map[String, Any] = {
      val dir = s"${ctx.work}/drain$i"
      Common.copyTree(s"$in/reports", s"$dir/reports")
      val startMs = Clock.ms
      val t = System.nanoTime()
      tracer.span("streaming.pipeline_run", "streaming", s"drain$i") {
        Pipeline.run(spark, Pipeline.Config(
          cdcFeedDir = s"$in/feed_cdc", ideFeedDir = Some(s"$in/feed_ide"),
          reportDir = Some(s"$dir/reports"), workDir = s"$dir/w"))
      }
      val wall = Common.secondsSince(t)
      val endMs = Clock.ms
      val ids = Ckpts.map(c => c -> Common.checkpointQueryId(s"$dir/w/$c")).toMap
      // which batch read each feed file, for the runner's latency samples
      val batchOf = Seq("cdc", "ide").map(f => f -> Replay.sourceLog(s"$dir/w/ckpt_$f")).toMap
      Map("dir" -> dir, "start_ms" -> startMs, "end_ms" -> endMs, "wall_s" -> wall,
        "events" -> feedRows, "queries" -> ids, "batch_of" -> batchOf)
    }

    // warm-up: the same lifecycle over the first few files of each feed
    val warm = s"${ctx.work}/warm"
    for (d <- Seq("feed_cdc", "feed_ide", "reports"))
      Common.listSorted(s"${ctx.input}/$d").take(4).foreach { f =>
        Common.copyTree(s"${ctx.input}/$d/$f", s"$warm/$d/$f")
      }
    out.attempt("warm-up drain") { drain(0, warm); true }
    out.raw("setup_s") = Common.secondsSince(t0)
    out.mark("setup")
    out.raw("calibration_s") = Common.calibration()

    val drains = mutable.ArrayBuffer.empty[Map[String, Any]]
    val traced = mutable.Set.empty[Int]
    val deadline = System.nanoTime() + ctx.seconds * 1_000_000_000L
    var i = 1
    // a floor of two drains keeps the median from switching between one and
    // two samples
    while (!Schedule.done(ctx.trace, drains.size, System.nanoTime() >= deadline)) {
      val on = Schedule.traced(ctx.trace, drains.size)
      tracer.enabled = on
      if (on) sc.addSparkListener(counters)
      out.attempt(s"drain $i") { drains += drain(i); true }
      if (on) { sc.removeSparkListener(counters); traced += i }
      tracer.enabled = false
      i += 1
    }
    out.raw("drains") = drains.toSeq
    out.mark("measured")

    // output checks on the last drain: E1 == E2 per feed, row accounting
    val last = drains.last
    val w = s"${last("dir")}/w"
    Streams.awaitProgress(log, Ckpts.map(c => s"$w/$c"))
    Common.streamMatchesReplay(spark, s"${ctx.input}/feed_cdc", s"$w/sink_cdc", s"$w/diffs_cdc", out, "cdc")
    Common.streamMatchesReplay(spark, s"${ctx.input}/feed_ide", s"$w/sink_ide", s"$w/diffs_ide", out, "ide")
    val ids = last("queries").asInstanceOf[Map[String, String]]
    val main = Set(ids("ckpt_cdc"), ids("ckpt_ide"))
    val dropped = log.all.filter(b => main(b.query)).map(_.dropped).sum
    val quarantined = Common.rows(spark, s"$w/quarantine_cdc") + Common.rows(spark, s"$w/quarantine_ide")
    out.attempt(s"rows dropped ($dropped) = quarantined ($quarantined) = planted (${counts("malformed")})") {
      dropped == quarantined && quarantined == counts("malformed")
    }
    out.attempt("every sink row is enriched") {
      Common.rows(spark, s"$w/sessions_enriched") ==
        Common.rows(spark, s"$w/sink_cdc") + Common.rows(spark, s"$w/sink_ide")
    }
    val stored = Seq("sink_cdc", "sink_ide", "diffs_cdc", "diffs_ide", "quarantine_cdc",
      "quarantine_ide") ++ Ckpts
    out.raw("stored_bytes") = stored.map(d => Common.du(s"$w/$d")).sum
    out.raw("input_bytes") = Common.du(s"${ctx.input}/feed_cdc") + Common.du(s"${ctx.input}/feed_ide")
    out.raw("batches") = log.all.map(b => Map("query" -> b.query, "batch" -> b.batchId,
      "seen_ms" -> b.seenMs, "rows" -> b.inputRows))

    if (ctx.trace) layers(ctx, spark, log, tracer, counters, drains.toSeq, traced.toSet, out)
  }

  private def layers(ctx: Ctx, spark: SparkSession, log: ProgressLog, tracer: Tracer,
      counters: SparkCounters, drains: Seq[Map[String, Any]], traced: Set[Int],
      out: Outcome): Unit = {
    def idx(d: Map[String, Any]) = d("dir").toString.stripPrefix(s"${ctx.work}/drain").toInt
    val d = drains.filter(x => traced(idx(x))).last
    val w = s"${d("dir")}/w"
    val ids = d("queries").asInstanceOf[Map[String, String]]
    val main = Set(ids("ckpt_cdc"), ids("ckpt_ide"))
    val dl = Set(ids("ckpt_cdc_dl"), ids("ckpt_ide_dl"))
    val postDrain = drains.filter(x => traced(idx(x))).map { x =>
      val qs = x("queries").asInstanceOf[Map[String, String]].values.toSet
      val ends = log.terminated.asScala.collect { case (q, ms) if qs(q) => ms }
      (x("end_ms").asInstanceOf[Double] - ends.maxOption.getOrElse(x("end_ms").asInstanceOf[Double])) / 1000.0
    }
    tracer.enabled = true
    val replays = Seq("cdc", "ide").map { f =>
      Replay.run(spark, s"${ctx.input}/feed_$f", s"$w/ckpt_$f", s"$w/sink_$f", tracer, f)
    }
    val enrichS = enrich(ctx, spark, w, tracer)
    tracer.enabled = false
    val diffDocs = Common.rows(spark, s"$w/diffs_cdc") + Common.rows(spark, s"$w/diffs_ide")
    val diffBytes = Common.du(s"$w/diffs_cdc") + Common.du(s"$w/diffs_ide")
    out.layers ++= Streams.layerMetrics(log.all, main, dl)
    out.layers ++= Streams.replayMetrics(replays, diffBytes, diffDocs)
    out.layers ++= Streams.sparkMetrics(counters, traced.size)
    out.layers ++= Map(
      "streaming.post_drain_s" -> Common.median(postDrain),
      "streaming.diff_files" -> (Common.dataFiles(s"$w/diffs_cdc") + Common.dataFiles(s"$w/diffs_ide")).toDouble,
      "streaming.rows_quarantined" ->
        (Common.rows(spark, s"$w/quarantine_cdc") + Common.rows(spark, s"$w/quarantine_ide")).toDouble,
      "state.checkpoint_bytes" -> Seq("ckpt_cdc", "ckpt_ide").map(c => Common.du(s"$w/$c")).sum.toDouble,
      "sources.enrich_s" -> enrichS,
      "sources.report_files" -> ctx.counts("report_files").toDouble,
      "trace.overhead_ratio" -> Schedule.overhead(drains.map(_("wall_s").asInstanceOf[Double]).toIndexedSeq))
  }

  /** Time the enrichment layer alone: read-once report ingest on a fresh
    * copy of the report dir, attached to the drained sessions.
    */
  private def enrich(ctx: Ctx, spark: SparkSession, w: String, tracer: Tracer): Double = {
    val dir = s"${ctx.work}/enrich"
    Common.copyTree(s"${ctx.input}/reports", s"$dir/reports")
    val sessions = spark.read.parquet(s"$w/sink_cdc")
      .withColumn("session_id", col("user_id").cast("string"))
    val t = System.nanoTime()
    tracer.span("sources.enrich", "sources") {
      val reports = Enrichment.ingestReportsDistributed(spark, s"$dir/reports", s"$dir/archive")
      Enrichment.attachContext(sessions, reports).write.format("noop").mode("overwrite").save()
    }
    Common.secondsSince(t)
  }
}
