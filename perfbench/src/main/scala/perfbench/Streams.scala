package perfbench

/** Streaming and state layer metrics from the progress events of one
  * stream's main queries (the keyed merge) and its dead-letter twins.
  */
object Streams {
  def layerMetrics(all: Seq[ProgressLog.Batch], main: Set[String], deadLetter: Set[String]): Map[String, Double] = {
    val mb = all.filter(b => main(b.query) && b.inputRows > 0)
    def ms(b: ProgressLog.Batch, keys: String*) = keys.map(k => b.durations.getOrElse(k, 0L)).sum / 1000.0
    def p50(keys: String*) = Common.median(mb.map(ms(_, keys: _*)))
    val states = all.filter(b => main(b.query)).flatMap(b => b.state.map(b.query -> _))
    val lastPerQuery = all.filter(b => main(b.query)).groupBy(_.query).values.map(_.maxBy(_.batchId))
    Map(
      "streaming.batches" -> mb.size.toDouble,
      "streaming.trigger_p50_s" -> p50("triggerExecution"),
      "streaming.plan_s" -> p50("queryPlanning"),
      "streaming.source_s" -> p50("latestOffset", "getBatch"),
      "streaming.add_batch_s" -> p50("addBatch"),
      "streaming.commit_s" -> p50("walCommit", "commitOffsets"),
      "streaming.deadletter_s" -> all.filter(b => deadLetter(b.query))
        .map(ms(_, "triggerExecution")).sum,
      "streaming.rows_dropped" -> mb.map(_.dropped).sum.toDouble,
      "state.keys" -> lastPerQuery.flatMap(_.state).map(_.total).sum.toDouble,
      "state.keys_updated_per_batch" ->
        (if (mb.isEmpty) 0.0 else mb.flatMap(_.state).map(_.updated).sum.toDouble / mb.size),
      "state.evicted" -> states.map(_._2.removed).sum.toDouble,
      "state.memory_bytes" -> states.groupBy(_._1).values.map(_.map(_._2.memory).max).sum.toDouble,
      "state.store_commit_s" -> states.map(_._2.commitMs).sum / 1000.0)
  }

  /** Replay-derived layer metrics (see `Replay`). */
  def replayMetrics(rs: Seq[Replay.Result], diffBytes: Long, diffDocs: Long): Map[String, Double] = {
    val events = rs.map(_.events).sum.toDouble max 1.0
    val batches = rs.map(_.batches).sum.toDouble max 1.0
    Map(
      "state.merge_us_per_event" -> rs.map(_.mergeS).sum * 1e6 / events,
      "diff.compute_us_per_event" -> rs.map(_.diffS).sum * 1e6 / events,
      "diff.canonical_bytes_per_event" -> rs.map(_.canonicalBytes).sum / events,
      "diff.docs" -> diffDocs.toDouble,
      "diff.bytes_per_doc" -> (if (diffDocs == 0) 0.0 else diffBytes.toDouble / diffDocs),
      "streaming.upsert_buckets_per_batch" -> rs.map(_.bucketsTouched).sum / batches,
      "streaming.upsert_rows_rewritten_per_row_changed" ->
        rs.map(_.rowsRewritten).sum.toDouble / (rs.map(_.rowsChanged).sum.toDouble max 1.0))
  }

  /** Engine-wide counters of the traced work, per unit of work. */
  def sparkMetrics(c: SparkCounters, units: Int): Map[String, Double] = {
    val n = units.max(1).toDouble
    val t = c.total
    Map(
      "spark.jobs" -> t.jobs / n, "spark.stages" -> t.stages / n, "spark.tasks" -> t.tasks / n,
      "spark.executor_run_s" -> t.runMs / 1000.0 / n, "spark.shuffle_bytes" -> t.shuffleBytes / n,
      "spark.output_bytes" -> t.outputBytes / n, "spark.gc_s" -> t.gcMs / 1000.0 / n)
  }

  /** Wait until every named query's last committed batch has reported. */
  def awaitProgress(log: ProgressLog, ckpts: Seq[String]): Unit = {
    val deadline = System.nanoTime() + 10_000_000_000L
    def done = ckpts.forall { ck =>
      val commits = new java.io.File(s"$ck/commits").list()
      val last = Option(commits).getOrElse(Array.empty[String]).filter(_.forall(_.isDigit))
        .map(_.toLong).maxOption
      val id = Common.checkpointQueryId(ck)
      last.forall(l => log.all.exists(b => b.query == id && b.batchId >= l))
    }
    while (!done && System.nanoTime() < deadline) Thread.sleep(50)
  }
}
