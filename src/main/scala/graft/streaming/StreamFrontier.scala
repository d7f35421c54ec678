package graft.streaming

import graft.CacheLifecycle.unpersistOnRelease
import graft.operators.{FeedOps, RobotsOps, SitemapOps}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import scala.util.Using

/** The streaming FRONTIER lane: q154's fetch scheduler run as a
  * discovery stream — URLs arrive in micro-batches and leave as a
  * politeness-bucketed, robots-gated, freshness-scored fetch schedule,
  * with PER-HOST STATE carrying the crawl ranks across batches.
  *
  * The crawler CONFIG is parquet DIMENSIONS at both grains — the lane
  * holds no config in driver memory or broadcasts (at web scale
  * |hosts| is 10⁷–10⁸ and even the rule-set Map is gigabytes):
  *   - HOST-grain (`buildHostMetaDim`): per host the robots rule set
  *     via `RobotsOps.parseRobots` (q141), its Crawl-delay, and the
  *     feed high-water mark via `FeedOps.parseFeed` (q149) — parsed on
  *     executors, equi-joined by h (the key the ranking window
  *     exchanges on anyway).
  *   - CORPUS-grain (`buildUrlAttrsDim`): the per-URL sitemap
  *     attributes via `SitemapOps.parseSitemapHost` (q145) — each
  *     host's tree parsed on executors, equi-joined by doc_id.
  *   Both publish once (first-write-wins) with no broadcast hint, so
  *   AQE broadcasts a small dim and shuffles a large one.
  *
  * Per micro-batch: discovered doc_ids join the sitemap dimension, the
  * robots evaluator gates each path, allowed URLs rank per host by
  * (priority DESC, lastmod DESC, doc_id) OFFSET by the host's running
  * counter, and bucket into fetch waves; disallowed rows keep rank −1
  * with the winning pattern (audit, never silent). URLs the sitemaps
  * don't know dead-letter to `rejectsDir` tagged `unknown_url`.
  *
  * PER-HOST STATE IS DISTRIBUTED end to end AND DELTA-WRITTEN: each
  * batch appends only its OWN allowed counts / admitted keys —
  * O(batch) bytes per trigger, never a rewrite of the full counter or
  * seen-set state (at 10⁸ hosts / 10⁹ seen URLs a whole-state rewrite
  * per trigger is the scale-killer). Every `compactEvery` batches the
  * deltas fold into a FULL generation (the only O(corpus) write,
  * amortized 1/K); reconstruction reads the latest full plus the ≤K
  * deltas after it. NO `collect()` anywhere on the state path,
  * generation discovery is ONE `listStatus` per family, and GC keeps
  * the latest full + its predecessor (the torn-batch replay anchor)
  * plus the deltas newer than that predecessor.
  *
  * ONLINE SEMANTICS, stated precisely: ranks are assigned in ARRIVAL
  * order batch-over-batch (the StreamCurate greedy-online form) — the
  * drained schedule equals batch q154 exactly when each host's URLs
  * arrive in its batch rank order (the spec feeds rank-banded chunks
  * to pin that contract).
  *
  * RECRAWL SEMANTICS: a cross-batch rediscovery whose effective
  * (lastmod, priority) match what the schedule already holds is a
  * NO-OP; one whose attributes changed (the feed may carry
  * lastmod_day / priority_tenths overrides beside doc_id — a sitemap
  * refresh) re-admits as a NEW fetch task at the host's next offset
  * rank. The seen-set is a second generation-keyed distributed state
  * beside the counters.
  *
  * Replay: state generations are KEYED BY BATCH (`deltas/batch_id=B`
  * holds batch B's delta; `batch_id=B` a compaction AFTER batch B) and
  * every write is first-write-wins (`appendDiffs`): a replayed batch
  * whose outputs committed skips them; a torn batch recomputes its
  * inputs from the intact full+delta chain (`_SUCCESS`-gated, so a
  * torn write is invisible). Batch 0's state depends on no prior
  * generation, so even a full from-scratch replay (fresh checkpoint)
  * reconverges to identical sinks.
  */
object StreamFrontier {

  /** Publish the HOST-grain dimension: per host the parsed robots rule
    * set (the real q141 parser), its `Crawl-delay` (group-selected
    * like the rules), and the feed publication high-water mark (the
    * real q149 parser) — parsed ON EXECUTORS and written once as
    * parquet `(h, rules, crawl_delay, host_max_pub)`. Even the
    * host-grain config never lives in driver memory or a broadcast: at
    * web scale |hosts| is 10⁷–10⁸ and a rule-set Map is gigabytes.
    */
  def buildHostMetaDim(
      spark: SparkSession, configDir: String, dimDir: String): Unit = {
    val dim = new Path(dimDir)
    val fs = dim.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new Path(dim, "_SUCCESS"))) return
    import spark.implicits._
    val robotsRe = "robots_h(\\d+)\\.txt".r
    val feedRe = "feed_h(\\d+)\\.xml".r
    spark.read.format("binaryFile").load(configDir)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (p, bytes) =>
        p.substring(p.lastIndexOf('/') + 1) match {
          case robotsRe(h) => Some((h.toLong, "robots", bytes))
          case feedRe(h) => Some((h.toLong, "feed", bytes))
          case _ => None
        }
      }
      .groupByKey(_._1)
      .mapGroups { (h, it) =>
        val items = it.toSeq
        val robots = items.collectFirst {
          case (_, "robots", b) => new String(b, "UTF-8")
        }
        val feed = items.collectFirst {
          case (_, "feed", b) => new String(b, "UTF-8")
        }
        val rules = robots.toSeq.flatMap(t =>
          RobotsOps.parseRobots(t, "GraftBot").map(r => (r.allow, r.pattern)))
        val delay = robots.flatMap(t => RobotsOps.crawlDelay(t, "GraftBot"))
          .getOrElse(1L)
        val maxPub = feed.map(x => FeedOps.parseFeed(s"h$h.example.test", x)
          .map(_.pub_day).foldLeft(-1L)(math.max)).getOrElse(-1L)
        (h, rules, delay, maxPub)
      }
      .toDF("h", "rules", "crawl_delay", "host_max_pub")
      .write.mode("overwrite").parquet(dimDir)
  }

  /** Publish the CORPUS-grain URL dimension: every host's sitemap tree
    * parsed ON EXECUTORS (the config files group by host; each group's
    * root resolves through its robots `Sitemap:` directive, falling
    * back to the conventional `/sitemap.xml`) into a parquet table
    * `(doc_id, h, path, lastmod_day, priority_tenths)`. First-write-
    * wins on `_SUCCESS`; a torn earlier attempt is overwritten whole.
    */
  def buildUrlAttrsDim(
      spark: SparkSession, configDir: String, dimDir: String): Unit = {
    val dim = new Path(dimDir)
    val fs = dim.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new Path(dim, "_SUCCESS"))) return
    import spark.implicits._
    val robotsRe = "robots_h(\\d+)\\.txt".r
    val sitemapRe = "sitemap_h(\\d+)_(.+)".r
    spark.read.format("binaryFile").load(configDir)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (p, bytes) =>
        // blob name "" marks the host's robots file; sitemap blobs
        // keep their tree-internal names (the index resolves by them)
        p.substring(p.lastIndexOf('/') + 1) match {
          case robotsRe(h) => Some((h.toLong, "", bytes))
          case sitemapRe(h, blob) => Some((h.toLong, blob, bytes))
          case _ => None
        }
      }
      .groupByKey(_._1)
      .flatMapGroups { (h, it) =>
        val items = it.toSeq
        val robots = items.collectFirst {
          case (_, "", b) => new String(b, "UTF-8")
        }
        val blobs = items.collect {
          case (_, n, b) if n.nonEmpty => n -> b
        }.toMap
        val root = robots.flatMap(t => RobotsOps.sitemapUrls(t).headOption)
          .map(u => u.substring(u.lastIndexOf('/') + 1))
          .getOrElse("sitemap.xml")
        SitemapOps.parseSitemapHost(s"h$h.example.test", blobs, root)
          .flatMap { u =>
            val pm = "example\\.test(/doc/\\d+)".r.findFirstMatchIn(u.loc)
            val id = "/doc/(\\d+)".r.findFirstMatchIn(u.loc)
              .map(_.group(1).toLong)
            (pm, id) match {
              case (Some(m), Some(docId)) =>
                Some((docId, h, m.group(1), u.lastmod_day, u.priority_tenths))
              case _ => None
            }
          }
          .iterator
      }
      .toDF("doc_id", "h", "path", "lastmod_day", "priority_tenths")
      .write.mode("overwrite").parquet(dimDir)
  }

  /** Committed state generations under `stateDir`: ONE directory
    * listing plus a `_SUCCESS` probe per retained generation (bounded
    * after GC) — never a probe per historical batch id.
    */
  private def stateGens(fs: FileSystem, stateDir: Path): Seq[Long] =
    if (!fs.exists(stateDir)) Nil
    else fs.listStatus(stateDir).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (st.isDirectory && n.startsWith("batch_id=") &&
          fs.exists(new Path(st.getPath, "_SUCCESS")))
        n.stripPrefix("batch_id=").toLongOption
      else None
    }

  /** Reconstruct the per-host COUNTER state after batch `upTo`: the
    * latest FULL generation ≤ upTo (a compaction) plus every DELTA
    * generation after it, summed by host. Per-batch writes are
    * O(batch), not O(|hosts|) — the delta discipline that survives a
    * long-running stream at web-host cardinality.
    */
  private def readCounters(
      sp: SparkSession, fs: FileSystem, stateDir: String,
      upTo: Long): DataFrame = {
    import sp.implicits._
    val base = stateGens(fs, new Path(stateDir)).filter(_ <= upTo)
      .sorted.lastOption
    val deltas = stateGens(fs, new Path(s"$stateDir/deltas"))
      .filter(g => g <= upTo && base.forall(g > _)).sorted
    val parts =
      base.map(g => sp.read.parquet(s"$stateDir/batch_id=$g")).toSeq ++
        deltas.map(g => sp.read.parquet(s"$stateDir/deltas/batch_id=$g"))
    if (parts.isEmpty) sp.emptyDataset[(Long, Long)].toDF("h", "n")
    else parts.reduce(_.unionByName(_))
      .groupBy(col("h")).agg(sum(col("n")).cast("long").as("n"))
  }

  /** Reconstruct the SEEN-SET after batch `upTo`: latest full ≤ upTo
    * plus the deltas after it, latest generation winning per doc_id
    * (a delta row overrides the attributes an earlier generation
    * recorded — the recrawl re-admission discipline).
    */
  private def readSeen(
      sp: SparkSession, fs: FileSystem, stateDir: String,
      upTo: Long): DataFrame = {
    import sp.implicits._
    val root = s"$stateDir/seen"
    val base = stateGens(fs, new Path(root)).filter(_ <= upTo)
      .sorted.lastOption
    val deltas = stateGens(fs, new Path(s"$root/deltas"))
      .filter(g => g <= upTo && base.forall(g > _)).sorted
    val parts =
      base.map(g => sp.read.parquet(s"$root/batch_id=$g")
        .withColumn("gen", lit(g))).toSeq ++
        deltas.map(g => sp.read.parquet(s"$root/deltas/batch_id=$g")
          .withColumn("gen", lit(g)))
    if (parts.isEmpty)
      sp.emptyDataset[(Long, Long, Long)]
        .toDF("doc_id", "lastmod_day", "priority_tenths")
    else parts.reduce(_.unionByName(_))
      .groupBy(col("doc_id"))
      .agg(max_by(struct(col("lastmod_day"), col("priority_tenths")),
        col("gen")).as("s"))
      .select(col("doc_id"), col("s.lastmod_day").as("lastmod_day"),
        col("s.priority_tenths").as("priority_tenths"))
  }

  /** GC one state family after a commit: keep the latest full and its
    * predecessor (the torn-batch replay anchor), and every delta newer
    * than that predecessor. Storage is ≤ 2 fulls + O(compactEvery)
    * deltas regardless of stream lifetime.
    */
  private def gcState(fs: FileSystem, fullDir: String): Unit = {
    val fulls = stateGens(fs, new Path(fullDir)).sorted
    fulls.dropRight(2).foreach { g =>
      fs.delete(new Path(s"$fullDir/batch_id=$g"), true); ()
    }
    fulls.dropRight(1).lastOption.foreach { anchor =>
      stateGens(fs, new Path(s"$fullDir/deltas")).filter(_ <= anchor)
        .foreach { g =>
          fs.delete(new Path(s"$fullDir/deltas/batch_id=$g"), true); ()
        }
    }
  }

  /** Start the lane: `sourceDir` rows carry discovered `doc_id`s. */
  def run(
      spark: SparkSession,
      sourceDir: String,
      checkpointDir: String,
      scheduleDir: String,
      stateDir: String,
      rejectsDir: String,
      configDir: String,
      waveSize: Int = 50,
      maxFilesPerTrigger: Int = 1,
      availableNow: Boolean = true,
      schemaHint: Option[StructType] = None,
      compactEvery: Int = 8): StreamingQuery = {
    // BOTH config grains are parquet dimensions parsed on executors —
    // the lane holds NO config in driver memory or broadcasts
    // (stateGens filters on the batch_id= prefix, so neither dim reads
    // as a state generation)
    val dimDir = s"$stateDir/urlattrs_dim"
    buildUrlAttrsDim(spark, configDir, dimDir)
    val hostDimDir = s"$stateDir/hostmeta_dim"
    buildHostMetaDim(spark, configDir, hostDimDir)
    val raw = spark.readStream
      .schema(schemaHint.getOrElse(spark.read.parquet(sourceDir).schema))
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(sourceDir)
    val writer = raw.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val sp = batch.sparkSession
        import sp.implicits._
        // a URL discovered twice in one batch schedules once. ACROSS
        // batches, RECRAWL SEMANTICS apply: a rediscovery whose
        // effective (lastmod, priority) equal what the schedule
        // already holds is a NO-OP; one whose attributes changed (a
        // sitemap refresh — the feed may carry lastmod_day /
        // priority_tenths overrides next to doc_id) re-admits and
        // re-ranks. The seen-set rides `seenDir` generations with the
        // counter state's exact discipline (distributed, listed once,
        // GC'd to latest+predecessor).
        val hasLm = batch.columns.contains("lastmod_day")
        val hasPrio = batch.columns.contains("priority_tenths")
        val discovered = batch.select(col("doc_id"),
          (if (hasLm) col("lastmod_day") else lit(null)).cast("long")
            .as("lm_override"),
          (if (hasPrio) col("priority_tenths") else lit(null)).cast("long")
            .as("prio_override"))
          .groupBy(col("doc_id"))
          .agg(max(col("lm_override")).as("lm_override"),
            max(col("prio_override")).as("prio_override"))
        val known = discovered
          .join(sp.read.parquet(dimDir), Seq("doc_id"), "left")
        val unknown = known.filter(col("h").isNull)
          .select(col("doc_id"), lit("unknown_url").as("reason"))
        if (!unknown.isEmpty)
          CheckpointStream.appendDiffs(unknown, rejectsDir, batchId)
        val statePath = new Path(stateDir)
        val fs = statePath.getFileSystem(sp.sparkContext.hadoopConfiguration)
        val prevSeen = readSeen(sp, fs, stateDir, batchId - 1)
        val candidates = known.filter(col("h").isNotNull)
          .select(col("doc_id"), col("h"), col("path"),
            coalesce(col("lm_override"), col("lastmod_day")).cast("long")
              .as("lastmod_day"),
            coalesce(col("prio_override"), col("priority_tenths")).cast("long")
              .as("priority_tenths"))
        val admitted = candidates
          .join(prevSeen
            .withColumnRenamed("lastmod_day", "seen_lm")
            .withColumnRenamed("priority_tenths", "seen_prio"),
            Seq("doc_id"), "left")
          .filter(col("seen_lm").isNull ||
            col("seen_lm") =!= col("lastmod_day") ||
            col("seen_prio") =!= col("priority_tenths"))
          .drop("seen_lm", "seen_prio")
        // robots verdicts via the real evaluator — the rule sets ride
        // the host-dim JOIN (h-keyed, the same key the ranking window
        // exchanges on), never a broadcast Map; a host absent from the
        // config keeps the defaults (no rules → allowed, 1 s delay,
        // no freshness mark)
        val gated = admitted
          .join(sp.read.parquet(hostDimDir), Seq("h"), "left")
          .select(col("doc_id"), col("h"), col("path"),
            col("lastmod_day"), col("priority_tenths"), col("rules"),
            col("crawl_delay"), col("host_max_pub"))
          .as[(Long, Long, String, Long, Long,
            Option[Seq[(Boolean, String)]], Option[Long], Option[Long])]
          .map { case (id, h, path, lm, prio, rulesOpt, delayOpt, hiOpt) =>
            val rules = rulesOpt.getOrElse(Nil)
              .map { case (a, p) => RobotsOps.RobotsRule(a, p) }
            val (allowed, rule) = RobotsOps.decide(rules, path)
            val hi = hiOpt.getOrElse(-1L)
            val delay = delayOpt.getOrElse(1L)
            (id, h, s"h$h.example.test", path, allowed, rule, lm, prio,
              hi - lm, delay)
          }
          .toDF("doc_id", "h", "host", "path", "allowed", "rule",
            "lastmod_day", "priority_tenths", "fresh_lag", "crawl_delay")
        // per-host running offsets: the state reconstructed from the
        // latest full generation + deltas, read back distributed (one
        // listing per family, never per-id probes)
        val prevState = readCounters(sp, fs, stateDir, batchId - 1)
        val rn = row_number().over(
          Window.partitionBy(col("h"), col("allowed"))
            .orderBy(col("priority_tenths").desc, col("lastmod_day").desc,
              col("doc_id")))
        // no broadcast hint on the offsets join: at spec scale AQE
        // broadcasts it; at web-host cardinality it shuffles by h —
        // the same key the ranking window already exchanged on
        Using.resource(gated
          .join(prevState.toDF("h", "host_offset"), Seq("h"), "left")
          .withColumn("rn", rn + coalesce(col("host_offset"), lit(0L)))
          .drop("host_offset")
          .select(col("doc_id"), col("h"), col("host"), col("path"),
            col("allowed"), col("rule"), col("lastmod_day"),
            col("priority_tenths"), col("fresh_lag"),
            when(col("allowed"), col("rn")).otherwise(lit(-1))
              .cast("long").as("crawl_rank"),
            when(col("allowed"), (col("rn") - 1) / waveSize + 1)
              .otherwise(lit(-1)).cast("long").as("fetch_wave"),
            col("crawl_delay").cast("long").as("crawl_delay"),
            // TIMED politeness (the q182 contract): the offset rank
            // carries fetch times across batches, so a host's k-th URL
            // EVER scheduled fetches at (k-1) x its Crawl-delay
            when(col("allowed"), (col("rn") - 1) * col("crawl_delay"))
              .otherwise(lit(-1)).cast("long").as("fetch_at_s"),
            when(col("allowed"), (col("rn") - 1) * col("crawl_delay") /
              graft.operators.FrontierOps.WaveSeconds + 1)
              .otherwise(lit(-1)).cast("long").as("time_wave"))
          .persist()) { scheduled =>
          if (!scheduled.isEmpty)
            CheckpointStream.appendDiffs(scheduled.drop("h"), scheduleDir, batchId)
          // state DELTA for this batch: the batch's own allowed counts
          // and admitted keys — O(batch) rows written per trigger, not
          // O(|hosts| + |seen URLs|); fully distributed, the driver
          // never materializes a counter
          val batchCounts = scheduled.filter(col("allowed"))
            .groupBy(col("h")).agg(count(lit(1)).cast("long").as("n"))
          CheckpointStream.appendDiffs(batchCounts, s"$stateDir/deltas", batchId)
          val admittedKeys = scheduled
            .select(col("doc_id"), col("lastmod_day"), col("priority_tenths"))
          CheckpointStream.appendDiffs(
            admittedKeys, s"$stateDir/seen/deltas", batchId)
          // COMPACTION every `compactEvery` batches: fold the deltas
          // into a full generation so reconstruction stays O(K) reads —
          // the only O(corpus) state write, amortized 1/K per batch
          if ((batchId + 1) % compactEvery == 0) {
            CheckpointStream.appendDiffs(
              readCounters(sp, fs, stateDir, batchId), stateDir, batchId)
            CheckpointStream.appendDiffs(
              readSeen(sp, fs, stateDir, batchId), s"$stateDir/seen", batchId)
          }
          // GC superseded generations of BOTH state families: keep each
          // latest full + its predecessor (the torn-batch replay
          // anchor) and the deltas newer than that predecessor
          gcState(fs, stateDir)
          gcState(fs, s"$stateDir/seen")
        }
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow())
     else writer.trigger(Trigger.ProcessingTime("1 second"))).start()
  }
}
