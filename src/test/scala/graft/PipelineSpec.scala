package graft

import graft.io.ForkFreeLocalFileSystem
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** End-to-end lifecycle test: dual feeds (cdc + ide) + report enrichment →
  * enriched per-source session state, on sf0.001 events.
  */
class PipelineSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  /** Agents-shaped events re-shaped into the reference's
    * `ide_checkpoints` wire schema.
    */
  private def ideShaped(events: org.apache.spark.sql.DataFrame) =
    events.select(
      col("user_id").cast("string").as("thread_id"),
      concat(lit("prompt-"), col("event_id")).as("prompt_id"),
      col("user_id").cast("string").as("session_id"),
      col("ts").cast("string").as("checkpoint_ts"),
      col("event_id").cast("string").as("checkpoint_id"),
      encode(col("props"), "UTF-8").as("blob"),
      when(col("event_type") === "signup", lit("__start__"))
        .otherwise(col("event_type")).as("task_path"))

  test("full pipeline: dual feeds, backfill, enrichment, per-source sinks") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_pipeline_").toString
    val events = Tables.events(spark, "/root/testdata/sf0.001")

    // cdc feed: even users (agents wire shape); ide feed: odd users,
    // re-shaped into the reference's ide_checkpoints schema — the pipeline
    // must normalize BOTH wire shapes to the same engine rows
    events.filter(col("user_id") % 2 === 0)
      .coalesce(1).write.parquet(s"$base/feed_cdc/f0")
    ideShaped(events.filter(col("user_id") % 2 === 1))
      .coalesce(1).write.parquet(s"$base/feed_ide/f0")

    // one report drop for a known cdc session
    val someUser = events.filter(col("user_id") % 2 === 0)
      .select(min("user_id")).head.getLong(0)
    val reportDir = java.nio.file.Paths.get(base, "reports", someUser.toString)
    Files.createDirectories(reportDir)
    Files.writeString(reportDir.resolve("junit.xml"), "<testsuite/>")

    val out = Pipeline.run(spark, Pipeline.Config(
      cdcFeedDir = s"$base/feed_cdc/f*",
      ideFeedDir = Some(s"$base/feed_ide/f*"),
      reportDir = Some(s"$base/reports"),
      workDir = s"$base/work"))

    // every session landed under its own source tag (W1: no cross-writes)
    val crossed = out.filter(
      (col("source") === "cdc" && col("user_id") % 2 =!= 0) ||
        (col("source") === "ide" && col("user_id") % 2 =!= 1))
    assert(crossed.isEmpty, crossed.limit(5).collect().mkString(", "))
    val nBySource = out.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(nBySource.getOrElse("cdc", 0L) > 0 && nBySource.getOrElse("ide", 0L) > 0,
      nBySource.toString)

    // state parity: the pipeline's session rows == a direct batch backfill
    val viaPipeline = out.select("user_id", "task_id", "event_id", "ts_us", "payload", "seq")
    val viaBatch = graft.streaming.CheckpointStream.backfill(spark, events).toDF()
      .select("user_id", "task_id", "event_id", "ts_us", "payload", "seq")
    assert(viaPipeline.exceptAll(viaBatch).isEmpty &&
      viaBatch.exceptAll(viaPipeline).isEmpty)

    // D13 end-to-end: both feeds persisted their diff documents, and every
    // diff row carries well-formed wire JSON with its sequence number
    for (diffDir <- Seq(s"$base/work/diffs_cdc", s"$base/work/diffs_ide")) {
      val diffs = spark.read.parquet(diffDir)
      assert(diffs.count() > 0, s"$diffDir is empty")
      val bad = diffs.filter(
        get_json_object(col("diff_json"), "$.sequenceNumber") =!= col("seq") ||
          get_json_object(col("diff_json"), "$.diffData").isNull)
      assert(bad.isEmpty, bad.limit(3).collect().mkString(", "))
    }

    // the report landed as ctx on its session, stamped seq+1
    val ctxRows = out.filter(col("user_id") === someUser)
      .select(col("seq"), explode(col("ctx")).as("c")).collect()
    assert(ctxRows.nonEmpty)
    assert(ctxRows.forall(r =>
      r.getStruct(1).getString(0) == s"$someUser:junit.xml" &&
        r.getStruct(1).getInt(2) == r.getInt(0) + 1))
    // read-once: the report source dir is gone
    assert(!Files.exists(reportDir))
  }

  test("empty-at-start IDE feed: both IDE queries run under the hinted schema, no misread") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_pipeline_empty_ide_").toString
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    events.filter(col("user_id") % 7 === 0)
      .coalesce(1).write.parquet(s"$base/feed_cdc/f0")
    // the IDE feed dir EXISTS but holds no files when the run starts — the
    // sniffing fallback would guess the agents shape here; both the main
    // IDE query and its dead-letter twin must use the explicit hint
    Files.createDirectories(java.nio.file.Paths.get(base, "feed_ide"))
    val out = Pipeline.run(spark, Pipeline.Config(
      cdcFeedDir = s"$base/feed_cdc/f*",
      ideFeedDir = Some(s"$base/feed_ide"),
      reportDir = None,
      workDir = s"$base/work"))
    assert(out.filter(col("source") === "cdc").count() > 0)
    assert(out.filter(col("source") === "ide").count() == 0)
    // nothing was quarantined from an empty feed
    val q = new java.io.File(s"$base/work/quarantine_ide")
    assert(!q.exists || q.listFiles.forall(f => f.getName.startsWith("_")))
  }

  test("malformed agents rows on the primary CDC feed land in quarantine_cdc with reasons") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_pipeline_dl_cdc_").toString
    // one valid row + one malformed per two of the agents validity rules —
    // the composed lifecycle (not just runDeadLetter in isolation) must
    // quarantine them
    Seq(
      (Option(1L), Option(1000L), Option(10L), Option("click"), Option(1.0), Option("""{"a":1}""")),
      (Option(2L), Option(1001L), Option(11L), Option("click"), Option(1.0), None: Option[String]),
      (Option(3L), None: Option[Long], Option(12L), Option("click"), Option(1.0), Option("y")))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", expr("timestamp_micros(ts)"))
      .coalesce(1).write.parquet(s"$base/feed_cdc/f0")
    val out = Pipeline.run(spark, Pipeline.Config(
      cdcFeedDir = s"$base/feed_cdc/f*",
      ideFeedDir = None,
      reportDir = None,
      workDir = s"$base/work"))
    // the valid row sessionized; the dropped rows are recoverable, original
    // wire columns intact, each under its own rule's reason tag
    assert(out.filter(col("user_id") === 10L).count() > 0)
    val q = spark.read.parquet(s"$base/work/quarantine_cdc")
      .select("event_id", "reason")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(q == Map(2L -> "null_props", 3L -> "bad_ts"), q)
  }

  test("near-dup guard runs in the lifecycle; maintenance GCs its index by retention") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_pipeline_nd_").toString
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    events.filter(col("user_id") % 11 === 0)
      .coalesce(1).write.parquet(s"$base/feed_cdc/f0")
    // three single-doc micro-batches (mtime-ordered), mutually distinct
    val texts = Seq(
      1L -> "alpha beta gamma delta epsilon",
      2L -> "one two three four five",
      3L -> "red green blue yellow purple")
    texts.zipWithIndex.foreach { case ((id, t), i) =>
      Seq((id, t)).toDF("doc_id", "text").coalesce(1).write.parquet(s"$base/docs/c$i")
      val d = new java.io.File(s"$base/docs/c$i")
      (d +: d.listFiles.toSeq).foreach(_.setLastModified(1700000000000L + i * 60000L))
    }
    // image feed beside the documents feed: a PNG, then a byte-disjoint
    // BMP twin of it (exact flag), then an unrelated image
    val iw = 12; val ih = 10
    val rgbPx = Array.tabulate(iw * ih * 3)(i => ((i * 7 + 3) % 256).toByte)
    val bgrPx = rgbPx.grouped(3).flatMap(t => Seq(t(2), t(1), t(0))).toArray
    val imgChunks = Seq(
      Seq(1L -> graft.operators.MultimodalOps.encodePng(iw, ih, rgbPx)),
      Seq(2L -> graft.operators.MultimodalOps.encodeBmp(iw, ih, bgrPx)),
      Seq(3L -> graft.operators.MultimodalOps.encodePngConst(5, 5, 9, 8, 7)))
    imgChunks.zipWithIndex.foreach { case (chunk, i) =>
      chunk.toDF("asset_id", "payload").coalesce(1).write.parquet(s"$base/imgs/c$i")
      val d = new java.io.File(s"$base/imgs/c$i")
      (d +: d.listFiles.toSeq).foreach(_.setLastModified(1700000000000L + i * 60000L))
    }
    Pipeline.run(spark, Pipeline.Config(
      cdcFeedDir = s"$base/feed_cdc/f*",
      ideFeedDir = None,
      reportDir = None,
      workDir = s"$base/work",
      docFeedDir = Some(s"$base/docs/c*"),
      nearDupKeepBatches = Some(2),
      imageFeedDir = Some(s"$base/imgs/c*"),
      imageDupKeepBatches = Some(2)))
    // the image guard ran in the lifecycle: the cross-container twin is
    // flagged exact against the standing index, and post-drain retention
    // kept the newest two signature generations
    val imgFlags = graft.streaming.StreamImageDedup
      .readFlags(spark, s"$base/work/image_dup_flags")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(imgFlags == Set((2L, 1L, "exact")), s"image flags: $imgFlags")
    val imgGens = new java.io.File(s"$base/work/image_index").listFiles
      .map(_.getName).filter(_.startsWith("batch_id=")).sorted.toSeq
    assert(imgGens == Seq("batch_id=1", "batch_id=2"), s"image index gens: $imgGens")
    // post-drain maintenance dropped the oldest generation, in lockstep
    for (part <- Seq("bands", "sets")) {
      val dirs = new java.io.File(s"$base/work/neardup_index/$part").listFiles
        .map(_.getName).filter(_.startsWith("batch_id=")).sorted.toSeq
      assert(dirs == Seq("batch_id=1", "batch_id=2"), s"$part: $dirs")
    }
    // the retained window still guards: a copy of the KEPT doc is flagged,
    // a copy of the GC'd doc goes undetected (the windowed trade)
    val probeDocs = Seq(
      (10L, "alpha beta gamma delta epsilon"), // == doc 1, aged out
      (11L, "red green blue yellow purple")) // == doc 3, retained
      .toDF("doc_id", "text")
    val flags = graft.streaming.StreamNearDup
      .probeIndex(spark, s"$base/work/neardup_index", probeDocs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(flags == Set((11L, 3L)), s"probe saw $flags")
    // the streaming length profile ran in the same lifecycle: three
    // single-file micro-batches published generations 0..2 (snapshot per
    // batch), retention kept the newest two, and the current snapshot
    // equals the batch profile of everything fed (lang-less feed → one
    // corpus-wide "all" group)
    val profDirs = new java.io.File(s"$base/work/doc_profile").listFiles
      .map(_.getName).filter(_.matches("gen_\\d+")).sorted.toSeq
    assert(profDirs == Seq("gen_1", "gen_2"), s"profile generations: $profDirs")
    val gotProfile = graft.streaming.StreamStats
      .readProfile(spark, s"$base/work/doc_profile")
      .collect().map(_.toString).toSeq
    val wantProfile = graft.streaming.StreamStats.lengthProfile(
      texts.toDF("doc_id", "text").select(lit("all").as("lang"), col("text")))
      .collect().map(_.toString).toSeq
    assert(gotProfile.nonEmpty && gotProfile == wantProfile,
      s"profile snapshot diverged:\ngot  $gotProfile\nwant $wantProfile")
    // the vocabulary sketch lane published beside it, and its current
    // snapshot equals the batch sketch of everything fed (bit-for-bit:
    // the HLL panel is a pure max-merge)
    val gotVocab = graft.streaming.StreamStats
      .readProfile(spark, s"$base/work/vocab_profile")
      .collect().map(_.toString).toSeq
    val wantVocab = graft.streaming.StreamStats.vocabSketch(
      texts.toDF("doc_id", "text").select(lit("all").as("lang"), col("text")))
      .collect().map(_.toString).toSeq
    assert(gotVocab.nonEmpty && gotVocab == wantVocab,
      s"vocab snapshot diverged:\ngot  $gotVocab\nwant $wantVocab")
  }

  test("curation front door runs in the lifecycle under a non-default LSH geometry") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_pipeline_cur_").toString
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    events.filter(col("user_id") % 17 === 0)
      .coalesce(1).write.parquet(s"$base/feed_cdc/f0")
    // docs: a low-quality reject, a near-dup pair (later one must drop),
    // an eval-contaminated doc, and a clean survivor
    val eval = Seq((100L, "held out benchmark question about graph theory"))
      .toDF("doc_id", "text")
    eval.coalesce(1).write.parquet(s"$base/eval")
    val docs = Seq(
      1L -> "tiny", // quality reject (too few tokens)
      2L -> "the quick brown fox jumps over the lazy dog every single day",
      3L -> "the quick brown fox jumps over the lazy dog every single day", // near-dup of 2
      4L -> "contains the held out benchmark question about graph theory verbatim", // decontam hit
      5L -> "a perfectly ordinary clean document with plenty of distinct words here",
      // LM reject: passes quality (12 distinct tokens) and shares nothing
      // with the eval set, but NO bigram appears in the reference model
      6L -> (1 to 12).map(j => s"zx${j}qq").mkString(" "))
    docs.zipWithIndex.foreach { case ((id, t), i) =>
      Seq((id, t)).toDF("doc_id", "text").coalesce(1).write.parquet(s"$base/docs/c$i")
      val d = new java.io.File(s"$base/docs/c$i")
      (d +: d.listFiles.toSeq).foreach(_.setLastModified(1700000000000L + i * 60000L))
    }
    // reference model corpus = docs 1-5's texts: the familiar docs (incl.
    // the decontam hit, which must still reach stage 2) score above the
    // floor; the gibberish doc 6 scores zero
    docs.take(5).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$base/lm_ref")
    val guard = Pipeline.GuardConfig(
      minhashK = 32, bands = 8, rowsPerBand = 4, bandBuckets = 8, setsBuckets = 16)
    val cfg = Pipeline.Config(
      cdcFeedDir = s"$base/feed_cdc/f*",
      ideFeedDir = None,
      reportDir = None,
      workDir = s"$base/work",
      docFeedDir = Some(s"$base/docs/c*"),
      guard = guard,
      curation = Some(Pipeline.CurationConfig(evalDir = s"$base/eval", minTokens = 5,
        lmRefDir = Some(s"$base/lm_ref"))),
      // batch 2 files per trigger: the dup pair (docs 2, 3) then crosses a
      // batch boundary — the knob flows through AND cross-batch guard
      // semantics hold under backlog batching
      docMaxFilesPerTrigger = 2)
    Pipeline.run(spark, cfg)
    // survivors: 2 (earliest of the dup pair) and 5; each drop in its sink
    val curated = spark.read.parquet(s"$base/work/curated")
      .select("doc_id").as[Long].collect().toSet
    assert(curated == Set(2L, 5L), s"curated: $curated")
    // rejects: 1 by the quality rules, 6 by the LM gate — each tagged
    val rej = spark.read.parquet(s"$base/work/curation_rejects")
      .select("doc_id", "reason").as[(Long, String)].collect().toMap
    assert(rej.keySet == Set(1L, 6L), s"rejects: $rej")
    assert(rej(6L) == "low_lm_familiarity", rej(6L))
    // every quality survivor got an LM verdict; only 6 scored zero hits
    val lm = spark.read.parquet(s"$base/work/curation_lm")
      .select("doc_id", "n_hits").as[(Long, Long)].collect().toMap
    assert(lm.keySet == Set(2L, 3L, 4L, 5L, 6L), s"lm sink: $lm")
    assert(lm(6L) == 0L && lm.removed(6L).values.forall(_ > 0L), s"lm sink: $lm")
    assert(spark.read.parquet(s"$base/work/curation_decontam")
      .filter(col("overlap_bp") > 0).select("doc_id").as[Long].collect().toSet == Set(4L))
    assert(spark.read.parquet(s"$base/work/neardup_flags")
      .select("doc_id", "dup_of").as[(Long, Long)].collect().toSet == Set((3L, 2L)))
    // the manifest pinned the CONFIGURED geometry, not the defaults
    val mf = Files.readString(
      java.nio.file.Paths.get(s"$base/work/neardup_index/_lsh.json"))
    assert(mf.contains("\"minhashK\":32") && mf.contains("\"bands\":8") &&
      mf.contains("\"bandBuckets\":8") && mf.contains("\"setsBuckets\":16"), mf)
    // a second lifecycle run under the same config resumes cleanly (the
    // knobs flow back to the manifest check); a drifted geometry refuses
    Pipeline.run(spark, cfg)
    val ex = intercept[IllegalStateException] {
      Pipeline.run(spark, cfg.copy(guard = guard.copy(bandBuckets = 4)))
    }
    assert(ex.getMessage.contains("LSH parameters"), ex.getMessage)
  }

  test("embedding feeder runs in the lifecycle; maintenance folds its deltas") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_pipeline_emb_").toString
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    events.filter(col("user_id") % 13 === 0)
      .coalesce(1).write.parquet(s"$base/feed_cdc/f0")
    // two embedding micro-batches (mtime-ordered)
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val mid = emb.count() / 2
    // batch 1 additionally carries an exact copy of a batch-0 vector under
    // a fresh id — the embedding guard must flag it against the standing
    // index when the lifecycle enables the guard
    val dupRow = emb.filter(col("vec_id") === 1L)
      .withColumn("vec_id", lit(999999L))
    for ((part, i) <- Seq(
        (emb.filter(col("vec_id") <= mid), 0),
        (emb.filter(col("vec_id") > mid).unionByName(dupRow), 1))) {
      part.coalesce(1).write.parquet(s"$base/emb/c$i")
      val d = new java.io.File(s"$base/emb/c$i")
      (d +: d.listFiles.toSeq).foreach(_.setLastModified(1700000000000L + i * 60000L))
    }
    Pipeline.run(spark, Pipeline.Config(
      cdcFeedDir = s"$base/feed_cdc/f*",
      ideFeedDir = None,
      reportDir = None,
      workDir = s"$base/work",
      embFeedDir = Some(s"$base/emb/c*"),
      embed = Pipeline.EmbedConfig(dupThreshold = Some(0.95), dupNprobe = 16),
      embedFoldMinDeltas = Some(1)))
    // the guard flagged the planted duplicate against the standing index
    val flags = spark.read.parquet(s"$base/work/embed_dup_flags")
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("dup_of")).toMap
    assert(flags.get(999999L).contains(1L),
      s"planted duplicate not flagged by the lifecycle guard: $flags")
    // maintenance folded the delta generation into a retrained base
    val idx = s"$base/work/embed_index"
    assert(graft.operators.SimilarityOps.unfoldedDeltaCount(spark, idx) == 0)
    assert(new java.io.File(s"$idx/_folded.json").exists, "fold watermark missing")
    // the folded index answers probes over the FULL accumulated corpus
    val queries = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("qv"))
    val hits = graft.operators.SimilarityOps
      .annTopKIvfIndexed(spark, idx, queries, 5, nprobe = 16)
    assert(hits.count() > 0)
    // vectors from BOTH batches are reachable (second batch arrived as a
    // delta before the fold)
    assert(hits.filter(col("vec_id") > mid).count() > 0,
      "post-fold probe never surfaces second-batch vectors")
  }

  test("session-analytics lane runs in the lifecycle; finalized sessions land in sessions/") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_pipeline_sess_").toString
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    events.filter(col("user_id") % 11 === 0)
      .coalesce(1).write.parquet(s"$base/feed_cdc/f0")
    // events feed: two real chunks + a far-future sentinel that advances
    // the watermark past every session's end + gap so they all finalize
    val hr = 3600L * 1000000L
    val t0 = 1700L * 1000000L * 1000000L
    val chunks = Seq(
      Seq((1L, "click", t0, 1L), (1L, "view", t0 + hr, 2L),
        (2L, "signup", t0 + 2 * hr, 3L)),
      Seq((1L, "purchase", t0 + 30 * hr, 4L), (2L, "click", t0 + 3 * hr, 5L)),
      Seq((-1L, "click", t0 + 1000 * hr, 6L)))
    chunks.zipWithIndex.foreach { case (chunk, i) =>
      chunk.toDF("user_id", "event_type", "t", "event_id")
        .select(col("user_id"), col("event_type"),
          timestamp_micros(col("t")).as("ts"), col("event_id"))
        .coalesce(1).write.parquet(s"$base/events/c$i")
      val d = new java.io.File(s"$base/events/c$i")
      (d +: d.listFiles.toSeq).foreach(_.setLastModified(1700000000000L + i * 60000L))
    }
    Pipeline.run(spark, Pipeline.Config(
      cdcFeedDir = s"$base/feed_cdc/f*",
      ideFeedDir = None,
      reportDir = None,
      workDir = s"$base/work",
      eventsFeedDir = Some(s"$base/events/c*")))
    // user 1: 29 h gap splits two sessions; user 2: one 2-event session;
    // the sentinel's own session stays open and never reaches the sink
    val sessions = graft.streaming.StreamSessionize
      .readSessions(spark, s"$base/work/sessions")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getSeq[String](4))).toSet
    assert(sessions == Set(
      (1L, t0, t0 + hr, 2L, Seq("click", "view")),
      (1L, t0 + 30 * hr, t0 + 30 * hr, 1L, Seq("purchase")),
      (2L, t0 + 2 * hr, t0 + 3 * hr, 2L, Seq("signup", "click"))),
      s"sessions: $sessions")
  }

  test("a drain of more feed files per trigger than Spark's listing threshold starts no listing job") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_pipeline_listing_").toString
    val key = Pipeline.ListingThresholdKey
    val perTrigger = Pipeline.FeedFilesPerTrigger
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    // a full first trigger of one-row files, one session each (> 32 feed
    // paths, and > 32 sink buckets after its upsert) ...
    spark.sparkContext
      .parallelize((0 until perTrigger).map(i => i -> i.toLong), perTrigger)
      .partitionBy(new org.apache.spark.HashPartitioner(perTrigger)).values
      .map(i => (i, i * 1000L, 100L + i, "click", 1.0, s"""{"i":$i}"""))
      .toDF(cols: _*).withColumn("ts", expr("timestamp_micros(ts)"))
      .write.parquet(s"$base/feed_cdc/a")
    // ... and a later file revisiting one of them, so the second batch's
    // upsert reads the occupied sink back
    Seq((999L, 999000L, 100L, "click", 1.0, """{"i":999}"""))
      .toDF(cols: _*).withColumn("ts", expr("timestamp_micros(ts)"))
      .coalesce(1).write.parquet(s"$base/feed_cdc/b")
    val t0 = System.currentTimeMillis() - 60000L
    for ((dir, t) <- Seq("a" -> t0, "b" -> (t0 + 10000L));
         f <- new java.io.File(s"$base/feed_cdc/$dir").listFiles
         if f.getName.endsWith(".parquet"))
      assert(f.setLastModified(t))

    val descriptions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(descriptions.add)
    }
    val callerValue = spark.conf.get(key)
    // the run also scopes the filesystem keys: the caller's values come
    // back whether the caller had set them or not
    val (cacheKey, implKeys) = ForkFreeLocalFileSystem.confKeys.map(_._1)
      .partition(_ == "fs.file.impl.disable.cache")
    def restored(set: Seq[(String, String)], unset: Seq[String]): Unit = {
      set.foreach { case (k, v) => assert(spark.conf.getOption(k).contains(v), k) }
      // getOption would report a registered key's default
      unset.foreach(k => assert(!spark.conf.getAll.contains(k), k))
    }
    spark.conf.set(cacheKey.head, "false")
    implKeys.foreach(spark.conf.unset)
    // and the state-store provider: the run's queries use RocksDB whatever
    // the caller set, and the caller gets its own value back
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val hdfsProvider =
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
    spark.conf.set(providerKey, hdfsProvider)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = Pipeline.run(spark, Pipeline.Config(
        cdcFeedDir = s"$base/feed_cdc/*",
        ideFeedDir = None,
        reportDir = None,
        workDir = s"$base/work"))
      assert(spark.conf.get(key) == callerValue)
      restored(Seq(cacheKey.head -> "false", providerKey -> hdfsProvider), implKeys)
      assert(out.select("user_id").distinct().count() == perTrigger)
      // the listener bus is FIFO: once this job's start is seen, every
      // job the run started has been seen too
      spark.sparkContext.setJobDescription("graft-listing-marker")
      try spark.range(1).count() finally spark.sparkContext.setJobDescription(null)
      val deadline = System.currentTimeMillis() + 30000L
      while (!descriptions.contains("graft-listing-marker") &&
          System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(descriptions.contains("graft-listing-marker"))
    } finally spark.sparkContext.removeSparkListener(listener)
    val commits = new java.io.File(s"$base/work/ckpt_cdc/commits").listFiles
      .count(_.getName.forall(_.isDigit))
    assert(commits == 2, s"expected two micro-batches, got $commits")
    val offsets = Files.readString(java.nio.file.Paths.get(s"$base/work/ckpt_cdc/offsets/0"))
    assert(offsets.contains("RocksDBStateStoreProvider"), offsets)
    val buckets = new java.io.File(s"$base/work/sink_cdc").listFiles
      .count(_.getName.startsWith("bucket="))
    assert(buckets > 32, s"only $buckets sink buckets: the upsert read lists too few dirs")
    import scala.jdk.CollectionConverters._
    val listings = descriptions.asScala.filter(_.startsWith("Listing leaf files and directories"))
    assert(listings.isEmpty, listings.mkString("\n"))

    // a run that throws restores the caller's values as well
    val callerImpls = implKeys.zip(Seq(
      "org.apache.hadoop.fs.LocalFileSystem", "org.apache.hadoop.fs.local.LocalFs"))
    spark.conf.set(key, "40")
    callerImpls.foreach { case (k, v) => spark.conf.set(k, v) }
    spark.conf.unset(cacheKey.head)
    spark.conf.unset(providerKey)
    try {
      intercept[Exception] {
        Pipeline.run(spark, Pipeline.Config(
          cdcFeedDir = s"$base/no_such_feed",
          ideFeedDir = None,
          reportDir = None,
          workDir = s"$base/work_failed"))
      }
      assert(spark.conf.get(key) == "40")
      restored(callerImpls, cacheKey :+ providerKey)
    } finally {
      spark.conf.set(key, callerValue)
      spark.conf.unset(providerKey)
      ForkFreeLocalFileSystem.confKeys.foreach { case (k, _) => spark.conf.unset(k) }
    }
  }

  test("a drain starts no chmod or readlink process") {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val base = Files.createTempDirectory("graft_pipeline_forks_").toString
    // 16 sessions of 5 events each, 2024 timestamps
    val events = (0 until 80).map { i =>
      (i.toLong, 1704067200000000L + i * 1000000L, 100L + i % 16,
        if (i < 16) "signup" else "click", 1.0, s"""{"i":$i}""")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", expr("timestamp_micros(ts)"))
    events.filter(col("user_id") % 2 === 0).coalesce(1).write.parquet(s"$base/feed_cdc/f0")
    ideShaped(events.filter(col("user_id") % 2 === 1))
      .coalesce(1).write.parquet(s"$base/feed_ide/f0")
    val recording = new jdk.jfr.Recording()
    recording.enable("jdk.ProcessStart")
    val jfr = java.nio.file.Paths.get(base, "drain.jfr")
    recording.start()
    try {
      // the recorder's positive control: one process it must see
      assert(new ProcessBuilder("true").start().waitFor() == 0)
      Pipeline.run(spark, Pipeline.Config(
        cdcFeedDir = s"$base/feed_cdc/f*",
        ideFeedDir = Some(s"$base/feed_ide/f*"),
        reportDir = None,
        workDir = s"$base/work"))
    } finally {
      recording.stop()
      recording.dump(jfr)
      recording.close()
    }
    val commands = jdk.jfr.consumer.RecordingFile.readAllEvents(jfr).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(_.getString("command")).toSeq
    assert(commands.contains("true"), commands.mkString("\n"))
    val forks = commands.filter(c => c.startsWith("chmod") || c.startsWith("readlink"))
    assert(forks.isEmpty, s"${forks.size} forks, e.g.\n${forks.take(5).mkString("\n")}")
    // and the drain did its work
    assert(spark.read.parquet(s"$base/work/sessions_enriched").count() > 0)
  }

  test("curation without a documents feed throws before any query starts") {
    val base = Files.createTempDirectory("graft_pipeline_noqueries_").toString
    Tables.events(spark, "/root/testdata/sf0.001").limit(10)
      .coalesce(1).write.parquet(s"$base/feed_cdc/f0")
    try {
      intercept[IllegalArgumentException] {
        Pipeline.run(spark, Pipeline.Config(
          cdcFeedDir = s"$base/feed_cdc/f*",
          ideFeedDir = None,
          reportDir = None,
          workDir = s"$base/work",
          curation = Some(Pipeline.CurationConfig(evalDir = s"$base/eval"))))
      }
      assert(spark.streams.active.isEmpty,
        spark.streams.active.map(_.id).mkString(", "))
    } finally spark.streams.active.foreach(_.stop())
  }

  test("diff maintenance folds only committed batches and applies the retention window") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_pipeline_gc_").toString
    val ckpt = s"$base/ckpt"
    val diffs = s"$base/diffs"
    def diffBatch(ids: Seq[Long]) =
      ids.map(i => (i, i.toInt, i * 10, i * 100000, s"""{"d":$i}"""))
        .toDF("user_id", "seq", "event_id", "ts_us", "diff_json")
    // three batch dirs (ts_us 0.1/0.2s, 0.3s, 0.4s); the commit log says
    // only batches 0 and 1 are committed — batch 2 must not be folded even
    // though its dir exists (a restarted query may replay it)
    graft.streaming.CheckpointStream.appendDiffs(diffBatch(Seq(1L, 2L)), diffs, 0)
    graft.streaming.CheckpointStream.appendDiffs(diffBatch(Seq(3L)), diffs, 1)
    graft.streaming.CheckpointStream.appendDiffs(diffBatch(Seq(4L)), diffs, 2)
    Files.createDirectories(java.nio.file.Paths.get(ckpt, "commits"))
    Files.writeString(java.nio.file.Paths.get(ckpt, "commits", "0"), "v1")
    Files.writeString(java.nio.file.Paths.get(ckpt, "commits", "1"), "v1")
    // the retention anchor (newest ts_us) is a footer-statistics read:
    // MAX must be pushed into the scan under the maintenance helper
    graft.sources.FooterStats.withAggregatePushdown(spark) { s =>
      val df = s.read.parquet(diffs).agg(max(col("ts_us")))
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("PushedAggregation") && plan.contains("MAX"),
        s"MAX(ts_us) not pushed to the diff-sink scan:\n$plan")
    }
    // newest event in the sink is ts_us=400000; a 150 ms window keeps
    // rows at or after 250000µs — id 3 survives the fold, ids 1/2 expire
    Pipeline.maintainDiffSink(spark, ckpt, diffs,
      Some(java.time.Duration.ofMillis(150)))
    val dirs = new java.io.File(diffs).listFiles.map(_.getName)
      .filter(_.startsWith("batch_id=")).sorted.toSeq
    assert(dirs == Seq("batch_id=-2", "batch_id=2"), dirs)
    assert(spark.read.parquet(diffs).select("user_id")
      .collect().map(_.getLong(0)).toSet == Set(3L, 4L))
    // no commit log → maintenance is a safe no-op
    Pipeline.maintainDiffSink(spark, s"$base/nockpt", diffs, None)
    assert(spark.read.parquet(diffs).count() == 2)
    // re-running maintenance when nothing has aged out must NOT rewrite
    // the consolidated generation (cost would otherwise grow with total
    // sink size on every run)
    def filesOf(name: String) =
      new java.io.File(diffs, name).listFiles.map(_.getName).toSet
    val before = filesOf("batch_id=-2")
    Pipeline.maintainDiffSink(spark, ckpt, diffs,
      Some(java.time.Duration.ofMillis(150)))
    assert(filesOf("batch_id=-2") == before,
      "no-expiry maintenance rewrote the consolidated generation")
    // and after every in-range row ages out, the sink empties without
    // crashing later maintenance runs (existing-but-empty dir path)
    Pipeline.maintainDiffSink(spark, ckpt, diffs,
      Some(java.time.Duration.ZERO.plusNanos(1000)))
    val left = new java.io.File(diffs).listFiles.map(_.getName)
      .filter(_.startsWith("batch_id=")).toSeq
    assert(left == Seq("batch_id=2"), left)
    Pipeline.maintainDiffSink(spark, ckpt, diffs,
      Some(java.time.Duration.ofMillis(1)))
    assert(new java.io.File(diffs).listFiles.map(_.getName)
      .count(_.startsWith("batch_id=")) <= 1)
  }
}
