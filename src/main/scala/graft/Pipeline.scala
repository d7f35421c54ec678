package graft

import scala.util.control.NonFatal

import graft.io.ForkFreeLocalFileSystem
import graft.operators.SimilarityOps
import graft.sources.{Enrichment, SchemaInit}
import graft.streaming.{CheckpointStream, StreamCurate, StreamEmbedIndex, StreamImageDedup, StreamNearDup, StreamSessionize, StreamStats}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.streaming.StreamingQuery

/** The composed engine lifecycle (SURVEY §3, reference
  * `config/CdcSubscriberConfig.kickstart` E2→E1): schema init → dual-feed
  * stateful merge stream (backlog files = backfill) → report enrichment
  * attach → keyed sink. This is the single entry point a user of the
  * reference service would run instead.
  *
  * Two feeds mirror the reference's agents + IDE subscriptions; each sinks
  * into its own directory so content stays per-source (fixing reference
  * wart W1, where IDE content overwrote the CDC column). BOTH feeds run a
  * dead-letter twin: every wire row the normalizer drops is quarantined
  * with its reason tag, so feed loss is counted AND recoverable. An
  * optional documents feed runs the ingest near-dup guard
  * (`StreamNearDup`) — or, with a `CurationConfig`, the full quality →
  * decontamination → guard front door (`StreamCurate`) — under a
  * configurable LSH geometry, and an optional embeddings feed runs the
  * streaming ANN index feeder (`StreamEmbedIndex`); both standing indexes
  * are maintained (retention GC / delta fold-retrain) in the same
  * post-drain maintenance block as the diff sinks. The documents feed also
  * maintains the streaming exact length profile (`StreamStats`) and the
  * vocabulary-cardinality HLL panel: rename-published snapshots per
  * micro-batch under `<workDir>/doc_profile` and `<workDir>/vocab_profile`.
  */
object Pipeline {

  /** LSH geometry + physical layout of the documents feed's standing
    * near-dup index. The `_lsh.json` manifest pins whatever values the
    * index is CREATED under for its lifetime (band keys from different
    * geometries are incomparable; the bucketed file layout depends on the
    * bucket counts), so a deployment that needs a non-default threshold or
    * band geometry must be able to say so through the composed lifecycle —
    * these knobs flow into `StreamNearDup.run` / `StreamCurate.run`
    * verbatim. Changing them against an existing index fails loudly at
    * manifest verification, exactly as calling the components directly
    * would.
    */
  final case class GuardConfig(
      threshold: Double = 0.9,
      minhashK: Int = 48,
      bands: Int = 16,
      rowsPerBand: Int = 3,
      bandBuckets: Int = StreamNearDup.DefaultBandBuckets,
      setsBuckets: Int = StreamNearDup.DefaultSetsBuckets)

  /** Opt-in for the FULL curation front door on the documents feed:
    * quality filter → benchmark decontamination (against the eval-set
    * parquet at `evalDir`) → standing near-dup guard, with survivors in
    * `<workDir>/curated` and every drop auditable (quality rejects /
    * decontam verdicts / near-dup flags). Without this, the documents
    * feed runs the bare guard only.
    */
  final case class CurationConfig(
      evalDir: String,
      minTokens: Int = 10,
      minDistinctPct: Int = 30,
      shingleN: Int = 5,
      /** Contamination tolerance in basis points of a doc's distinct
        * shingles (q57's metric): docs with `overlap_bp` at or below this
        * survive. 0 = q40's strict any-shared-shingle rule.
        */
      maxOverlapBp: Int = 0,
      /** Opt-in LM-familiarity gate (q92's scoring): a documents-shaped
        * parquet to train the reference bigram model on; docs whose
        * average per-bigram familiarity falls below `minLmPerBigram`
        * (1e-6 units) are rejected with the `low_lm_familiarity` tag and
        * all scores land in `<workDir>/curation_lm`.
        */
      lmRefDir: Option[String] = None,
      minLmPerBigram: Long = 1L)

  /** Quantizer shape for the embeddings feed's standing IVF index. The
    * base is trained under these on the FIRST batch (and every fold
    * retrain keeps the index's own K), so they flow through the composed
    * lifecycle rather than being reachable only by calling
    * `StreamEmbedIndex` directly.
    */
  final case class EmbedConfig(
      nClusters: Int = 16,
      lloydIters: Int = 2,
      trainSampleMod: Int = 1,
      /** Enable the embedding near-dup GUARD on the feed: arriving vectors
        * whose cosine against an EARLIER vector (standing index or
        * lower-id same-batch) reaches `dupThreshold` are flagged into
        * `<workDir>/embed_dup_flags` (greedy earliest-arrival — the
        * embedding-space mirror of the documents guard). `dupNprobe`
        * bounds the probe like every IVF read; set it to `nClusters`
        * for an exhaustive guard.
        */
      dupThreshold: Option[Double] = None,
      dupNprobe: Int = 12)

  final case class Config(
      cdcFeedDir: String,
      ideFeedDir: Option[String],
      reportDir: Option[String],
      workDir: String,
      /** Event-time retention window for the diff sinks: diffs whose event
        * is older than (newest diff − window) are pruned during the
        * post-drain compaction. None keeps full history (compaction only).
        */
      diffRetention: Option[java.time.Duration] = None,
      /** Optional documents feed (doc_id, text) for the ingest near-dup
        * guard: every arriving document is LSH-checked against everything
        * ingested before it, flags land in `<workDir>/neardup_flags`, and
        * the standing index lives in `<workDir>/neardup_index`.
        */
      docFeedDir: Option[String] = None,
      /** Retention for the near-dup guard's standing index, in committed
        * micro-batch generations: post-drain maintenance drops older
        * generations (near-dups against their documents go undetected — the
        * windowed trade). None keeps the full index.
        */
      nearDupKeepBatches: Option[Int] = None,
      /** LSH geometry/layout for the documents feed's standing index —
        * pinned by the index manifest at creation, so set it HERE (not by
        * bypassing the lifecycle) when the defaults don't fit the corpus.
        */
      guard: GuardConfig = GuardConfig(),
      /** Run the full curation composition (quality → decontam → guard)
        * on the documents feed instead of the bare guard. Requires
        * `docFeedDir`.
        */
      curation: Option[CurationConfig] = None,
      /** Files per micro-batch on the documents feed. Each micro-batch
        * pays the guard's fixed costs (candidate join, marker protocol,
        * one index generation), so a large backfill should batch like the
        * CDC feeds do (`FeedFilesPerTrigger`) rather than paying that per
        * file; the default stays 1 — one generation per arrival file, the
        * finest replay and GC granularity — because the right value is a
        * deployment choice between generation granularity and backlog
        * throughput.
        */
      docMaxFilesPerTrigger: Int = 1,
      /** Files per micro-batch on the embeddings feed — same trade as
        * `docMaxFilesPerTrigger` (each batch is one delta generation; the
        * FIRST batch additionally trains the base, so backfills batching
        * more files into it also train on a broader sample).
        */
      embMaxFilesPerTrigger: Int = 1,
      /** Optional embeddings feed (vec_id, embedding) for the streaming
        * ANN index feeder: vectors become searchable as they arrive; the
        * standing index lives in `<workDir>/embed_index`.
        */
      embFeedDir: Option[String] = None,
      /** Optional IMAGE feed (asset_id, payload) for the streaming image
        * dedup guard: arriving images are checked against everything
        * ingested before them — exact (decoded-pixel digest, container-
        * blind) and near (perceptual dHash, survives lossy re-encoding) —
        * with flags in `<workDir>/image_dup_flags` and the signature
        * index in `<workDir>/image_index`.
        */
      imageFeedDir: Option[String] = None,
      /** Retention for the image guard's signature index, in committed
        * batch generations (the documents guard's windowed trade). None
        * keeps the full index.
        */
      imageDupKeepBatches: Option[Int] = None,
      /** Files per micro-batch on the image feed — one generation per
        * arrival file by default, like the documents feed.
        */
      imgMaxFilesPerTrigger: Int = 1,
      /** Quantizer shape for the embeddings feed's standing index (cluster
        * count / Lloyd iterations / training sample modulus) — the embed
        * counterpart of `guard`: fixed when the first batch trains the
        * base, so the composed lifecycle must be able to say it up front.
        */
      embed: EmbedConfig = EmbedConfig(),
      /** Fold (compact + retrain) the embedding index post-drain once at
        * least this many unfolded delta generations have accumulated.
        * None never folds from the lifecycle.
        */
      embedFoldMinDeltas: Option[Int] = None,
      /** Optional EVENTS feed (user_id, event_type, ts, event_id) for the
        * streaming session-analytics lane: gap-sessionization with q33's
        * exact boundary rule in `flatMapGroupsWithState`, finalized
        * sessions (with their ordered event-type sequences — q110/q111's
        * grain) appended under `<workDir>/sessions`.
        */
      eventsFeedDir: Option[String] = None,
      /** Files per micro-batch on the events feed. */
      eventsMaxFilesPerTrigger: Int = 1)

  /** Offline diff-sink maintenance, run once the stream is drained: fold
    * the per-micro-batch dirs at or below the LAST COMMITTED batch id
    * (read from the streaming checkpoint's commit log — exactly the
    * precondition `compactDiffs` demands, since a restarted query never
    * replays a committed batch) and apply the retention window relative
    * to the newest event time in the sink.
    */
  private[graft] def maintainDiffSink(
      spark: SparkSession, checkpointDir: String, diffDir: String,
      retention: Option[java.time.Duration]): Unit = {
    val hconf = spark.sessionState.newHadoopConf()
    val commits = new org.apache.hadoop.fs.Path(s"$checkpointDir/commits")
    val cfs = commits.getFileSystem(hconf)
    if (!cfs.exists(commits)) return
    val last = cfs.listStatus(commits).map(_.getPath.getName)
      .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong)
      .reduceOption(_ max _)
    if (last.isEmpty || !CheckpointStream.hasBatches(hconf, diffDir)) return
    // newest event time via footer statistics: MAX(ts_us) answers from
    // row-group metadata under the V2 aggregate pushdown — the retention
    // anchor costs O(row-groups), not a sink scan (plan pinned in
    // PipelineSpec)
    val cutoff = retention.flatMap { d =>
      val row = graft.sources.FooterStats.withAggregatePushdown(spark) { s =>
        s.read.parquet(diffDir).agg(max(col("ts_us"))).head
      }
      if (row.isNullAt(0)) None else Some(row.getLong(0) - d.toMillis * 1000L)
    }
    CheckpointStream.compactDiffs(spark, diffDir, last.get,
      retainRowsNewerThanUs = cutoff)
  }

  /** Files each CDC feed query and its dead-letter twin take per
    * micro-batch. A generous bound batches the backlog: one file per
    * micro-batch would re-read and rewrite the touched buckets per file.
    */
  private[graft] val FeedFilesPerTrigger = 64

  private[graft] val ListingThresholdKey =
    "spark.sql.sources.parallelPartitionDiscovery.threshold"

  /** Run the full lifecycle until the available backlog is drained
    * (Trigger.AvailableNow on both feeds), then attach enrichment context
    * and return the final enriched session DataFrame (also written to
    * `<workDir>/sessions_enriched`). The per-update diff documents (D13 —
    * the reference's `checkpointDiffs` accumulation) land in
    * `<workDir>/diffs_cdc` / `<workDir>/diffs_ide` as the streams run.
    *
    * The session conf carries run-scoped settings, set before any query
    * starts (streaming queries copy the session conf when they start) and
    * put back to the caller's values, set or unset, however the run ends:
    *  - Spark lists more paths than `parallelPartitionDiscovery.threshold`
    *    (default 32) with a distributed job of one task per path, each
    *    task decoding the whole Hadoop conf. Every micro-batch hands the
    *    listing up to `FeedFilesPerTrigger` feed files, and its upsert up
    *    to `SinkBuckets` bucket dirs, so the threshold is raised to that
    *    bound and the listing stays on the driver.
    *  - `file:` is the fork-free local filesystem
    *    (`graft.io.ForkFreeLocalFileSystem`): without libhadoop, Hadoop's
    *    own starts a `chmod` process per created file or dir and a
    *    `readlink` process per checkpoint rename.
    *  - session state lives off-heap in RocksDB: the default store holds
    *    every session's full state on the JVM heap, which a keyed-state
    *    stream of unbounded sessions cannot afford. A new checkpoint
    *    records the provider and keeps it for its lifetime, whatever the
    *    session resuming it sets.
    */
  def run(spark: SparkSession, config: Config): DataFrame = {
    val perBatchPaths = math.max(FeedFilesPerTrigger, CheckpointStream.SinkBuckets)
    val scoped = Seq(
      ListingThresholdKey ->
        math.max(perBatchPaths, spark.conf.get(ListingThresholdKey).toInt).toString,
      SQLConf.STATE_STORE_PROVIDER_CLASS.key ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") ++
      ForkFreeLocalFileSystem.confKeys
    val callerConf = spark.conf.getAll // the keys set, without defaults
    val caller = scoped.map { case (k, _) => k -> callerConf.get(k) }
    scoped.foreach { case (k, v) => spark.conf.set(k, v) }
    try drain(spark, config)
    finally caller.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def drain(spark: SparkSession, config: Config): DataFrame = {
    require(config.curation.isEmpty || config.docFeedDir.isDefined,
      "curation requires a documents feed (docFeedDir)")
    val cdcSink = s"${config.workDir}/sink_cdc"
    val ideSink = s"${config.workDir}/sink_ide"

    // S8: sinks exist with the right schema before any writer runs
    SchemaInit.ensureSinkTable(spark, cdcSink)
    config.ideFeedDir.foreach(_ => SchemaInit.ensureSinkTable(spark, ideSink))

    // every query is stopped if a later start or any await throws, so a
    // failed drain leaves nothing running
    val started = scala.collection.mutable.ArrayBuffer.empty[StreamingQuery]
    def start(q: StreamingQuery): Unit = started += q
    var drained = false
    try {
      // E2≡E1: pre-existing feed files are the backfill; the same stateful
      // stream handles them and any late-arriving files
      start(CheckpointStream.run(
        spark, config.cdcFeedDir, s"${config.workDir}/ckpt_cdc", cdcSink,
        maxFilesPerTrigger = FeedFilesPerTrigger,
        diffDir = Some(s"${config.workDir}/diffs_cdc")))
      // the IDE feed's shape is known by contract — pass it explicitly so an
      // empty-at-start directory is never misread under the agents schema
      config.ideFeedDir.foreach(dir => start(
        CheckpointStream.run(spark, dir, s"${config.workDir}/ckpt_ide", ideSink,
          maxFilesPerTrigger = FeedFilesPerTrigger,
          diffDir = Some(s"${config.workDir}/diffs_ide"),
          schemaHint = Some(CheckpointStream.ideSchema))))
      // malformed wire rows on EITHER feed are counted (graft_events_feed /
      // graft_ide_feed metrics) AND recoverable: each feed gets a dead-letter
      // query quarantining the dropped originals with reason tags — silent
      // row loss on the primary CDC feed is as unacceptable as on the IDE one
      start(CheckpointStream.runDeadLetter(spark, config.cdcFeedDir,
        s"${config.workDir}/ckpt_cdc_dl", s"${config.workDir}/quarantine_cdc",
        maxFilesPerTrigger = FeedFilesPerTrigger))
      // same shape-hint rule as the main IDE query: an empty-at-start dir
      // must never be sniffed as the agents shape
      config.ideFeedDir.foreach(dir => start(
        CheckpointStream.runDeadLetter(spark, dir,
          s"${config.workDir}/ckpt_ide_dl", s"${config.workDir}/quarantine_ide",
          maxFilesPerTrigger = FeedFilesPerTrigger,
          schemaHint = Some(CheckpointStream.ideSchema))))
      // documents feed: either the FULL curation front door (quality →
      // decontam → guard, survivors in curated/, every drop auditable) or
      // the bare near-dup guard — in both cases under the configured LSH
      // geometry, which the index manifest pins from here on
      val g = config.guard
      config.docFeedDir.foreach { dir =>
        start(config.curation match {
          case Some(cur) =>
            StreamCurate.run(spark, dir, s"${config.workDir}/ckpt_neardup",
              s"${config.workDir}/curated", s"${config.workDir}/neardup_flags",
              s"${config.workDir}/curation_decontam",
              s"${config.workDir}/curation_rejects",
              s"${config.workDir}/neardup_index",
              evalSet = spark.read.parquet(cur.evalDir),
              minTokens = cur.minTokens, minDistinctPct = cur.minDistinctPct,
              shingleN = cur.shingleN, maxOverlapBp = cur.maxOverlapBp,
              threshold = g.threshold,
              minhashK = g.minhashK, bands = g.bands,
              rowsPerBand = g.rowsPerBand,
              maxFilesPerTrigger = config.docMaxFilesPerTrigger,
              bandBuckets = g.bandBuckets, setsBuckets = g.setsBuckets,
              lmModel = cur.lmRefDir.map(d => graft.operators.SearchOps
                .lmWeights(spark.read.parquet(d))),
              minLmPerBigram = cur.minLmPerBigram,
              lmDir = s"${config.workDir}/curation_lm")
          case None =>
            StreamNearDup.run(spark, dir, s"${config.workDir}/ckpt_neardup",
              s"${config.workDir}/neardup_flags",
              s"${config.workDir}/neardup_index",
              threshold = g.threshold, minhashK = g.minhashK, bands = g.bands,
              rowsPerBand = g.rowsPerBand,
              maxFilesPerTrigger = config.docMaxFilesPerTrigger,
              bandBuckets = g.bandBuckets, setsBuckets = g.setsBuckets)
        })
      }
      // streaming corpus profile (q73's exact-histogram twin) over the SAME
      // documents feed the guard consumes: one complete-mode snapshot per
      // micro-batch, rename-published under <workDir>/doc_profile — the
      // standing "what does the ingested corpus look like right now"
      // artifact next to the guard's flags (state is one histogram row per
      // language, bounded by the token-count domain, never stream length)
      config.docFeedDir.foreach(dir => start(
        StreamStats.run(spark, dir, s"${config.workDir}/ckpt_profile",
          s"${config.workDir}/doc_profile",
          maxFilesPerTrigger = config.docMaxFilesPerTrigger)))
      // standing vocabulary-cardinality sketch next to the length profile:
      // the q97 HLL panel per language, one 256-byte state row each
      config.docFeedDir.foreach(dir => start(
        StreamStats.runVocab(spark, dir, s"${config.workDir}/ckpt_vocab",
          s"${config.workDir}/vocab_profile",
          maxFilesPerTrigger = config.docMaxFilesPerTrigger)))
      // streaming image dedup guard over the optional image feed: exact
      // (decoded digest) + near (dHash) flags against the standing
      // signature index — the multimodal mirror of the documents guard
      config.imageFeedDir.foreach(dir => start(
        StreamImageDedup.run(spark, dir, s"${config.workDir}/ckpt_imgdup",
          s"${config.workDir}/image_dup_flags", s"${config.workDir}/image_index",
          maxFilesPerTrigger = config.imgMaxFilesPerTrigger)))
      // streaming ANN index feeder over the optional embeddings feed:
      // vectors searchable as they arrive (LSM base + delta generations)
      config.embFeedDir.foreach(dir => start(
        StreamEmbedIndex.run(spark, dir, s"${config.workDir}/ckpt_embed",
          s"${config.workDir}/embed_index",
          nClusters = config.embed.nClusters,
          lloydIters = config.embed.lloydIters,
          trainSampleMod = config.embed.trainSampleMod,
          maxFilesPerTrigger = config.embMaxFilesPerTrigger,
          dupFlagsDir = config.embed.dupThreshold
            .map(_ => s"${config.workDir}/embed_dup_flags"),
          dupThreshold = config.embed.dupThreshold.getOrElse(0.9),
          dupNprobe = config.embed.dupNprobe)))
      // streaming session analytics over the optional events feed: q33's
      // gap rule as standing state, finalized sessions appended once each
      config.eventsFeedDir.foreach(dir => start(
        StreamSessionize.run(spark, dir, s"${config.workDir}/ckpt_sessions",
          s"${config.workDir}/sessions",
          maxFilesPerTrigger = config.eventsMaxFilesPerTrigger)))
      started.foreach(_.awaitTermination())
      drained = true
    } finally if (!drained) started.foreach { q =>
      try q.stop() catch { case NonFatal(_) => () }
    }

    // diff-sink maintenance: fold the per-batch dirs and apply retention
    // (the storage-side twin of the state store's idle eviction)
    maintainDiffSink(spark, s"${config.workDir}/ckpt_cdc",
      s"${config.workDir}/diffs_cdc", config.diffRetention)
    config.ideFeedDir.foreach(_ => maintainDiffSink(spark,
      s"${config.workDir}/ckpt_ide", s"${config.workDir}/diffs_ide",
      config.diffRetention))
    // near-dup index retention: runs strictly post-drain (the guard query
    // above has terminated — gcIndex's no-active-writer discipline)
    for (_ <- config.docFeedDir; keep <- config.nearDupKeepBatches)
      StreamNearDup.gcIndex(spark, s"${config.workDir}/neardup_index", keep)
    // image-guard index retention, same post-drain no-active-writer rule
    for (_ <- config.imageFeedDir; keep <- config.imageDupKeepBatches)
      StreamImageDedup.gcIndex(spark, s"${config.workDir}/image_index", keep)
    // embedding-index fold (compaction + retrain), same no-active-writer
    // discipline: only once enough delta generations accumulated
    for (_ <- config.embFeedDir; minDeltas <- config.embedFoldMinDeltas) {
      val idx = s"${config.workDir}/embed_index"
      if (SimilarityOps.unfoldedDeltaCount(spark, idx) >= minDeltas)
        SimilarityOps.foldIvfDeltas(spark, idx)
    }

    // sessions from both feeds, tagged per source (W1: never merged);
    // the sink's physical `bucket` partition column is dropped here
    val sinkCols = Seq("user_id", "task_id", "event_id", "ts_us", "payload", "seq")
    val cdc = spark.read.parquet(cdcSink)
      .select(sinkCols.map(col): _*).withColumn("source", lit("cdc"))
    val sessions = config.ideFeedDir match {
      case Some(_) =>
        cdc.unionByName(spark.read.parquet(ideSink)
          .select(sinkCols.map(col): _*).withColumn("source", lit("ide")))
      case None => cdc
    }

    // S5 + D12: read-once report ingest (distributed — content never
    // touches the driver), ctx left-joined onto sessions
    val enriched = config.reportDir match {
      case Some(dir) =>
        val reports = Enrichment.ingestReportsDistributed(
          spark, dir, s"${config.workDir}/reports_archive")
        Enrichment.attachContext(
          sessions.withColumn("session_id", col("user_id").cast("string")),
          reports)
      case None =>
        sessions.withColumn("session_id", col("user_id").cast("string"))
          .withColumn("ctx",
            array().cast("array<struct<report_key:string,content:string,seq:int>>"))
    }

    enriched.write.mode("overwrite").parquet(s"${config.workDir}/sessions_enriched")
    spark.read.parquet(s"${config.workDir}/sessions_enriched")
  }

  /** CLI: Pipeline <cdcFeedDir> <workDir> [ideFeedDir] [reportDir]
    * Optional env: SPARK_GRAFT_DOC_FEED (documents feed for the near-dup
    * guard), SPARK_GRAFT_NEARDUP_KEEP (index retention in generations),
    * SPARK_GRAFT_DIFF_RETENTION_MS (diff-sink event-time retention),
    * SPARK_GRAFT_EMB_FEED (embeddings feed for the streaming ANN index),
    * SPARK_GRAFT_EMB_FOLD_MIN (fold once this many deltas accumulated),
    * SPARK_GRAFT_IMG_FEED (image feed for the streaming image dedup
    * guard), SPARK_GRAFT_IMG_KEEP (image-index retention in generations),
    * SPARK_GRAFT_IMG_MAX_FILES (image-feed files per micro-batch).
    * Guard LSH geometry/layout (pinned by the index manifest at creation):
    * SPARK_GRAFT_LSH_THRESHOLD, SPARK_GRAFT_LSH_K, SPARK_GRAFT_LSH_BANDS,
    * SPARK_GRAFT_LSH_ROWS, SPARK_GRAFT_BAND_BUCKETS,
    * SPARK_GRAFT_SETS_BUCKETS. Full curation front door (quality →
    * decontam → guard) on the documents feed: SPARK_GRAFT_EVAL_DIR (the
    * held-out eval-set parquet; enables it), SPARK_GRAFT_CUR_MIN_TOKENS,
    * SPARK_GRAFT_CUR_MIN_DISTINCT_PCT, SPARK_GRAFT_CUR_SHINGLE_N,
    * SPARK_GRAFT_CUR_MAX_OVERLAP_BP (contamination tolerance in basis
    * points, q57's metric; 0 = strict).
    * Embedding-index quantizer shape (fixed when the first batch trains):
    * SPARK_GRAFT_EMB_CLUSTERS, SPARK_GRAFT_EMB_LLOYD_ITERS,
    * SPARK_GRAFT_EMB_TRAIN_MOD. Backlog batching (files per micro-batch,
    * default 1 = one index generation per file):
    * SPARK_GRAFT_DOC_MAX_FILES, SPARK_GRAFT_EMB_MAX_FILES.
    */
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Pipeline <cdcFeedDir> <workDir> [ideFeedDir] [reportDir]")
    val spark = GraftSession()
    val out = run(spark, Config(
      cdcFeedDir = args(0),
      ideFeedDir = args.lift(2),
      reportDir = args.lift(3),
      workDir = args(1),
      diffRetention = sys.env.get("SPARK_GRAFT_DIFF_RETENTION_MS")
        .map(ms => java.time.Duration.ofMillis(ms.toLong)),
      docFeedDir = sys.env.get("SPARK_GRAFT_DOC_FEED"),
      nearDupKeepBatches = sys.env.get("SPARK_GRAFT_NEARDUP_KEEP").map(_.toInt),
      // env overrides fold onto the case-class defaults (copy() from a
      // default instance) — one source of truth, so a changed default can
      // never silently diverge between the API and CLI paths (the LSH
      // geometry is manifest-pinned: a divergence would refuse resumes)
      guard = {
        val g0 = GuardConfig()
        g0.copy(
          threshold = sys.env.get("SPARK_GRAFT_LSH_THRESHOLD")
            .map(_.toDouble).getOrElse(g0.threshold),
          minhashK = sys.env.get("SPARK_GRAFT_LSH_K")
            .map(_.toInt).getOrElse(g0.minhashK),
          bands = sys.env.get("SPARK_GRAFT_LSH_BANDS")
            .map(_.toInt).getOrElse(g0.bands),
          rowsPerBand = sys.env.get("SPARK_GRAFT_LSH_ROWS")
            .map(_.toInt).getOrElse(g0.rowsPerBand),
          bandBuckets = sys.env.get("SPARK_GRAFT_BAND_BUCKETS")
            .map(_.toInt).getOrElse(g0.bandBuckets),
          setsBuckets = sys.env.get("SPARK_GRAFT_SETS_BUCKETS")
            .map(_.toInt).getOrElse(g0.setsBuckets))
      },
      curation = sys.env.get("SPARK_GRAFT_EVAL_DIR").map { ev =>
        val c0 = CurationConfig(evalDir = ev)
        c0.copy(
          minTokens = sys.env.get("SPARK_GRAFT_CUR_MIN_TOKENS")
            .map(_.toInt).getOrElse(c0.minTokens),
          minDistinctPct = sys.env.get("SPARK_GRAFT_CUR_MIN_DISTINCT_PCT")
            .map(_.toInt).getOrElse(c0.minDistinctPct),
          shingleN = sys.env.get("SPARK_GRAFT_CUR_SHINGLE_N")
            .map(_.toInt).getOrElse(c0.shingleN),
          maxOverlapBp = sys.env.get("SPARK_GRAFT_CUR_MAX_OVERLAP_BP")
            .map(_.toInt).getOrElse(c0.maxOverlapBp))
      },
      docMaxFilesPerTrigger = sys.env.get("SPARK_GRAFT_DOC_MAX_FILES")
        .map(_.toInt).getOrElse(1),
      embMaxFilesPerTrigger = sys.env.get("SPARK_GRAFT_EMB_MAX_FILES")
        .map(_.toInt).getOrElse(1),
      embFeedDir = sys.env.get("SPARK_GRAFT_EMB_FEED"),
      imageFeedDir = sys.env.get("SPARK_GRAFT_IMG_FEED"),
      imageDupKeepBatches = sys.env.get("SPARK_GRAFT_IMG_KEEP").map(_.toInt),
      imgMaxFilesPerTrigger = sys.env.get("SPARK_GRAFT_IMG_MAX_FILES")
        .map(_.toInt).getOrElse(1),
      embed = {
        val e0 = EmbedConfig()
        e0.copy(
          nClusters = sys.env.get("SPARK_GRAFT_EMB_CLUSTERS")
            .map(_.toInt).getOrElse(e0.nClusters),
          lloydIters = sys.env.get("SPARK_GRAFT_EMB_LLOYD_ITERS")
            .map(_.toInt).getOrElse(e0.lloydIters),
          trainSampleMod = sys.env.get("SPARK_GRAFT_EMB_TRAIN_MOD")
            .map(_.toInt).getOrElse(e0.trainSampleMod),
          dupThreshold = sys.env.get("SPARK_GRAFT_EMB_DUP_THRESHOLD")
            .map(_.toDouble).orElse(e0.dupThreshold),
          dupNprobe = sys.env.get("SPARK_GRAFT_EMB_DUP_NPROBE")
            .map(_.toInt).getOrElse(e0.dupNprobe))
      },
      embedFoldMinDeltas = sys.env.get("SPARK_GRAFT_EMB_FOLD_MIN").map(_.toInt)))
    println(s"[pipeline] enriched sessions: ${out.count()}")
    val diffDir = s"${args(1)}/diffs_cdc"
    val diffCount =
      if (!CheckpointStream.hasBatches(spark.sessionState.newHadoopConf(), diffDir)) 0L
      else spark.read.parquet(diffDir).count()
    println(s"[pipeline] diff documents: $diffCount")
    spark.stop()
  }
}
