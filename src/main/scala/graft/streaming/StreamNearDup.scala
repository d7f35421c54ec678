package graft.streaming

import graft.CacheLifecycle.unpersistOnRelease
import graft.operators.DedupOps
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import java.nio.charset.StandardCharsets
import scala.util.Using

/** Streaming NEAR-dup detection at ingest — the MinHash-LSH counterpart of
  * `StreamDedup`'s exact hash dedup: every arriving document is checked
  * against everything seen BEFORE it (prior micro-batches via a standing
  * band index, earlier rows of its own batch via a self-join) and flagged
  * with the earlier document it near-duplicates at `threshold` Jaccard.
  * This is the guard a training-data ingest runs so near-copies never
  * accumulate in the corpus in the first place, rather than being swept by
  * a later batch q20/q36 pass.
  *
  * State = a persisted index under `indexDir`: `bands/` holds
  * (doc_id, band_key) LSH entries — derived by the SAME
  * `DedupOps.bandedDocIds` head as the batch operator, so the two cannot
  * drift — and `sets/` the hashed shingle sets for exact-Jaccard
  * verification. Both grow by one `batch_id=N` append per micro-batch.
  *
  * SCALE LAYOUT: `bands/` is a catalog-registered parquet table BUCKETED
  * by `band_key` into `bandBuckets` buckets (and partitioned by
  * `batch_id`, so the per-batch dirs stay GC-able generations). The
  * per-batch candidate join therefore never shuffles the standing side:
  * the bucketed scan already satisfies the join's distribution
  * (`HashPartitioning(band_key)`), and only the ARRIVING batch's bands
  * exchange into the bucket layout. Without this, the join re-shuffled the
  * entire O(corpus × bands) index on every micro-batch — a per-batch cost
  * growing with corpus age, the classic stream-static join mistake. The
  * catalog entry is metadata only (the in-memory catalog is re-populated
  * from the filesystem via RECOVER PARTITIONS on restart); the on-disk
  * truth stays `indexDir/bands/batch_id=N`. The `sets/` verification side
  * is hash-PARTITIONED into `doc_bucket=` dirs (`setsBuckets`,
  * version-stable `CheckpointStream.bucketOf` mix): the flags step
  * collects the candidates' touched buckets (≤ setsBuckets small ints)
  * and partition-prunes the sets read to exactly those dirs, so per-batch
  * verification I/O is O(touched buckets × bucket size) — neither side of
  * the guard reads or shuffles O(corpus) per micro-batch.
  *
  * Replay discipline (all via `_SUCCESS` first-write-wins):
  *  - `sets/` reads consider only COMMITTED batch dirs; the
  *    `bands/` table may surface a torn append's complete task files
  *    UNTIL the replay (which deletes the partial generation and rewrites
  *    it whole — overwrite semantics, so no duplicate band rows outlive a
  *    replay), which is safe meanwhile: band entries only ever GENERATE
  *    candidates (deduplicated by `distinct`), and the marker protocol
  *    below guarantees a batch's own entries are never visible to its own
  *    flags step;
  *  - the flags step commits FIRST, computed against strictly pre-batch
  *    truth, and is witnessed by a per-batch file under the sink's
  *    `_markers/` dir (underscore-prefixed: invisible to parquet
  *    directory readers, so flag-free batches leave the sink readable).
  *    The marker gates the whole step on replay — without it, a crash
  *    after the index append would make the replay re-derive flags
  *    against an index that already contains the batch's own entries
  *    (every doc a Jaccard-1.0 "duplicate" of itself);
  *  - sets commit before bands: a band entry whose set is missing would
  *    silently drop a verified candidate, while a set without band
  *    entries is unreachable and harmless.
  *
  * The index self-describes its LSH parameters AND its bucket layout
  * (`_lsh.json`, stamped crash-atomically on first use and verified on
  * every later run): band keys from different (minhashK, bands,
  * rowsPerBand) are incomparable, and a bucket-count drift would make the
  * bucketed scan assign rows to the wrong buckets — either would corrupt
  * silently instead of failing loudly. A pre-bucketing index (manifest
  * without `bandBuckets`) is refused for the same reason: its files carry
  * no bucket suffixes and cannot be read under a bucketed table spec.
  *
  * OWNERSHIP: the index's `batch_id` namespace belongs to ONE streaming
  * query lineage (one checkpoint). That contract is ENFORCED at start,
  * twice over: an `_owner.json` stamp (written when a checkpoint adopts a
  * fresh index, BEFORE any data lands) pins the owning checkpoint's URI
  * and refuses every other checkpoint — including the batch-0 window
  * where a fresh checkpoint was previously indistinguishable from a
  * crash-before-first-commit replay — and, for legacy stamp-less
  * indexes, the index's newest committed batch id may exceed the
  * checkpoint's last commit by at most one (the crash-replay window). A
  * fresh checkpoint against a populated index restarts batch ids at 0,
  * where first-write-wins appends would silently skip and flags would be
  * computed against stale truth — that run throws instead of corrupting.
  *
  * `gcIndex` bounds the index by dropping the oldest generations (the
  * windowed trade); `probeIndex` answers the ad-hoc "already ingested?"
  * question without mutating anything on disk.
  */
object StreamNearDup {

  /** Default bucket count for the standing band index. Sized so one
    * bucket's band entries stay executor-core sized at the target corpus
    * scale; a cluster deployment raises it at index creation (the manifest
    * pins it for the index's lifetime).
    */
  val DefaultBandBuckets = 32

  /** Default hash-partition count for the `sets/` verification store (the
    * `doc_bucket=` directory layout). Sized like the session sink's
    * buckets: a flags step reads only the buckets its candidates' `dup_of`
    * ids hash into, so per-batch verification I/O is
    * O(touched buckets × bucket size), not O(corpus).
    */
  val DefaultSetsBuckets = 64

  private def lshManifestJson(
      minhashK: Int, bands: Int, rowsPerBand: Int,
      bandBuckets: Int, setsBuckets: Int): String =
    s"""{"minhashK":$minhashK,"bands":$bands,"rowsPerBand":$rowsPerBand,""" +
      s""""bandBuckets":$bandBuckets,"setsBuckets":$setsBuckets}"""

  /** Stamp-or-verify the index's LSH parameter manifest (crash-atomic
    * temp+rename; the same guard discipline as the sink's
    * `_bucketing.json` in CheckpointStream — any semantic change there
    * should be mirrored here). Refusals are loud in BOTH directions: a
    * manifest that disagrees with this run's parameters (including the
    * band-bucket count — the physical file layout depends on it), and a
    * POPULATED manifest-less index (its entries were banded under unknown
    * parameters; stamping today's values over them would make the drift
    * permanently undetectable instead of failing the run).
    */
  private def checkLshManifest(
      fs: FileSystem, indexDir: Path,
      minhashK: Int, bands: Int, rowsPerBand: Int, bandBuckets: Int,
      setsBuckets: Int, stampIfAbsent: Boolean = true): Unit = {
    val mf = new Path(indexDir, "_lsh.json")
    val expected = lshManifestJson(minhashK, bands, rowsPerBand, bandBuckets, setsBuckets)
    def verify(): Unit = {
      val buf = new Array[Byte](fs.getFileStatus(mf).getLen.toInt)
      val in = fs.open(mf)
      try in.readFully(buf) finally in.close()
      val found = new String(buf, StandardCharsets.UTF_8)
      if (found.trim != expected)
        throw new IllegalStateException(
          s"near-dup index $indexDir was built with LSH parameters $found but this " +
            s"run uses $expected — band keys (and the bucketed band layout) are " +
            "incomparable across parameters and cross-batch detection would " +
            "silently miss everything. Rebuild the index or match the parameters.")
    }
    if (fs.exists(mf)) verify()
    else {
      val populated = Seq("bands", "sets").exists { part =>
        val p = new Path(indexDir, part)
        fs.exists(p) && fs.listStatus(p).nonEmpty
      }
      if (populated)
        throw new IllegalStateException(
          s"near-dup index $indexDir holds band/set entries but no _lsh.json " +
            "manifest: their LSH parameters are unknown and cross-batch detection " +
            s"against them cannot be trusted. Rebuild the index (expected $expected).")
      if (stampIfAbsent) {
        fs.mkdirs(indexDir)
        val tmp = new Path(indexDir, "._lsh.json.tmp")
        val out = fs.create(tmp, true)
        try out.write(expected.getBytes(StandardCharsets.UTF_8)) finally out.close()
        if (!fs.rename(tmp, mf)) {
          // rename-race loser: clean our tmp and VERIFY the winner's content
          // — two concurrent starts with different parameters must not share
          // one index just because the loser assumed the winner agreed
          fs.delete(tmp, true)
          if (!fs.exists(mf))
            throw new java.io.IOException(s"manifest publish failed: $mf")
          verify()
        }
      }
    }
  }

  /** Committed `batch_id=` generation dirs of one index part — ONE glob
    * listing (a per-dir `_SUCCESS` probe would cost O(batches) RPCs per
    * call). Shared by the per-batch guard, `probeIndex`, and `gcIndex`.
    */
  private[streaming] def committedDirs(
      fs: FileSystem, indexDir: String, part: String): Seq[String] =
    Option(fs.globStatus(new Path(s"$indexDir/$part/batch_id=*/_SUCCESS")))
      .toSeq.flatten.map(_.getPath.getParent.toString)

  private def committedIds(
      fs: FileSystem, indexDir: String, part: String): Seq[Long] =
    committedDirs(fs, indexDir, part)
      .map(p => new Path(p).getName.stripPrefix("batch_id=").toLong)

  /** Catalog name of the index's bucketed band table — a pure function of
    * the index location, so every engine restart re-derives the same
    * entry. The catalog row is disposable metadata: `ensureBandsTable`
    * re-creates it from the filesystem in any fresh session.
    */
  private[streaming] def bandsTableName(indexDir: String): String = {
    val norm = new Path(indexDir).toString
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(norm.getBytes(StandardCharsets.UTF_8))
    "graft_nd_bands_" + digest.take(8).map(b => f"$b%02x").mkString
  }

  /** Register (or re-register, after an engine restart lost the in-memory
    * catalog) the bucketed band table over `indexDir/bands`, recovering
    * the on-disk `batch_id=` partitions into the catalog. Idempotent; the
    * DDL writes nothing but the (possibly empty) location dir. A
    * registered table whose location does NOT resolve to this index is a
    * name collision and is refused — silently reusing it would join
    * against a different corpus's bands.
    */
  private def ensureBandsTable(
      spark: SparkSession, indexDir: String, bandBuckets: Int): Unit = {
    val name = bandsTableName(indexDir)
    val loc = new Path(s"$indexDir/bands")
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qualified = fs.makeQualified(loc).toUri
    if (spark.catalog.tableExists(name)) {
      val actual = spark.sql(s"DESCRIBE TABLE EXTENDED $name")
        .filter(col("col_name") === "Location")
        .select("data_type").collect().headOption.map(_.getString(0))
      if (!actual.map(new Path(_)).contains(new Path(qualified)))
        throw new IllegalStateException(
          s"band-index table $name is registered at $actual, not $qualified — " +
            "refusing to join this index against another index's table")
    } else {
      // RECOVER PARTITIONS lists the location and fails on an absent dir
      fs.mkdirs(loc)
      spark.sql(
        s"""CREATE TABLE IF NOT EXISTS $name
           |  (doc_id BIGINT, band_key BIGINT, batch_id BIGINT)
           |USING PARQUET
           |PARTITIONED BY (batch_id)
           |CLUSTERED BY (band_key) SORTED BY (band_key) INTO $bandBuckets BUCKETS
           |LOCATION '$qualified'""".stripMargin)
      spark.sql(s"ALTER TABLE $name RECOVER PARTITIONS")
    }
  }

  /** Append one micro-batch's band entries to the standing table as a new
    * `batch_id` generation. First-write-wins via the per-partition-dir
    * `_SUCCESS` marker (created by THIS method after the append — table
    * appends only stamp the table root): a replayed committed batch skips
    * entirely; a torn append has its partial partition dir DELETED (and
    * deregistered) before the re-run, so the generation is rewritten
    * whole — the same overwrite semantics as `appendSets`. Without the
    * delete, a torn append's surviving task files would duplicate the
    * replay's rows permanently: candidate `distinct` keeps that
    * correctness-neutral, but unlike the sets side nothing ever compacts
    * the bands table, so the duplicates would inflate the standing index
    * and every future candidate scan of that generation.
    */
  private def appendBands(
      spark: SparkSession, bandsDf: DataFrame, indexDir: String,
      batchId: Long, bandBuckets: Int): Unit = {
    val dir = new Path(s"$indexDir/bands/batch_id=$batchId")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new Path(dir, "_SUCCESS"))) return
    if (fs.exists(dir)) {
      fs.delete(dir, true)
      spark.sql(s"ALTER TABLE ${bandsTableName(indexDir)} " +
        s"DROP IF EXISTS PARTITION (batch_id=$batchId)")
    }
    bandsDf.withColumn("batch_id", lit(batchId))
      .write.mode("append").format("parquet")
      .partitionBy("batch_id")
      .bucketBy(bandBuckets, "band_key").sortBy("band_key")
      .saveAsTable(bandsTableName(indexDir))
    val out = fs.create(new Path(dir, "_SUCCESS"), true)
    out.close()
  }

  /** Candidate pairs of `bandsDf` (the arriving docs' band entries)
    * against the standing index: (dup_of = already-indexed doc, doc_id =
    * arriving doc), deduplicated. THE scale-critical join of the guard —
    * the standing side is a bucketed scan that already satisfies the
    * join's hash distribution, so the plan carries NO Exchange on the
    * index side; only `bandsDf` shuffles into the bucket layout
    * (plan-asserted in StreamNearDupSpec). Callers ensure the table is
    * registered and the manifest verified.
    */
  private[streaming] def indexCandidates(
      spark: SparkSession, indexDir: String, bandsDf: DataFrame): DataFrame =
    bandsDf.as("b")
      .join(spark.table(bandsTableName(indexDir)).select("doc_id", "band_key").as("a"),
        col("a.band_key") === col("b.band_key"))
      .select(col("a.doc_id").as("dup_of"), col("b.doc_id").as("doc_id"))
      .distinct()

  /** Append one micro-batch's shingle sets as a new `batch_id` generation,
    * hash-partitioned into `doc_bucket=` dirs (`CheckpointStream.bucketOf`
    * — the engine's version-stable mix, so the layout is a pure function
    * of doc_id forever). Same first-write-wins overwrite semantics as
    * `appendDiffs`: a replayed committed batch skips, a torn one is
    * rewritten whole.
    */
  private def appendSets(
      hashed: DataFrame, indexDir: String, batchId: Long, setsBuckets: Int): Unit = {
    val dir = new Path(s"$indexDir/sets/batch_id=$batchId")
    val fs = dir.getFileSystem(hashed.sparkSession.sparkContext.hadoopConfiguration)
    if (fs.exists(new Path(dir, "_SUCCESS"))) return
    hashed.select(col("doc_id"), col("hs"))
      .withColumn("doc_bucket", CheckpointStream.bucketOf(col("doc_id"), setsBuckets))
      .write.mode("overwrite").partitionBy("doc_bucket").parquet(dir.toString)
  }

  /** The committed `sets/` rows for EXACTLY the candidates' `dup_of`
    * buckets — the verification side of the flags step. `cand` must be
    * small and is consulted twice (bucket list + join), so callers pass it
    * persisted. The touched-bucket list is ≤ `setsBuckets` small ints (the
    * upsert sink's O(buckets) collect discipline), pushed into the scan as
    * a `doc_bucket` partition filter: per-batch verification I/O is
    * O(touched buckets × bucket size), never O(corpus) — without this the
    * sets side was the guard's remaining grows-with-corpus-age per-batch
    * read (plan-asserted in StreamNearDupSpec).
    */
  private[streaming] def prunedSets(
      spark: SparkSession, fs: FileSystem, indexDir: String,
      cand: DataFrame, setsBuckets: Int): DataFrame = {
    import spark.implicits._
    val empty = Seq.empty[(Long, Array[Long])].toDF("doc_id", "hs")
    committedDirs(fs, indexDir, "sets") match {
      case Seq() => empty
      case dirs =>
        val touched = cand
          .select(CheckpointStream.bucketOf(col("dup_of"), setsBuckets).as("b"))
          .distinct().collect().map(_.getInt(0))
        if (touched.isEmpty) empty
        else spark.read
          // one basePath: the committed batch dirs are multiple read
          // roots, and per-root partition inference of their doc_bucket=
          // children would otherwise see conflicting structures
          .option("basePath", s"$indexDir/sets")
          .parquet(dirs: _*)
          .filter(col("doc_bucket").isin(touched.map(Int.box): _*))
          .select(col("doc_id"), col("hs"))
    }
  }

  /** Probe the standing index WITHOUT ingesting: near-dup flags for `docs`
    * against the committed index state only (no within-docs pairs, no
    * appends, nothing written on disk — an absent or empty index probes
    * empty, and a populated manifest-less index is refused exactly as
    * `run` would). The ad-hoc "is this a near-copy of anything already
    * ingested?" query. Shares the shuffle-free candidate join with `run`.
    *
    * The result is MATERIALIZED at call time (eager local checkpoint —
    * the price of releasing the candidate cache pin, see the body): on a
    * cluster its blocks live on executors and are not recomputable after
    * executor loss, so consume it promptly rather than holding the frame
    * across long gaps; callers needing a durable handle should write it
    * out.
    */
  def probeIndex(
      spark: SparkSession,
      indexDir: String,
      docs: DataFrame,
      threshold: Double = 0.9,
      minhashK: Int = 48,
      bands: Int = 16,
      rowsPerBand: Int = 3,
      bandBuckets: Int = DefaultBandBuckets,
      setsBuckets: Int = DefaultSetsBuckets): DataFrame = {
    import spark.implicits._
    val idxPath = new Path(indexDir)
    val fs = idxPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    checkLshManifest(fs, idxPath, minhashK, bands, rowsPerBand, bandBuckets,
      setsBuckets, stampIfAbsent = false)
    val bandDirs = committedDirs(fs, indexDir, "bands")
    val setDirs = committedDirs(fs, indexDir, "sets")
    val hashed = DedupOps.hashedShingleSets(docs)
    if (bandDirs.isEmpty || setDirs.isEmpty)
      return Seq.empty[(Long, Long, Double)].toDF("doc_id", "dup_of", "jac")
    ensureBandsTable(spark, indexDir, bandBuckets)
    val bandsDf = DedupOps.bandedDocIds(hashed, minhashK, bands, rowsPerBand)
    // pinned: the candidate set is consulted twice (touched-bucket list
    // + verification join) and is tiny (pairs, not corpus); the flags
    // (the above-threshold subset) are checkpointed before its release
    Using.resource(indexCandidates(spark, indexDir, bandsDf).persist()) { cand =>
      cand
        .join(hashed.select(col("doc_id"), col("hs").as("hs_b")), Seq("doc_id"))
        .join(prunedSets(spark, fs, indexDir, cand, setsBuckets)
          .select(col("doc_id").as("dup_of"), col("hs").as("hs_a")), Seq("dup_of"))
        .withColumn("jac", DedupOps.jaccard(col("hs_a"), col("hs_b")))
        .filter(col("jac") >= threshold)
        .select(col("doc_id"), col("dup_of"), col("jac"))
        .localCheckpoint(true)
    }
  }

  /** Retention GC for the standing index: drop the OLDEST committed
    * generations beyond the newest `keepBatches`, bands and sets in
    * lockstep. Near-dups against dropped documents go undetected
    * afterwards — the same windowed trade as `StreamDedup`'s watermark
    * (global forever-dedup belongs to the batch path over the accumulated
    * corpus). Run with no active writer — `graft.Pipeline` wires it into
    * its post-drain maintenance block behind a retention config. Crash
    * order per generation is bands first — a surviving set without its
    * band entries is unreachable and harmless, while the reverse would
    * silently drop verified candidates. If the band table is registered
    * in this session's catalog, the dropped generations' partitions are
    * deregistered too (a fresh session simply never discovers them).
    */
  def gcIndex(spark: SparkSession, indexDir: String, keepBatches: Int): Unit = {
    require(keepBatches >= 0, s"keepBatches must be non-negative: $keepBatches")
    val fs = new Path(indexDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val common =
      (committedIds(fs, indexDir, "bands").toSet intersect
        committedIds(fs, indexDir, "sets").toSet).toSeq.sorted
    val table = bandsTableName(indexDir)
    val tableRegistered = spark.catalog.tableExists(table)
    common.dropRight(keepBatches).foreach { id =>
      fs.delete(new Path(s"$indexDir/bands/batch_id=$id"), true)
      if (tableRegistered)
        spark.sql(s"ALTER TABLE $table DROP IF EXISTS PARTITION (batch_id=$id)")
      fs.delete(new Path(s"$indexDir/sets/batch_id=$id"), true)
    }
  }

  /** The flags sink's per-batch replay witness lives under `_markers/`
    * (underscore-prefixed: invisible to parquet directory readers, so a
    * run of flag-free batches cannot leave the sink unreadable the way
    * empty `batch_id=` dirs would). The marker commits AFTER the batch's
    * flag rows (if any) land, and gates the whole flags step on replay.
    */
  private def flagsMarker(dir: String, batchId: Long): Path =
    new Path(s"$dir/_markers/$batchId")

  private def commitFlagsMarker(fs: FileSystem, dir: String, batchId: Long): Unit = {
    val m = flagsMarker(dir, batchId)
    fs.mkdirs(m.getParent)
    if (!fs.exists(m)) { val o = fs.create(m, true); o.close() }
  }

  /** Enforce the index/checkpoint ownership contract before any batch
    * runs, via two complementary guards:
    *
    *  1. OWNER STAMP: `_owner.json` records the owning checkpoint's
    *     qualified URI, written crash-atomically when a checkpoint first
    *     adopts an index — on the common path a FRESH one (no committed
    *     generations, so the stamp lands before any data does); a legacy
    *     stamp-less index is adopted by the first run the lead check
    *     below admits, so every index is protected from its next run on.
    *     Any later run whose checkpoint disagrees is refused outright.
    *     This closes the
    *     batch-0 window the lead check below cannot see: a one-generation
    *     index paired with a genuinely fresh checkpoint used to be
    *     indistinguishable from a crash-before-first-commit replay — the
    *     replay's batch-0 append would silently skip, and with a fresh
    *     flags sink (no marker) the flags step would run against an index
    *     already holding the batch's own entries, emitting jaccard-1.0
    *     self-duplicates for the whole first batch. A legitimately
    *     RELOCATED checkpoint re-adopts by deleting `_owner.json` (the
    *     refusal message says so).
    *  2. COMMIT LEAD (legacy indexes without a stamp): the index's newest
    *     committed generation may lead the checkpoint's last commit by at
    *     most one batch (the crash-replay window — batch N's appends land
    *     before commit N is written). A populated index paired with a
    *     checkpoint that has never committed near it means a fresh or
    *     foreign checkpoint — refused. A stamp-less index whose only
    *     generation is batch 0 remains admitted (pre-stamp behavior, kept
    *     so legacy indexes' true owners aren't locked out).
    */
  private def checkIndexOwnership(
      spark: SparkSession, fs: FileSystem, indexDir: String,
      checkpointDir: String): Unit = {
    val newest = committedIds(fs, indexDir, "bands")
      .foldLeft(-1L)(_ max _)
    val stamp = OwnerStamp.inside(indexDir)
    OwnerStamp.verify(spark, fs, stamp, indexDir, checkpointDir)
    // a populated stamp-less (legacy) index may only be adopted by a
    // checkpoint that has at least STARTED a batch — a pristine one
    // cannot be the lineage that wrote the index, and first-comer
    // adoption would lock the true owner out behind the stolen stamp
    if (newest >= 0)
      OwnerStamp.refuseForeignAdoption(spark, fs, stamp, indexDir, checkpointDir)
    // the commit-lead check runs even under a matching stamp: a checkpoint
    // dir emptied in place keeps its identity but restarts batch ids —
    // only the lead vs the commit log can see that
    if (newest >= 1) checkCommitLead(spark, fs, indexDir, checkpointDir, newest)
    // admitted: adopt if stamp-less (fresh index, or legacy), so the index
    // is protected from here on
    OwnerStamp.adoptIfAbsent(spark, fs, stamp, indexDir, checkpointDir)
  }

  /** Legacy lead check (see `checkIndexOwnership`): refuse when the index's
    * newest committed generation leads the checkpoint's last commit by
    * more than the one-batch crash-replay window.
    */
  private def checkCommitLead(
      spark: SparkSession, fs: FileSystem, indexDir: String,
      checkpointDir: String, newest: Long): Unit = {
    val commits = new Path(s"$checkpointDir/commits")
    val cfs = commits.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lastCommit =
      if (!cfs.exists(commits)) -1L
      else cfs.listStatus(commits).map(_.getPath.getName)
        .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong)
        .foldLeft(-1L)(_ max _)
    if (newest > lastCommit + 1)
      throw new IllegalStateException(
        s"near-dup index $indexDir holds committed generations through " +
          s"batch_id=$newest but checkpoint $checkpointDir has only committed " +
          s"through $lastCommit — this checkpoint does not own the index's " +
          "batch_id namespace (a fresh checkpoint would restart ids at 0 and " +
          "first-write-wins appends would silently skip). Resume from the " +
          "index's original checkpoint, or start a fresh index.")
  }

  def run(
      spark: SparkSession,
      sourceDir: String,
      checkpointDir: String,
      sinkDir: String,
      indexDir: String,
      threshold: Double = 0.9,
      minhashK: Int = 48,
      bands: Int = 16,
      rowsPerBand: Int = 3,
      maxFilesPerTrigger: Int = 1,
      availableNow: Boolean = true,
      schemaHint: Option[StructType] = None,
      bandBuckets: Int = DefaultBandBuckets,
      setsBuckets: Int = DefaultSetsBuckets): StreamingQuery = {
    prepareIndex(spark, indexDir, checkpointDir,
      minhashK, bands, rowsPerBand, bandBuckets, setsBuckets)
    val raw = spark.readStream
      .schema(schemaHint.getOrElse(spark.read.parquet(sourceDir).schema))
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(sourceDir)
    val writer = raw.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, sinkDir, indexDir, threshold,
          minhashK, bands, rowsPerBand, bandBuckets, setsBuckets)
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow())
     else writer.trigger(Trigger.ProcessingTime("1 second"))).start()
  }

  /** One micro-batch of the guard: flag the batch's near-dups against the
    * standing index (and its own earlier rows), then ingest the batch's
    * entries as a new index generation. The unit `run` executes per
    * trigger, factored out so composed ingest pipelines (`StreamCurate`)
    * can run the guard inline on an already-filtered batch inside their
    * own `foreachBatch`. Callers hold the same preconditions `run`
    * establishes once per query: manifest checked, table registered,
    * ownership verified.
    */
  private[streaming] def processBatch(
      batch: DataFrame, batchId: Long, sinkDir: String, indexDir: String,
      threshold: Double, minhashK: Int, bands: Int, rowsPerBand: Int,
      bandBuckets: Int, setsBuckets: Int): Unit = {
    val sp = batch.sparkSession
    import sp.implicits._
    val hconf = sp.sparkContext.hadoopConfiguration
    val fs = new Path(indexDir).getFileSystem(hconf)
    // sink and index may live on different filesystems
    val sinkFs = new Path(sinkDir).getFileSystem(hconf)
    // shared head with the batch operator: same shingles, same hashes,
    // same signature/band derivation
    Using.Manager { use =>
      val hashed = use(DedupOps.hashedShingleSets(batch).persist())
      val bandsDf = use(DedupOps.bandedDocIds(hashed, minhashK, bands, rowsPerBand)
        .persist())
      // the marker gates the WHOLE flags step: a replayed batch must
      // neither recompute flags against an index that already holds
      // its own entries (jaccard-1.0 self-duplicates) nor pay the
      // candidate join again
      if (!sinkFs.exists(flagsMarker(sinkDir, batchId))) {
        // earlier-seen candidates (bucketed index scan — no shuffle
        // on the standing side) + earlier-in-batch candidates
        val seenCand = indexCandidates(sp, indexDir, bandsDf)
        val withinCand = bandsDf.as("a")
          .join(bandsDf.as("b"),
            col("a.band_key") === col("b.band_key") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("dup_of"), col("b.doc_id").as("doc_id"))
        // persisted: consulted twice (touched-bucket list + join);
        // bounded by the candidate count, not the corpus. Released
        // with the flags step, before the batch's sets are appended
        Using.resource(seenCand.unionByName(withinCand).distinct().persist()) { cand =>
          // verification reads ONLY the candidates' doc_buckets of
          // the committed sets store (prunedSets), plus the arriving
          // batch's own in-memory sets; the candidate side is tiny
          // (AQE broadcasts it), so the heavy shingle-set rows are
          // neither fully scanned nor shuffled
          val setsAll = prunedSets(sp, fs, indexDir, cand, setsBuckets)
            .unionByName(hashed.select(col("doc_id"), col("hs")))
          Using.resource(cand
            .join(hashed.select(col("doc_id"), col("hs").as("hs_b")), Seq("doc_id"))
            .join(setsAll.select(col("doc_id").as("dup_of"), col("hs").as("hs_a")),
              Seq("dup_of"))
            .withColumn("jac", DedupOps.jaccard(col("hs_a"), col("hs_b")))
            .filter(col("jac") >= threshold)
            .select(col("doc_id"), col("dup_of"), col("jac"))
            .persist()) { flagged =>
            // commit order is load-bearing — see the replay discipline
            if (!flagged.isEmpty)
              CheckpointStream.appendDiffs(flagged, sinkDir, batchId)
            commitFlagsMarker(sinkFs, sinkDir, batchId)
          }
        }
      }
      appendSets(hashed, indexDir, batchId, setsBuckets)
      appendBands(sp, bandsDf, indexDir, batchId, bandBuckets)
    }.get
  }

  /** Run-start preconditions shared by `run` and composed callers: verify
    * (or stamp) the parameter manifest, enforce checkpoint ownership, and
    * register the bucketed band table.
    */
  private[streaming] def prepareIndex(
      spark: SparkSession, indexDir: String, checkpointDir: String,
      minhashK: Int, bands: Int, rowsPerBand: Int,
      bandBuckets: Int, setsBuckets: Int): Unit = {
    require(bands * rowsPerBand == minhashK, "bands*rowsPerBand must equal minhashK")
    val idxPath = new Path(indexDir)
    val idxFs = idxPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    checkLshManifest(idxFs, idxPath, minhashK, bands, rowsPerBand, bandBuckets,
      setsBuckets)
    checkIndexOwnership(spark, idxFs, indexDir, checkpointDir)
    ensureBandsTable(spark, indexDir, bandBuckets)
  }
}
