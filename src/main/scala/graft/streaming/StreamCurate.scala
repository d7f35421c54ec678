package graft.streaming

import graft.CacheLifecycle.unpersistOnRelease
import graft.operators.DedupOps
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import scala.util.Using

/** The streaming ingest FRONT DOOR: the composed curation `CurateOps`
  * runs over an accumulated corpus (q45), applied per micro-batch as
  * documents ARRIVE — quality filter → benchmark decontamination →
  * standing near-dup guard — so a training corpus stays curated
  * continuously instead of being swept by later batch passes.
  *
  * Per micro-batch:
  *   1. QUALITY (stateless): the same integer cross-product thresholds as
  *      `CurateOps.curate` — failing docs never touch state or storage.
  *   2. DECONTAMINATION (stateless vs the static eval set): q57's
  *      severity scoring per batch — the same broadcast-shingle semi-join
  *      as q40 (`StreamDecontaminate`'s per-document-judgment argument
  *      makes batch-local == global), but the audit sink records the
  *      overlap FRACTION (basis points + band), and the drop rule is a
  *      TUNABLE tolerance: `overlap_bp <= maxOverlapBp` survives. The
  *      default 0 is exactly q40's any-shared-shingle rule; a pipeline
  *      that accepts trace idiom overlap raises it per benchmark.
  *   3. NEAR-DUP guard (stateful): `StreamNearDup.processBatch` flags the
  *      survivors against everything PREVIOUSLY INGESTED (+ earlier rows
  *      of their own batch) and ingests them as a new index generation.
  *
  * Survivors of all three land in `curatedDir/batch_id=N` (first-write-
  * wins `appendDiffs` contract). ONLINE SEMANTICS, stated precisely: the
  * near-dup stage keeps the EARLIEST-ARRIVED member of each duplicate
  * relation — a doc is dropped iff some earlier-arrived doc is within
  * `threshold` — which is the greedy online form of q45's batch
  * resolution (batch keeps each component's minimum id; the two agree
  * whenever arrival order matches id order and components are cliques,
  * and the spec pins the exact online contract). EVERY drop is recorded
  * with its stage's evidence (the engine's dead-letter discipline applied
  * to curation): quality rejects — including MALFORMED null-text rows,
  * which every token predicate would otherwise evaluate to SQL NULL on
  * and drop from survivor and reject filters alike — land in
  * `rejectsDir` with per-rule reason tags, decontamination verdicts in
  * `decontamDir`, near-dup
  * flags in `flagsDir` — the sinks partition the feed, nothing is
  * silently dropped.
  *
  * OPTIONAL stage −0.5 — WARC ingest (`warcCol`): the feed rows are
  * whole crawl archives (plaintext or production gzip-member WARCs);
  * each micro-batch explodes them through the real container walk
  * (`WarcOps.extractRecords`) into HTTP records, dead-letters non-200
  * and unattributable records to `warcRejectsDir` with reason tags,
  * and feeds the 200s to the HTML stage — the full crawl front door
  * (archive → record → markup → text → PII → quality → decontam →
  * near-dup) as one streaming lane.
  *
  * OPTIONAL stage 1.5 — LM-familiarity gate (`lmModel`): q92's bigram
  * scoring against a STANDING reference model (trained once, static for
  * the query's life, so batch-local == global like the eval set); a doc
  * survives iff its average per-bigram familiarity (integer division,
  * replayable) meets `minLmPerBigram`. All score rows land in the
  * `lmDir` audit sink; rejects join the rejects sink with the
  * `low_lm_familiarity` tag. Bigram-less docs are rejected explicitly,
  * never silently lost.
  *
  * OPTIONAL stage 1.75 — language-ID gate (`langModel` + `langAllow`):
  * the q170 hashed-NB char-trigram classifier against a STANDING model
  * (trained once, static for the query's life — the LM-gate
  * discipline); a doc survives iff its predicted language is on the
  * allow-list. Verdicts land in the `langDir` audit sink; rejects join
  * the rejects sink tagged `lang_<pred>` (no-verdict docs reject as
  * `lang_unknown`), so a multilingual crawl feed partitions auditably.
  *
  * Replay discipline is inherited wholesale: the guard's marker protocol
  * gates its flags step, and the curated append re-READS the committed
  * flags for its own batch rather than recomputing them, so a replayed
  * batch writes the identical curated set even though the index already
  * holds its entries.
  *
  * Scale: stages 1–2 are stateless per-batch work (quality is a codegen
  * filter; eval shingles broadcast from cache); stage 3 is the bucketed
  * standing index (no per-batch O(corpus) read or shuffle on either index
  * side). The composition adds nothing beyond its stages.
  */
object StreamCurate {

  def run(
      spark: SparkSession,
      sourceDir: String,
      checkpointDir: String,
      curatedDir: String,
      flagsDir: String,
      decontamDir: String,
      rejectsDir: String,
      indexDir: String,
      evalSet: DataFrame,
      minTokens: Int = 10,
      minDistinctPct: Int = 30,
      shingleN: Int = 5,
      maxOverlapBp: Int = 0,
      threshold: Double = 0.9,
      minhashK: Int = 48,
      bands: Int = 16,
      rowsPerBand: Int = 3,
      maxFilesPerTrigger: Int = 1,
      availableNow: Boolean = true,
      schemaHint: Option[StructType] = None,
      bandBuckets: Int = StreamNearDup.DefaultBandBuckets,
      setsBuckets: Int = StreamNearDup.DefaultSetsBuckets,
      lmModel: Option[DataFrame] = None,
      langModel: Option[DataFrame] = None,
      langAllow: Seq[String] = Seq.empty,
      langDir: String = "",
      minLmPerBigram: Long = 0L,
      lmDir: String = "",
      htmlCol: Option[String] = None,
      piiRedact: Boolean = false,
      warcCol: Option[String] = None,
      warcRejectsDir: String = ""): StreamingQuery = {
    StreamNearDup.prepareIndex(spark, indexDir, checkpointDir,
      minhashK, bands, rowsPerBand, bandBuckets, setsBuckets)
    require(lmModel.isEmpty || lmDir.nonEmpty,
      "an LM gate needs lmDir for its audit sink")
    require(langModel.isEmpty || (langAllow.nonEmpty && langDir.nonEmpty),
      "a language gate needs an allow-list and langDir for its audit sink")
    require(warcCol.isEmpty || (htmlCol.isDefined && warcRejectsDir.nonEmpty),
      "a WARC feed needs the HTML stage and a record dead-letter sink")
    // the reference model is STATIC for the life of the query (like the
    // eval set), so per-batch scoring is batch-local == global
    val lmCached = lmModel.map(_.persist())
    val langCached = langModel.map(_.persist())
    val evalCached = evalSet.persist()
    val raw = spark.readStream
      .schema(schemaHint.getOrElse(spark.read.parquet(sourceDir).schema))
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(sourceDir)
    val writer = raw.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val sp = batch.sparkSession
        // -0.5 (optional): WARC ingest — the feed rows are whole crawl
        // archives (`group_id`, `warcCol` binary; plaintext or
        // production gzip-member form), exploded into HTTP records by
        // the REAL container walk. Per-RECORD dead-letters: non-200
        // responses and unattributable URIs land in `warcRejectsDir`
        // with reason tags (a corrupt gzip member or malformed record
        // drops at the parser per its intact-prefix/resync contract —
        // the archive's surviving records all flow on). Attributed 200s
        // feed the HTML stage as (`doc_id`, `url`, html).
        val fromWarc = warcCol match {
          case None => batch
          case Some(c) =>
            val idStr = regexp_extract(col("target_uri"), "doc/(\\d+)$", 1)
            val recs = graft.operators.WarcOps.extractRecords(sp,
              batch.select(col("group_id"), col(c).as("warc"))).toDF()
              // unattributable URIs extract to '' — NULL, not an ANSI
              // cast error
              .withColumn("doc_id", when(idStr =!= "", idStr.cast("long")))
            val unsupported = col("enc").startsWith("unsupported:")
            val bad = recs
              .filter(col("status") =!= 200 || col("doc_id").isNull ||
                unsupported)
              .select(col("group_id"), col("target_uri").as("url"),
                col("status").cast("long").as("status"),
                concat_ws(",",
                  when(col("status") =!= 200, lit("http_status")),
                  when(col("doc_id").isNull, lit("bad_uri")),
                  // a coding the decoder can't open (br/zstd/…): the
                  // record dead-letters TYPED instead of its compressed
                  // octets mojibake-ing into the text stage
                  when(unsupported, col("enc"))).as("reason"))
            if (!bad.isEmpty)
              CheckpointStream.appendDiffs(bad, warcRejectsDir, batchId)
            recs.filter(col("status") === 200 && col("doc_id").isNotNull &&
                !unsupported)
              .select(col("doc_id"), col("target_uri").as("url"),
                col("body").as(htmlCol.get))
        }
        // 0 (optional): HTML front stage — raw markup rows (`htmlCol`)
        // extract to `text` via the q122 chain BEFORE any quality rule,
        // so a crawl feed plugs straight into the curation pipeline. A
        // document whose markup extracts to NOTHING is a tagged reject
        // (the null_text no-silent-loss discipline), never a silent drop.
        val extracted = htmlCol match {
          case None => fromWarc
          case Some(c) => fromWarc.withColumn("text",
            graft.operators.HtmlOps.htmlToText(col(c)))
        }
        // 0.5 (optional): PII scrub — detectors + Luhn-gated card
        // redaction run BEFORE any text lands in a sink, so neither the
        // curated store nor the reject/audit sinks ever persist raw
        // identifiers; the per-type counts ride along as audit columns.
        val input =
          if (!piiRedact) extracted
          else graft.operators.PiiOps.piiScrub(extracted)
            .withColumn("text", col("redacted")).drop("redacted")
        val tokens = split(col("text"), " ")
        // 1. quality — identical expressions to CurateOps.curate; the
        // rule list tags rejects the way the feed dead-letters do. The
        // null_text rule is load-bearing for the partition contract: on a
        // null `text` BOTH token predicates evaluate to SQL NULL, so
        // without it the row would fail the survivor filter AND the
        // rejects filter and vanish from every sink — exactly the
        // silent-row-loss class the feed dead-letters eliminate.
        val rules = Seq(
          "null_text" -> col("text").isNull) ++
          (if (htmlCol.isDefined)
            Seq("empty_html_extract" -> (col("text") === ""))
          else Seq.empty) ++ Seq(
          "too_few_tokens" -> (col("n_tokens") < minTokens),
          "low_distinct_ratio" ->
            (col("n_distinct") * 100 < col("n_tokens") * minDistinctPct))
        Using.Manager { use =>
          val stats = use(input
            .withColumn("n_tokens", size(tokens))
            .withColumn("n_distinct", size(array_distinct(tokens)))
            .persist())
          val preQuality = stats.filter(!rules.map(_._2).reduce(_ || _))
          val ruleRejects = stats.filter(rules.map(_._2).reduce(_ || _))
            .withColumn("reason", concat_ws(",",
              rules.map { case (label, b) => when(b, lit(label)) }: _*))
          // 1.5 (optional): LM-familiarity gate — q92's scoring against
          // the standing reference model; a doc survives iff its average
          // per-bigram familiarity (integer division, replayable) meets
          // the floor. Docs with NO bigrams produce no score row and are
          // rejected explicitly — the same no-silent-loss discipline as
          // the null_text rule. All score rows land in the lmDir audit
          // sink; rejects carry the low_lm_familiarity tag.
          val (quality, lmRejects) = lmCached match {
            case None => (preQuality, None)
            case Some(model) =>
              val scored = graft.operators.SearchOps
                .lmScore(preQuality.select(col("doc_id"), col("text")), model)
                .withColumn("lm_per_bigram",
                  expr("lm_score div n_bigrams"))
              val verdicts = use(preQuality.select(col("doc_id"))
                .join(scored, Seq("doc_id"), "left")
                .select(col("doc_id"),
                  coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
                  coalesce(col("n_hits"), lit(0L)).as("n_hits"),
                  coalesce(col("lm_score"), lit(0L)).as("lm_score"),
                  coalesce(col("lm_per_bigram"), lit(0L)).as("lm_per_bigram"))
                .persist())
              if (!verdicts.isEmpty)
                CheckpointStream.appendDiffs(verdicts, lmDir, batchId)
              val passIds = verdicts
                .filter(col("n_bigrams") > 0 && col("lm_per_bigram") >= minLmPerBigram)
                .select("doc_id")
              val failed = preQuality
                .join(passIds, Seq("doc_id"), "left_anti")
                .withColumn("reason", lit("low_lm_familiarity"))
              (preQuality.join(passIds, Seq("doc_id")), Some(failed))
          }
          // 1.75 (optional): language-ID gate — the q170 hashed-NB
          // trigram classifier against a STANDING model (trained once,
          // static for the query's life, the LM-gate discipline); a doc
          // survives iff its predicted language is in `langAllow`.
          // Verdicts land in the langDir audit sink; rejects join the
          // rejects sink tagged `lang_<pred>` (a doc yielding no verdict
          // rejects as lang_unknown — never a silent loss).
          val (gated, langRejects) = langCached match {
            case None => (quality, None)
            case Some(model) =>
              val verdicts = use(graft.operators.LangIdOps
                .predict(quality.select(col("doc_id"), col("text")), model)
                .persist())
              if (!verdicts.isEmpty)
                CheckpointStream.appendDiffs(verdicts, langDir, batchId)
              val withPred = quality.join(verdicts, Seq("doc_id"), "left")
              val pass = withPred
                .filter(col("pred_lang").isInCollection(langAllow))
                .drop("pred_lang")
              val rej = withPred
                .filter(!coalesce(col("pred_lang").isInCollection(langAllow),
                  lit(false)))
                .withColumn("reason",
                  concat(lit("lang_"), coalesce(col("pred_lang"), lit("unknown"))))
                .drop("pred_lang")
              (pass, Some(rej))
          }
          // ONE rejects append per batch (first-write-wins contract):
          // rule, LM, and language rejects union into the same generation
          val rejects = (Seq(ruleRejects) ++ lmRejects ++ langRejects)
            .reduce(_ unionByName _)
          if (!rejects.isEmpty)
            CheckpointStream.appendDiffs(rejects, rejectsDir, batchId)
          // 2. decontamination severity verdicts (all of them — the audit
          // trail carries the overlap fraction and band, q57's scoring),
          // survivors = within the configured tolerance
          val verdicts = use(DedupOps.contaminationScore(gated, evalCached, shingleN)
            .persist())
          if (!verdicts.isEmpty)
            CheckpointStream.appendDiffs(verdicts, decontamDir, batchId)
          val clean = use(gated
            .join(verdicts.filter(col("overlap_bp") <= maxOverlapBp)
              .select("doc_id"), Seq("doc_id"))
            .persist())
          // 3. near-dup guard: flags committed + batch ingested
          StreamNearDup.processBatch(clean, batchId, flagsDir, indexDir,
            threshold, minhashK, bands, rowsPerBand, bandBuckets, setsBuckets)
          // curated = clean minus THIS batch's committed flags — read
          // back rather than recomputed, so a replay (whose index
          // already holds the batch) writes the identical survivors
          val fs = new Path(flagsDir)
            .getFileSystem(sp.sparkContext.hadoopConfiguration)
          val batchFlagDir = s"$flagsDir/batch_id=$batchId"
          val flaggedIds =
            if (fs.exists(new Path(batchFlagDir, "_SUCCESS")))
              sp.read.parquet(batchFlagDir).select("doc_id").distinct()
            else clean.select("doc_id").limit(0)
          // survivors keep every wire column (plus n_tokens — the
          // stat downstream samplers/packers want); a deterministic
          // stratified sample (q41) applies at READ time, keeping the
          // curated store complete
          val curated = clean.join(flaggedIds, Seq("doc_id"), "left_anti")
            .drop("n_distinct")
          if (!curated.isEmpty)
            CheckpointStream.appendDiffs(curated, curatedDir, batchId)
        }.get
      }
    val query =
      (if (availableNow) writer.trigger(Trigger.AvailableNow())
       else writer.trigger(Trigger.ProcessingTime("1 second"))).start()
    QueryCaches.releaseOnTermination(spark, query,
      lmCached.toSeq ++ langCached.toSeq :+ evalCached)
  }
}
