package graft.operators

import graft.CacheLifecycle.unpersistOnRelease
import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.Using

/** End-to-end corpus curation — the composed pipeline a training-data team
  * actually runs before a corpus goes near a tokenizer, assembled from the
  * engine's individually-verified stages:
  *
  *   1. QUALITY filter (q19's statistics): minimum token count and a
  *      minimum distinct-token ratio (the repetition/boilerplate cut).
  *      Thresholds compare as integer cross-products (`distinct * 10 >=
  *      tokens * 3`), never as floats, so the oracle matches exactly.
  *   2. NEAR-DUP resolution (q20/q36's pair set + connected components):
  *      only each duplicate group's canonical representative (minimum
  *      doc_id) survives; singletons pass untouched.
  *   3. DECONTAMINATION (q40): any document sharing a 5-gram shingle with
  *      the held-out eval set is dropped — train/test leakage is the one
  *      defect a later stage cannot repair.
  *   4. STRATIFIED SAMPLE (q41): deterministic per-language keep rates via
  *      integer multiply-mod keying — replayable, RNG-free.
  *
  * Scale shape (100 TB): stage 1 is a codegen filter at scan speed; stage
  * 2 is the banded LSH candidate join (never all-pairs) plus label
  * propagation over the tiny above-threshold pair set; stage 3 is a
  * broadcast semi-join (eval shingles are small by construction — the held
  * -out set is benchmarks, not corpora); stage 4 is a pure filter. The
  * composition adds NO shuffle beyond what its stages already pay, and the
  * stage order is deliberate: each stage shrinks the corpus the next one
  * scans, with the cheapest cuts first.
  *
  * Composition is oracle-checked end-to-end as q45 (the four stages'
  * verified DuckDB fragments chained as CTEs), not just stage-by-stage:
  * a composition bug (wrong column threaded, wrong anti-join side) would
  * pass four stage oracles and still corrupt the corpus.
  */
object CurateOps {

  /** Curate `docs` against the held-out `evalSet`. Returns the surviving
    * rows as (doc_id, lang, source, n_tokens).
    *
    * `pairCorpus`: the corpus the near-dup pair set is computed over
    * (defaults to `docs`). Jaccard is pairwise, so restricting a LARGER
    * corpus's pair set to quality-survivor endpoints yields exactly the
    * induced subgraph — identical components, identical canonicals.
    * Passing the FULL table here lets the persisted pair set share its
    * plan-keyed cache slot with q20/q36 (one LSH materialization serves
    * the audit, the resolution, AND the curation).
    */
  def curate(
      docs: DataFrame,
      evalSet: DataFrame,
      minTokens: Int = 10,
      minDistinctPct: Int = 30,
      rates: Map[String, Double] = Map("en" -> 0.8, "zh" -> 0.25),
      defaultRate: Double = 0.5,
      threshold: Double = 0.9,
      pairCorpus: Option[DataFrame] = None): DataFrame = {
    require(minDistinctPct >= 0 && minDistinctPct <= 100)
    val tokens = split(col("text"), " ")
    // 1. quality: integer cross-product comparison, float-free
    val quality = docs
      .withColumn("n_tokens", size(tokens))
      .withColumn("n_distinct", size(array_distinct(tokens)))
      .filter(col("n_tokens") >= minTokens &&
        col("n_distinct") * 100 >= col("n_tokens") * minDistinctPct)
    // 2. near-dup groups over the quality survivors (induced subgraph of
    // the pair-corpus graph); non-canonical members (label < own id) are
    // dropped via a broadcast-friendly anti-join — the non-canonical set
    // is bounded by the pair count, not the corpus
    val allPairs = DedupOps
      .minhashNearDup(pairCorpus.getOrElse(quality), threshold).persist()
    val ids = quality.select(col("doc_id"))
    val pairs = allPairs
      .join(ids.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"), "left_semi")
      .join(ids.withColumnRenamed("doc_id", "doc_b"), Seq("doc_b"), "left_semi")
    val nonCanonical = DedupOps.dedupGroups(pairs)
      .filter(col("group_id") < col("doc_id"))
      .select(col("doc_id"))
    // dedupGroups ran its propagation EAGERLY above, so the pair set's
    // pin has served its purpose. With an explicit pairCorpus it is the
    // declared slot q20/q36/q45 share (CacheLifecycle) and stays.
    if (pairCorpus.isEmpty) { allPairs.unpersist(); () }
    val deduped = quality.join(nonCanonical, Seq("doc_id"), "left_anti")
    // 3. decontamination: keep only zero-overlap documents
    val kept = DedupOps.decontaminate(deduped, evalSet)
      .filter(col("keep")).select(col("doc_id"))
    val clean = deduped.join(kept, Seq("doc_id"))
    // 4. deterministic stratified sample
    SampleOps.stratifiedSample(clean, "lang", "doc_id", rates, defaultRate)
      .select(col("doc_id"), col("lang"), col("source"), col("n_tokens"))
  }

  /** q45: the composed curation over the documents corpus, with the
    * `doc_id % 20 == 0` rows as the held-out eval set (q40's convention)
    * and q41's sampling rates. Every stage is ACTIVE on this corpus: the
    * distinct-ratio cut drops low-vocabulary documents, the corpus holds
    * real near-dup groups (q20), eval 5-gram collisions exist (q40), and
    * the sample removes its complement.
    */
  def q45Curate(spark: SparkSession, dir: String): DataFrame = {
    val all = Tables.documents(spark, dir)
    curate(
      all.filter(col("doc_id") % 20 =!= 0),
      all.filter(col("doc_id") % 20 === 0),
      // full-corpus pair set == q20/q36's analyzed plan → one shared
      // LSH materialization across audit, resolution and curation
      pairCorpus = Some(all))
      .orderBy(col("doc_id"))
  }

  /** q77: the ROUND-11 operators composed into a corpus-build report —
    * Gopher quality gate (q75) → repeated-span removal over the kept
    * corpus (q70's algebra; the frequent set and its relative threshold
    * are learned on the POST-GATE corpus, which is the composition's
    * point) → per-language exact length profile of the CLEANED token
    * counts through the `CountHistogram` aggregate (q73's machinery).
    * "What does the corpus look like after cleaning" is the report a
    * data team reads before tokenizer sizing; every stage is an
    * individually-verified fragment and the oracle chains their SQL
    * (q45's discipline).
    *
    * Scale shape: the gate is a codegen filter; strip is the q70
    * broadcast shape over the smaller kept corpus; the profile is one
    * histogram aggregation — no window over any row stream.
    */
  def q77CleanProfile(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val kept = docs.join(
      TextOps.gopherQuality(docs).filter(col("keep") === 1).select("doc_id"),
      Seq("doc_id"))
    val stripped = TextOps.stripBoilerplate(kept)
      .select(col("doc_id"),
        (col("n_tokens") - col("removed_tokens")).as("kept_tokens"))
    val hist = stripped
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(graft.functions.CountHistogram(col("kept_tokens")).as("hist"))
    TextOps.profileFromHistogram(hist).orderBy(col("lang"))
  }

  /** q205: hashed-n-gram IMPORTANCE SCORING for data selection — the
    * DSIR shape (Xie et al. 2023, "Data Selection for Language Models
    * via Importance Resampling"): word bigrams hash into 4096 buckets
    * (portable md5 nibbles, the q65–q67 discipline), a TARGET sample
    * (here the deterministic doc_id % 10 == 0 slice standing in for
    * the curated domain) and the RAW corpus each yield a smoothed
    * bucket distribution, and every document scores
    * `Σ_b c_doc(b) · S(b)` where `S(b)` is the add-one-smoothed
    * target/raw likelihood ratio. Per this repo's portable-oracle
    * discipline (q109's integer IDF), `S` is the ratio scaled to 1e4
    * and FLOOR-DIVIDED as exact integers rather than a float
    * log-ratio — the ranking the weights induce is what downstream
    * selection consumes, and exact integers are what a DuckDB oracle
    * can replay bit-for-bit. `selected` flags above-corpus-mean
    * documents by integer cross-product (score · n_docs ≥ Σ scores),
    * the distributed-exact selection rule (a global top-k rank would
    * funnel every score through one reducer; a fixed mean threshold
    * is one aggregate + a broadcast).
    *
    * Scale shape (100 TB): two feature-count shuffles (doc×bucket,
    * then bucket), a 4096-row weight table BROADCAST back, one
    * per-doc score aggregation, 1-row totals cross-joined broadcast —
    * no window, no global sort before the output ORDER. Products run
    * in DECIMAL(38,0) (HUGEINT on the oracle side) so corpus-scale
    * counts cannot wrap.
    */
  def q205ImportanceSample(spark: SparkSession, dir: String): DataFrame =
    importanceSampleWith(spark, dir)(_.localCheckpoint())

  /** q205's lazy plan, handed to `finish` while its two pins live. */
  private[graft] def importanceSampleWith[A](spark: SparkSession, dir: String)(
      finish: DataFrame => A): A = {
    // narrow scan (r22): measured widen tax (see Tables widen-policy note)
    Tables.documentsNarrow(spark, dir).createOrReplaceTempView("documents_q205")
    Using.Manager { use =>
      // the per-(doc, bucket) counts feed BOTH the weight fit and the
      // scoring pass; materialize once instead of letting CTE inlining
      // recompute the feature extraction twice
      use(spark.sql(
        """SELECT doc_id,
          |  CAST(conv(substring(md5(f), 1, 3), 16, 10) AS BIGINT) AS b,
          |  COUNT(*) AS c
          |FROM (
          |  SELECT doc_id, explode(CASE WHEN size(w) >= 2 THEN
          |    transform(sequence(0, size(w) - 2),
          |      i -> concat_ws(' ', element_at(w, i + 1), element_at(w, i + 2)))
          |    ELSE CAST(array() AS array<string>) END) AS f
          |  FROM (SELECT doc_id, split(lower(text), ' ') AS w
          |        FROM documents_q205))
          |GROUP BY doc_id, b""".stripMargin)
        .persist())
        .createOrReplaceTempView("dc_q205")
      // per-doc scores also feed two consumers (the mean aggregate and
      // the final projection) — materialize them too
      val scored = use(spark.sql(
        """WITH bc AS (SELECT b, SUM(c) AS cr,
          |    SUM(CASE WHEN doc_id % 10 = 0 THEN c ELSE CAST(0 AS BIGINT) END)
          |      AS ct
          |  FROM dc_q205 GROUP BY b),
          |tot AS (SELECT SUM(cr) AS r_tot, SUM(ct) AS t_tot FROM bc),
          |wt AS (
          |  SELECT bc.b,
          |    CAST((CAST(bc.ct + 1 AS DECIMAL(38, 0))
          |            * CAST(tot.r_tot + 4096 AS DECIMAL(38, 0)) * 10000)
          |         div (CAST(bc.cr + 1 AS DECIMAL(38, 0))
          |            * CAST(tot.t_tot + 4096 AS DECIMAL(38, 0)))
          |      AS BIGINT) AS s
          |  FROM bc CROSS JOIN tot)
          |SELECT dc.doc_id, SUM(dc.c) AS n_features,
          |  CAST(SUM(CAST(dc.c AS DECIMAL(38, 0)) * wt.s) AS BIGINT)
          |    AS imp_score
          |FROM dc_q205 dc JOIN wt ON dc.b = wt.b GROUP BY dc.doc_id"""
          .stripMargin)
        .persist())
      // the final pass reuses the `scored` OBJECT on both consumers so
      // cache reuse is by construction, not by plan matching
      val agg = broadcast(scored.agg(
        count(lit(1)).as("n_docs"),
        sum(col("imp_score")).cast("decimal(38,0)").as("s_sum")))
      finish(Tables.documents(spark, dir).select(col("doc_id"))
        .join(scored, Seq("doc_id"), "left")
        .crossJoin(agg)
        .select(col("doc_id"),
          coalesce(col("n_features"), lit(0L)).as("n_features"),
          coalesce(col("imp_score"), lit(0L)).as("imp_score"),
          (coalesce(col("imp_score"), lit(0L)).cast("decimal(38,0)") *
            col("n_docs") >= col("s_sum")).as("selected"))
        .orderBy(col("doc_id")))
    }.get
  }
}
