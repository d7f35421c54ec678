package graft.operators

import graft.CacheLifecycle.unpersistOnRelease
import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.Using

/** Corpus-statistics operators for training-data curation: the n-gram
  * language-model familiarity score (the CCNet/KenLM perplexity-gate shape)
  * and inverted-index keyword retrieval with tf-idf ranking.
  *
  * Both operators keep scoring in EXACT INTEGER fixed-point (scaled
  * integral division, `div`), so every score replays bit-for-bit in the
  * DuckDB oracle — the same discipline as the quantized ANN scorer
  * (SimilarityOps q62): transcendental `ln`-based weights would hash-
  * diverge across libm implementations, scaled rationals cannot.
  */
object SearchOps {

  /** Fixed-point scale for probability/idf weights: 6 decimal digits. */
  private[graft] val Scale = 1000000L

  /** Escape a string as a Spark SQL literal — Spark's default parser uses
    * BACKSLASH escapes (doubled quotes are the ANSI/DuckDB form, wrong
    * here). Shared by every IN-list builder so a term containing ' or \
    * can never inject into a filter-lambda expression (round-13 ADVICE:
    * bm25Search interpolated raw).
    */
  private[graft] def sqlStringLit(t: String): String =
    "'" + t.replace("\\", "\\\\").replace("'", "\\'") + "'"

  private def words(c: Column): Column = split(lower(c), " ")

  /** Consecutive-pair (bigram) structs of the token array column `w`;
    * empty below 2 tokens. Built as `sequence(1, size)` + filter-out of
    * the one past-the-end pair (w[size] is null; split() never yields
    * null tokens) because Spark's `sequence` DESCENDS when start > stop
    * (sequence(0,-1) = [0,-1], not []) so the naive `sequence(0, n-2)`
    * corrupts 1-token rows. */
  private def bigrams: Column =
    // native kernel (r21); bit-identical to `bigramsBuiltins`,
    // parity-pinned in TextGramsSpec
    graft.functions.WordBigramPairs(col("w"))

  /** Pure-builtin reference form (slow path; parity-test oracle). */
  private[graft] def bigramsBuiltins: Column =
    expr("filter(transform(sequence(1, size(w)), i -> struct(w[i-1] AS w1, get(w, i) AS w2)), p -> p.w2 IS NOT NULL)")

  /** q92: bigram language-model familiarity score — the quality gate a
    * CCNet-style pipeline runs with a KenLM model, re-expressed with an
    * in-corpus model and integer arithmetic. The model is trained on the
    * `lang='en'` slice (the "reference corpus"); EVERY document is then
    * scored against it: each of the document's consecutive word pairs
    * contributes `floor(Scale * c(w1,w2) / c(w1,*))` — the scaled
    * conditional probability of that transition under the model — and
    * pairs the model has never seen contribute 0 and are counted as
    * misses. High `lm_score`/`n_bigrams` ≈ low perplexity.
    *
    * Scale shape: model training is one (w1,w2) groupBy + a w1 groupBy
    * (both map-side partially aggregated); scoring is an equi-join of the
    * corpus bigram stream against the weight table — vocabulary-sized, so
    * it broadcasts when small and shuffles when it genuinely is big. No
    * window, no collect, no cartesian.
    */
  def q92LmQuality(spark: SparkSession, dir: String): DataFrame =
    // narrow scan (r22): the widen exchange measured as a pure tax on
    // this pipeline (see Tables.documentsNarrow)
    lmQuality(Tables.documentsNarrow(spark, dir))

  /** Core of q92 over any frame with (doc_id, lang, text).
    *
    * r22 note: pinning the bigram stream (persist + eager count) was
    * measured SLOWER than recomputing it per consumer (2.07 → 2.41 s at
    * sf0.1) — the columnar cache write + string deserialization on read
    * costs more than re-running the scan + split + native-kernel explode
    * through whole-stage codegen. Left on the recompute shape.
    */
  private[graft] def lmQuality(docs: DataFrame): DataFrame =
    lmScore(docs, lmWeights(docs.where(col("lang") === "en")))
      .orderBy(col("doc_id"))

  /** Consecutive word pairs of a (doc_id, text) frame. */
  private def docBigrams(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), words(col("text")).as("w"))
    .select(col("doc_id"), explode(bigrams).as("bg"))
    .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))

  /** Train the bigram model: (w1, w2, weight) with
    * `weight = floor(Scale * c(w1,w2) / c(w1,*))` — the scaled conditional
    * transition probability, exact integer. */
  def lmWeights(ref: DataFrame): DataFrame = {
    val c2 = docBigrams(ref)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val c1 = c2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    c2.join(c1, Seq("w1"))
      .select(col("w1"), col("w2"),
        expr(s"(${Scale}L * c2) div c1").as("weight"))
  }

  /** q107: trigram LM with STUPID BACKOFF (Brants et al. 2007) — the
    * production n-gram shape q92's bigram model approximates: a
    * document's word transitions score by the trigram conditional
    * probability when the model has seen the trigram context, backing
    * off to `0.4 × P(bigram)` and then `0.4² × P(unigram)` otherwise.
    * All integer fixed-point: probabilities are 1e6-scaled floor
    * divisions and the 0.4 backoff multiplier is `(2 · x) div 5` —
    * replayable where float backoff chains would drift.
    *
    * Scale shape: three count tables (tri/bi/uni — each one partial-agg
    * groupBy of the en slice), one equi-join per level against the doc
    * transition stream, `coalesce` picks the deepest hit. No window, no
    * collect; the uni table is vocabulary-sized, tri is the big one and
    * joins shuffled exactly like q92's weight table.
    */
  def q107BackoffLm(spark: SparkSession, dir: String): DataFrame =
    // narrow scan (r22): the widen exchange measured as a pure tax on
    // this pipeline (see Tables.documentsNarrow)
    backoffLm(Tables.documentsNarrow(spark, dir))

  /** Core of q107 over any (doc_id, lang, text) frame. */
  private[graft] def backoffLm(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), col("lang"), words(col("text")).as("w"))
    // transitions with two words of context: (w1, w2, w3) at each i ≥ 2
    // native transition kernel (r21); bit-identical to the builtin
    // filter/transform/sequence form (parity-pinned in TextGramsSpec)
    // r22 note, two measured dead ends kept OUT: (a) pinning this
    // exploded stream (persist + eager count) was SLOWER than
    // recomputing it per consumer (4.0 → 5.7 s at sf0.1) — columnar
    // cache write + string deserialization cost more than re-running
    // the scan + split + native WordTransitions explode through
    // whole-stage codegen; (b) SHUFFLE_HASH hints on the scoring joins
    // were SLOWER too (3.8 → 4.3 s) — AQE already broadcast-joins every
    // weight table at runtime, and the hint forced a shuffle of the
    // transition stream instead. Left on the recompute + AQE shape.
    val trans = toks
      .select(col("doc_id"), col("lang"),
        explode(graft.functions.WordTransitions(col("w"))).as("t"))
      .select(col("doc_id"), col("lang"),
        col("t.w1").as("w1"), col("t.w2").as("w2"), col("t.w3").as("w3"))
    val en = trans.where(col("lang") === "en")
    // counts: c3(w1,w2,w3) / ctx3(w1,w2); c2(w2,w3) / ctx2(w2); c1(w3) / n
    val c3 = en.where(col("w1").isNotNull)
      .groupBy(col("w1"), col("w2"), col("w3")).agg(count(lit(1)).as("c3"))
    val ctx3 = c3.groupBy(col("w1"), col("w2")).agg(sum(col("c3")).as("ctx3"))
    val c2 = en.groupBy(col("w2"), col("w3")).agg(count(lit(1)).as("c2"))
    val ctx2 = c2.groupBy(col("w2")).agg(sum(col("c2")).as("ctx2"))
    val c1 = en.groupBy(col("w3")).agg(count(lit(1)).as("c1"))
    val n1 = c1.agg(sum(col("c1")).as("n1"))
    val w3t = c3.join(ctx3, Seq("w1", "w2"))
      .select(col("w1"), col("w2"), col("w3"),
        expr(s"(${Scale}L * c3) div ctx3").as("p3"))
    val w2t = c2.join(ctx2, Seq("w2"))
      .select(col("w2"), col("w3"), expr(s"(${Scale}L * c2) div ctx2").as("p2"))
    val w1t = c1.join(broadcast(n1))
      .select(col("w3"), expr(s"(${Scale}L * c1) div n1").as("p1"))
    trans
      .join(w3t, Seq("w1", "w2", "w3"), "left")
      .join(w2t, Seq("w2", "w3"), "left")
      .join(w1t, Seq("w3"), "left")
      .select(col("doc_id"),
        coalesce(col("p3"),
          expr("(2 * p2) div 5"),
          expr("(4 * p1) div 25"),
          lit(0L)).as("score"),
        when(col("p3").isNotNull, 3)
          .when(col("p2").isNotNull, 2)
          .when(col("p1").isNotNull, 1).otherwise(0).as("level"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_trans"),
        sum(col("score")).as("lm_score"),
        sum(when(col("level") === 3, 1L).otherwise(0L)).as("n_tri"),
        sum(when(col("level") === 2, 1L).otherwise(0L)).as("n_bi"),
        sum(when(col("level") === 1, 1L).otherwise(0L)).as("n_uni"))
      .orderBy(col("doc_id"))
  }

  /** Score every document's bigrams against a trained weight table:
    * (doc_id, n_bigrams, n_hits, lm_score). Documents with fewer than two
    * tokens have no bigrams and produce no row — callers gating on the
    * score must treat absence as score-less (the streaming gate rejects
    * them explicitly). */
  def lmScore(docs: DataFrame, weights: DataFrame): DataFrame =
    docBigrams(docs)
      .join(weights, Seq("w1", "w2"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        count(col("weight")).as("n_hits"),
        coalesce(sum(col("weight")), lit(0L)).as("lm_score"))

  /** The q93 query workload: five fixed multi-term keyword queries over
    * the corpus vocabulary (SURVEY §1.2's synthetic `documents` table
    * draws from a SQL-ish word list). */
  private[graft] val SearchQueries: Seq[(Int, String)] = Seq(
    1 -> "hash join spark",
    2 -> "stream window batch",
    3 -> "query scan filter",
    4 -> "sort merge table",
    5 -> "vector data column")

  /** q93: inverted-index keyword search with tf-idf ranking — top-5
    * documents per query, scored `sum over query terms of
    * tf(term, doc) * floor(Scale * N / df(term))`. The reciprocal-df
    * weight is the integer-exact stand-in for `ln(N/df)`: same ordering
    * on a fixed corpus, but replayable (see object scaladoc).
    *
    * Scale shape: the postings list `tf` is built ONLY for the query
    * vocabulary — `isin(terms)` prunes at the explode, so the shuffle
    * carries O(matching postings), not the whole corpus index. Document
    * frequency and N come from aggregates of that same pruned frame (the
    * 1-row N frame joins by broadcast — no driver collect). Per-query
    * top-5 uses the BoundedTopK partial aggregate: each map task keeps at
    * most 5 candidates per query, so the final shuffle is O(queries · k)
    * regardless of corpus size — the q58 shape, not a global sort.
    */
  def q93KeywordSearch(spark: SparkSession, dir: String): DataFrame =
    keywordSearch(spark, Tables.documents(spark, dir), SearchQueries, k = 5)

  /** Core of q93: rank the top-k documents per keyword query. */
  private[graft] def keywordSearch(
      spark: SparkSession, docs: DataFrame,
      queries: Seq[(Int, String)], k: Int): DataFrame = {
    import spark.implicits._
    val terms = queries
      .flatMap { case (qid, q) => q.split(" ").map(t => (qid, t)) }
      .toDF("query_id", "term")
    val vocab = queries.flatMap(_._2.split(" ")).distinct
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val postings = docs
      .select(col("doc_id"), explode(words(col("text"))).as("term"))
      .where(col("term").isin(vocab: _*))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val weights = dfreq.join(broadcast(nDocs))
      .select(col("term"), expr(s"(${Scale}L * n_docs) div df").as("weight"))
    val scored = terms
      .join(postings, Seq("term"))
      .join(broadcast(weights), Seq("term"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("tf") * col("weight")).as("score"))
    // BoundedTopK orders its struct key descending: (score, -doc_id)
    // descending == score desc, doc_id asc — the deterministic tie-break
    val key = struct(col("score").as("score"), (-col("doc_id")).as("neg_id"))
    scored
      .groupBy(col("query_id"))
      .agg(graft.functions.BoundedTopK(key, k).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(
        col("query_id"),
        (col("pos") + 1).cast("long").as("rank"),
        (-col("col.neg_id")).as("doc_id"),
        col("col.score").as("score"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** q116: DECONTAMINATION BY RETRIEVAL — the way large-scale pipelines
    * actually audit benchmark leakage when shingle overlap is too blunt
    * (a paraphrased eval item shares few exact 5-grams but its rare
    * terms still retrieve it): each eval document's RAREST terms (top
    * `maxQueryTerms` by corpus df ascending, term ascending — the
    * deterministic rare-terms query) form a BM25 query against the
    * training corpus, and the top-k hits with their exact integer scores
    * are the audit trail; `flagged` applies the score threshold. The
    * q40/q57/q63 shingle family answers "is this exact text present";
    * this answers "which training documents LOOK like this eval item" —
    * complementary verdicts, same error-as-audit discipline.
    *
    * Scale shape: the eval set is a benchmark — thousands of documents,
    * the q40 broadcast assumption — so its vocabulary bounds everything:
    * ONE corpus token scan (IN-list-filtered before explode under
    * `vocabInlineMax`, broadcast-vocab-joined above it) groups to
    * (candidate term, doc_id, tf, dl), and that single exchange subtree
    * serves BOTH the df frame (count per term over the grouped frame)
    * and the selected-term postings — ReuseExchange runs the scan and
    * the full-token shuffle exactly once. Term selection runs as a
    * window over the eval-vocab-sized df frame (bounded by eval
    * vocabulary, never the corpus). Scoring and ranking are exactly
    * q113's integer BM25 + BoundedTopK.
    */
  def q116DecontaminateRetrieval(spark: SparkSession, dir: String): DataFrame =
    q116With(spark, dir)(_.localCheckpoint())

  /** q116 through `decontaminateByRetrieval`, the lazy plan to `finish`. */
  private[graft] def q116With[A](spark: SparkSession, dir: String)(finish: DataFrame => A): A =
    decontaminateByRetrieval(spark, Tables.documents(spark, dir),
      Tables.documents(spark, dir).where(col("doc_id") % 20 === 0)
        .select(col("doc_id").as("eval_id"), col("text")))(finish)

  /** Core of q116. `minScoreFp` is the flagging threshold at Scale.
    * `finish` gets the lazy result while the pins below live.
    */
  private[graft] def decontaminateByRetrieval[A](
      spark: SparkSession, docs: DataFrame, evalSet: DataFrame,
      k: Int = 3, maxQueryTerms: Int = 8,
      minScoreFp: Long = 8000000L,
      vocabInlineMax: Int = 4096)(finish: DataFrame => A): A = Using.Manager { use =>
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // distinct (eval_id, term) — the candidate query vocabulary. PINNED
    // (r22, guide §5): it feeds the vocab-probe collect, the rare-term
    // selection window, and (in the distributed regime) the broadcast
    // vocab join — each reference re-ran the eval scan + tokenize +
    // distinct. Eval sets are benchmark-sized, so the pin is bounded.
    val evalTerms = use(evalSet
      .select(col("eval_id"), explode(words(col("text"))).as("term"))
      .distinct()
      .persist())
    // ONE corpus token scan feeds BOTH the df frame and the postings
    // (round-15 rework — q116 was the most expensive bench line because
    // df and postings each paid a full scan + full-token-stream
    // shuffle): tokens restrict to the CANDIDATE vocab, group once to
    // (term, doc_id, tf, dl), and the identical exchange subtree is
    // consumed by the df aggregate and the selected-term filter —
    // Spark's ReuseExchange runs the scan + shuffle ONCE. Two vocab
    // regimes (round-13 ADVICE #5) keyed off the candidate vocab: a
    // benchmark-sized vocab inlines as a literal IN-list so the token
    // filter runs BEFORE explode and only matching occurrences ever
    // materialize; past `vocabInlineMax` the vocab stays distributed
    // and the token stream joins the BROADCAST vocab (same occurrence
    // semantics). The limit-probe collects at most vocabInlineMax+1
    // terms, so the driver never materializes an oversized vocabulary.
    val candVocab = evalTerms.select(col("term")).distinct()
    val probeN = math.min(vocabInlineMax.toLong + 1L, Int.MaxValue.toLong).toInt
    val probe = candVocab.limit(probeN).collect().map(_.getString(0))
    require(probe.nonEmpty, "eval set selected no query terms")
    // ONE corpus tokenize pass (r22, guide §5): the corpus-stats
    // aggregate and the matching-token stream previously each re-ran the
    // scan + split pipeline. In the inline-vocab regime the per-doc row
    // (dl, vocab-filtered tokens) is pinned — corpus-bounded but NARROW
    // (one long + the matching occurrences, not the full token array) —
    // and both consumers read it; the distributed-vocab regime keeps the
    // two-pass shape (pinning full token arrays would dwarf the scan).
    val inlineToks =
      if (probe.length <= vocabInlineMax) {
        val inList = probe.sorted.map(sqlStringLit).mkString(", ")
        Some(use(docs
          .select(col("doc_id"), words(col("text")).as("w"))
          .select(col("doc_id"), size(col("w")).cast("long").as("dl"),
            expr(s"filter(w, t -> t IN ($inList))").as("wf"))
          .persist()))
      } else None
    // eager materialization: the probe collect above ran under a LIMIT
    // (may leave the cache partially populated) and the downstream
    // consumers share one action — concurrent first reads would
    // recompute the unpopulated partitions
    evalTerms.count()
    inlineToks.foreach(_.count())
    val stats = inlineToks
      .map(_.select(col("dl"))
        .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_tokens")))
      .getOrElse(docs
        .select(size(words(col("text"))).cast("long").as("dl"))
        .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_tokens")))
    val matches = inlineToks
      .map(_.select(col("doc_id"), col("dl"), explode(col("wf")).as("term")))
      .getOrElse(docs
        .select(col("doc_id"), words(col("text")).as("w"))
        .select(col("doc_id"), size(col("w")).cast("long").as("dl"),
          explode(col("w")).as("term"))
        .join(broadcast(candVocab), Seq("term")))
    // per (candidate term, doc) stats — df is a count over this frame
    // (grouped by (term, doc_id), so count(1) per term IS distinct-doc
    // df), postings a broadcast-filter of it to the selected terms
    val candPostings = matches
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    val dfAll = candPostings.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // rare-terms query: per eval doc, top maxQueryTerms by (df asc, term)
    val wSel = Window.partitionBy(col("eval_id")).orderBy(col("df"), col("term"))
    val queryTerms = evalTerms.join(broadcast(dfAll), Seq("term"))
      .withColumn("rn", row_number().over(wSel))
      .filter(col("rn") <= maxQueryTerms)
      .select(col("eval_id"), col("term"), col("df"))
    val postings = candPostings
      .join(broadcast(queryTerms.select(col("term")).distinct()), Seq("term"))
    val scored = queryTerms
      .join(postings, Seq("term"))
      .join(broadcast(stats))
      // a corpus-resident eval doc trivially retrieves itself — exclude
      .filter(col("doc_id") =!= col("eval_id"))
      .withColumn("idf_fp",
        expr(s"(${Scale}L * (2 * (n_docs - df) + 1)) div (2 * df + 1)"))
      .withColumn("r_fp", expr(s"(${Scale}L * dl * n_docs) div total_tokens"))
      .withColumn("den_fp",
        expr(s"tf * ${Scale}L + (3L * ${Scale}L + 9L * r_fp) div 10"))
      .withColumn("tfs_fp",
        expr(s"((22L * tf * ${Scale}L div 10) * ${Scale}L) div den_fp"))
      .withColumn("contrib", expr(s"(idf_fp * tfs_fp) div ${Scale}L"))
      .groupBy(col("eval_id"), col("doc_id"))
      .agg(sum(col("contrib")).as("score_fp"))
    val key = struct(col("score_fp").as("score_fp"), (-col("doc_id")).as("neg_id"))
    finish(scored
      .groupBy(col("eval_id"))
      .agg(graft.functions.BoundedTopK(key, k).as("top"))
      .select(col("eval_id"), posexplode(col("top")))
      .select(
        col("eval_id"),
        (col("pos") + 1).cast("long").as("rank"),
        (-col("col.neg_id")).as("doc_id"),
        col("col.score_fp").as("score_fp"),
        (col("col.score_fp") >= minScoreFp).cast("int").as("flagged"))
      .orderBy(col("eval_id"), col("rank")))
  }.get

  /** q113: BM25 retrieval (Robertson–Spärck-Jones) — the standard
    * production ranking function a decontamination-by-retrieval pipeline
    * actually runs, beside q93's reciprocal-df scorer: term-frequency
    * SATURATION (`tf·(k1+1)/(tf+k1·…)` — a 100-fold repeated term scores
    * barely above a 5-fold one) and LENGTH NORMALIZATION (`b·dl/avgdl` —
    * a match in a short document outranks the same tf buried in a long
    * one), with k1=1.2, b=0.75. All EXACT INTEGER fixed-point (the
    * q92/q107 discipline): the RSJ document-frequency ratio
    * `(2(N−df)+1)/(2df+1)` replaces the usual `ln` form — same ordering,
    * zero libm drift — and the saturation term nests floor divisions the
    * oracle replays verbatim.
    *
    * int64 headroom (documented per the q109/q111 discipline): the
    * saturated-tf numerator is `Scale² · 2.2 · tf` → tf ≤ ~4e6; the
    * length ratio needs `Scale·dl·N ≤ 2^63` → dl·N ≤ 9.2e12 (1e9 docs of
    * 1e3 tokens fits); idf·tfs ≤ Scale·2N · 2.2·Scale → N ≤ ~2e6 per
    * scored segment before contrib overflows — shard or drop Scale to
    * 1e3 beyond.
    *
    * Scale shape: the length/count stats are ONE corpus aggregate (1 row,
    * broadcast); per-document length rides the token stream via an array
    * `filter` BEFORE the explode, so the shuffle carries only matching
    * postings with dl attached — no corpus-wide doc-length join. Top-5
    * per query via BoundedTopK (O(queries·k) final shuffle).
    */
  def q113Bm25(spark: SparkSession, dir: String): DataFrame =
    bm25Search(spark, Tables.documents(spark, dir), SearchQueries, k = 5)

  /** Core of q113: BM25 top-k per keyword query, integer fixed-point. */
  private[graft] def bm25Search(
      spark: SparkSession, docs: DataFrame,
      queries: Seq[(Int, String)], k: Int): DataFrame = {
    import spark.implicits._
    val terms = queries
      .flatMap { case (qid, q) => q.split(" ").map(t => (qid, t)) }
      .toDF("query_id", "term")
    val vocab = queries.flatMap(_._2.split(" ")).distinct
    val inList = vocab.map(sqlStringLit).mkString(", ")
    // one corpus aggregate: document count and total token mass (avgdl's
    // exact numerator/denominator — never a rounded average)
    val stats = docs
      .select(size(words(col("text"))).cast("long").as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_tokens"))
    // vocab-filter INSIDE the token array, then explode: dl attaches to
    // each surviving occurrence without a second corpus scan or join
    val matches = docs
      .select(col("doc_id"), words(col("text")).as("w"))
      .select(col("doc_id"), size(col("w")).cast("long").as("dl"),
        explode(expr(s"filter(w, t -> t IN ($inList))")).as("term"))
    val postings = matches
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    val dfreq = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // RSJ idf as an exact scaled rational: (N - df + ½) / (df + ½)
    val weights = dfreq.join(broadcast(stats))
      .select(col("term"),
        expr(s"(${Scale}L * (2 * (n_docs - df) + 1)) div (2 * df + 1)")
          .as("idf_fp"))
    val scored = terms
      .join(postings, Seq("term"))
      .join(broadcast(weights), Seq("term"))
      .join(broadcast(stats))
      // r_fp = dl/avgdl at Scale; den_fp = tf + k1·(1−b+b·r), all ·Scale;
      // tfs_fp = saturated tf term at Scale (≤ 2.2·Scale)
      .withColumn("r_fp", expr(s"(${Scale}L * dl * n_docs) div total_tokens"))
      .withColumn("den_fp",
        expr(s"tf * ${Scale}L + (3L * ${Scale}L + 9L * r_fp) div 10"))
      .withColumn("tfs_fp",
        expr(s"((22L * tf * ${Scale}L div 10) * ${Scale}L) div den_fp"))
      .withColumn("contrib", expr(s"(idf_fp * tfs_fp) div ${Scale}L"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("contrib")).as("score_fp"))
    val key = struct(col("score_fp").as("score_fp"), (-col("doc_id")).as("neg_id"))
    scored
      .groupBy(col("query_id"))
      .agg(graft.functions.BoundedTopK(key, k).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(
        col("query_id"),
        (col("pos") + 1).cast("long").as("rank"),
        (-col("col.neg_id")).as("doc_id"),
        col("col.score_fp").as("score_fp"))
      .orderBy(col("query_id"), col("rank"))
  }
}
