package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: token/char
  * statistics and quality ratios (q19, oracle-checked), marker-based
  * language identification, and winnowing document fingerprints over
  * rolling char-n-gram hashes. Everything is per-row codegen'd built-ins —
  * no UDFs, no shuffles beyond the final sort.
  */
object TextOps {

  private val Stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "on")

  /** q19: per-document text statistics. Single-space tokenization matches
    * the corpus format and the DuckDB oracle's string_split exactly; every
    * ratio is an explicit double division of exact ints.
    */
  def q19TextStats(spark: SparkSession, dir: String): DataFrame = {
    val text = col("text")
    val tokens = split(text, " ")
    val nTokens = size(tokens)
    val nChars = length(text)
    val punct = nChars - length(regexp_replace(text, "[.,!?;:]", ""))
    val stop = size(filter(tokens, t => t.isin(Stopwords: _*)))
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        nChars.as("n_chars"),
        nTokens.as("n_tokens"),
        size(array_distinct(tokens)).as("n_distinct_tokens"),
        ((nChars - (nTokens - lit(1))).cast("double") / nTokens.cast("double")).as("avg_token_len"),
        (stop.cast("double") / nTokens.cast("double")).as("stopword_ratio"),
        (punct.cast("double") / nChars.cast("double")).as("punct_ratio"))
      .orderBy(col("doc_id"))
  }

  /** Marker-word language-ID heuristic: score each candidate language by
    * distinct marker hits and take the argmax via ordered structs
    * (deterministic tie-break on the language code); no markers → "und".
    * At 100 TB this is one codegen'd projection — no shuffle, no lookup
    * table join.
    */
  private val LangMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "with", "is"),
    "es" -> Seq("el", "la", "de", "los", "las", "es", "y"),
    "de" -> Seq("der", "die", "das", "und", "ist", "mit"),
    "fr" -> Seq("le", "la", "les", "des", "est", "et"))

  def langId(text: Column): Column = {
    val tokens = array_distinct(split(lower(text), " "))
    val scored = array(LangMarkers.toSeq.sortBy(_._1).map { case (lang, markers) =>
      struct(
        size(array_intersect(tokens, typedlit(markers))).as("score"),
        lit(lang).as("lang"))
    }: _*)
    val best = array_max(scored)
    when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** BPE-ish pre-tokenizer pattern: letter runs, single digits (BPE vocabs
    * split numbers digit-wise), and single non-alphanumeric marks — the
    * GPT-2-style pre-split shape reduced to the regex subset that Java
    * (Spark) and RE2 (DuckDB) interpret identically, so the count is
    * oracle-checkable across engines.
    */
  val BpeTokenPattern = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"

  /** q31: token counting two ways — whitespace tokens (the cheap corpus
    * statistic) and BPE-ish regex tokens (the LLM-budget estimate) — plus
    * the chars-per-token compression ratio. One codegen'd projection, no
    * shuffle (q19's scale shape).
    */
  def q31TokenCount(spark: SparkSession, dir: String): DataFrame = {
    val nBpe = size(expr(s"regexp_extract_all(text, '$BpeTokenPattern', 0)"))
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        size(split(col("text"), " ")).as("n_ws_tokens"),
        nBpe.as("n_bpe_tokens"),
        when(nBpe > 0, length(col("text")).cast("double") / nBpe.cast("double"))
          .as("chars_per_token"))
      .orderBy(col("doc_id"))
  }

  /** BPE token stream of a text column: the engine's fixed merges table
    * (`BpeFold.Merges`) applied to the regex pre-tokens of the lowercased
    * text — REAL subword counts for length profiles (q81), packing
    * budgets (q82), and vocab work, where q31's whitespace/pre-token
    * counts only approximate. One native per-row fold (`BpeTokens`).
    */
  def bpeTokens(text: Column): Column =
    graft.functions.BpeTokens(
      regexp_extract_all(lower(text), lit(BpeTokenPattern), lit(0)))

  /** q80: per-document BPE tokenization — subword count and an md5 digest
    * over the space-joined token stream, both replayed merge-for-merge by
    * the SQL oracle's recursive CTE (one-pair-at-a-time application,
    * equivalent for a well-formed table — see `BpeFold`).
    */
  def q80BpeTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .repartition(col("doc_id")) // spread the merge-loop CPU
      .select(col("doc_id"), bpeTokens(col("text")).as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_bpe"),
        md5(concat_ws(" ", col("toks")).cast("binary")).as("tok_digest"))
      .orderBy(col("doc_id"))

  /** q81: q54's per-language length profile over REAL BPE subword counts
    * (the statistic a training pipeline actually budgets with) — same
    * histogram-percentile machinery, same oracle rule, token counts from
    * the shared merges table.
    */
  def q81BpeLengthProfile(spark: SparkSession, dir: String): DataFrame =
    tokenLengthProfile(Tables.documents(spark, dir)
      .repartition(col("doc_id")) // spread the merge-loop CPU
      .select(col("lang"),
        size(bpeTokens(col("text"))).cast("long").as("n_tokens")))

  /** q108: BPE TRAINING — learning the merges table itself, not just
    * applying one (q80). The textbook algorithm over the `lang='en'`
    * word-frequency table: states start as space-joined characters, and
    * each step counts adjacent symbol pairs (frequency-weighted,
    * multiplicity included), picks the most frequent pair with the
    * deterministic (count DESC, left ASC, right ASC) tie-break, and
    * rewrites every state by left-to-right non-overlapping replacement —
    * `replace(s, ' l r ', ' lr ')`, the same primitive with identical
    * semantics in the JVM and the oracle, which replays all `steps`
    * rounds merge-for-merge as an unrolled CTE chain.
    *
    * Scale shape: the state table is the DISTINCT word list (vocabulary-
    * sized, not corpus-sized — frequencies fold the corpus in once), so
    * each round is one explode + partial-agg count over the vocabulary
    * plus ONE bounded argmax collect (a 1-row limit, the IVF-centroid
    * collect class). The lazy replace chain stacks `steps` projections
    * over the cached word table rather than materializing per round.
    */
  def q108BpeTrain(spark: SparkSession, dir: String): DataFrame =
    bpeTrain(spark,
      Tables.documents(spark, dir).where(col("lang") === "en"), steps = 8)

  /** Core of q108: learn `steps` merges from a (text) frame. */
  private[graft] def bpeTrain(
      spark: SparkSession, docs: DataFrame, steps: Int): DataFrame = {
    val words = docs
      .select(explode(
        expr(s"regexp_extract_all(lower(text), '$BpeTokenPattern', 0)")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .withColumn("s",
        concat(lit(" "),
          concat_ws(" ", expr("transform(sequence(1, length(word)), i -> substr(word, i, 1))")),
          lit(" ")))
      .persist()
    try {
      var states = words.select(col("freq"), col("s"))
      val learned = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
      for (step <- 1 to steps) {
        val best = states
          .select(col("freq"), expr(
            "filter(transform(sequence(1, size(split(trim(s), ' '))), " +
              "i -> struct(split(trim(s), ' ')[i - 1] AS l, " +
              "get(split(trim(s), ' '), i) AS r)), p -> p.r IS NOT NULL)").as("ps"))
          .select(col("freq"), explode(col("ps")).as("p"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum(col("freq")).as("cnt"))
          .orderBy(col("cnt").desc, col("l"), col("r"))
          .limit(1)
          .collect() // bounded: exactly one row per training round
        require(best.nonEmpty, s"BPE training ran dry at step $step")
        val (l, r, cnt) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        learned += ((step, l, r, cnt))
        // left-to-right non-overlapping replacement: regexp_replace here
        // and plain replace() in the oracle behave identically, including
        // the shared-space subtlety (' x y x y ' consumes the middle
        // space, so immediately-adjacent repeats merge on the NEXT round
        // — same in both engines, parity holds round for round)
        states = states.withColumn("s",
          regexp_replace(col("s"),
            java.util.regex.Pattern.quote(s" $l $r "),
            java.util.regex.Matcher.quoteReplacement(s" $l$r ")))
      }
      import spark.implicits._
      learned.toSeq.toDF("rank", "l_tok", "r_tok", "pair_count")
        .select(col("rank"), col("l_tok"), col("r_tok"), col("pair_count"))
        .orderBy(col("rank"))
    } finally { words.unpersist(); () }
  }

  /** q37: within-document repetition — the top-bigram fraction quality
    * signal (a dominant repeated phrase is the classic low-quality /
    * boilerplate marker in training-data filtering). Bigrams here are NOT
    * distinct (repetition is the point — `shingles` dedups and cannot be
    * reused); the word array is bound as a lambda variable before the
    * bigram lambda reads it, per the measured HOF-recompute hazard.
    * Shape: explode → two map-side-partial aggregates keyed by doc — the
    * standard shuffle pattern, volume = total bigram count. Docs with
    * fewer than 2 words have no bigrams and drop out (mirrors the
    * oracle's empty unnest).
    */
  def q37Repetition(spark: SparkSession, dir: String): DataFrame = {
    val bigrams = element_at(
      transform(array(split(lower(col("text")), " ")), words =>
        when(size(words) >= 2,
          transform(sequence(lit(0), size(words) - 2),
            i => concat_ws(" ", element_at(words, i + 1), element_at(words, i + 2))))
          .otherwise(array().cast("array<string>"))),
      1)
    Tables.documents(spark, dir)
      .repartition(col("doc_id"))
      .select(col("doc_id"), explode(bigrams).as("b"))
      .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bigrams"), max(col("c")).as("top_bigram_count"))
      .withColumn("top_bigram_frac",
        col("top_bigram_count").cast("double") / col("n_bigrams").cast("double"))
      .orderBy(col("doc_id"))
  }

  /** PII patterns, restricted to the regex subset Java (Spark) and RE2
    * (DuckDB) interpret identically — same cross-engine discipline as
    * `BpeTokenPattern` — so redaction is oracle-checkable end-to-end.
    * Deliberately high-recall/simple: production pipelines layer stricter
    * validators behind the cheap regex pass; the expensive part at 100 TB
    * is the scan, and this stays one codegen'd projection.
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** Redact emails and IPv4 literals to placeholder tokens. Emails first:
    * an address's local part can contain digit runs an IP-ish pattern
    * could clip if it ran ahead.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, EmailPattern, "<EMAIL>"),
      Ipv4Pattern, "<IP>")

  /** Per-document PII counts (the audit signal that decides whether a
    * source needs redaction at all).
    */
  def piiCounts(text: Column): (Column, Column) =
    (regexp_count(text, lit(EmailPattern)).cast("long"),
      regexp_count(text, lit(Ipv4Pattern)).cast("long"))

  /** q44: PII redaction, oracle-checked end-to-end. The corpus itself is
    * synthetic prose with no PII, so the operator's effect would be
    * vacuous over raw `text`; instead deterministic PII is INJECTED as
    * pure string arithmetic on doc_id (both engines build the identical
    * string), then counted and redacted — the oracle verifies counts, the
    * redacted sha256, and the redacted length, so a divergent replacement
    * of even one byte fails the hash.
    */
  def q44PiiRedact(spark: SparkSession, dir: String): DataFrame = {
    val injected = concat(
      col("text"),
      when(col("doc_id") % 2 === 0,
        concat(lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com"))).otherwise(lit("")),
      when(col("doc_id") % 3 === 0,
        concat(lit(" from 10."), (col("doc_id") % 256).cast("string"),
          lit(".0."), (col("doc_id") % 100).cast("string"))).otherwise(lit("")))
    val (emails, ips) = piiCounts(col("t"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), injected.as("t"))
      .select(
        col("doc_id"),
        emails.as("n_emails"),
        ips.as("n_ips"),
        sha2(redactPii(col("t")), 256).as("redacted_sha"),
        length(redactPii(col("t"))).cast("long").as("n_chars_redacted"))
      .orderBy(col("doc_id"))
  }

  /** Rolling k-gram hashes of a text column (positional) — native
    * single-pass expression over the UTF-8 bytes.
    */
  def rollingHashes(textCol: String, k: Int): Column =
    graft.functions.RollingHash(col(textCol), k)

  /** Pure-builtin reference form (slow path; parity-test oracle). */
  private[graft] def rollingHashesBuiltins(textCol: String, k: Int): Column =
    expr(s"transform(sequence(0, greatest(length($textCol) - $k, 0)), " +
      s"i -> xxhash64(substr($textCol, i + 1, $k)))")

  /** Winnowing fingerprint (Schleimer/Wilkerson/Aiken, SIGMOD 2003): the
    * distinct minima of each length-`w` window over the rolling k-gram
    * hashes — a compact, position-robust document signature whose overlap
    * estimates local similarity. The fold runs in the native `Winnow`
    * expression (monotonic-deque sliding min, O(len) per row; the builtin
    * HOF form is kept below for the parity test — and as a reminder that
    * referencing the hash expression inside a window lambda recomputed it
    * per window, O(len²): 500+ s at sf0.1 before it was bound).
    */
  def winnowFingerprint(textCol: String, k: Int = 5, w: Int = 4): Column =
    graft.functions.Winnow(rollingHashes(textCol, k), w)

  /** Pure-builtin reference form (slow path; parity-test oracle). */
  private[graft] def winnowFingerprintBuiltins(textCol: String, k: Int = 5, w: Int = 4): Column =
    element_at(
      transform(array(rollingHashesBuiltins(textCol, k)), hashes =>
        array_sort(array_distinct(
          transform(sequence(lit(0), greatest(size(hashes) - w, lit(0))),
            j => array_min(slice(hashes, j + 1, lit(w))))))),
      1)

  /** q22: the REGISTERED winnowing-fingerprint surface, on the PORTABLE
    * md5 base hash (`Md5Winnow`, q67's fold) — fingerprint count, a digest
    * over the sorted fingerprint values, and the `langId` guess, every
    * column value-checked by the SQL oracle (window min over md5 k-gram
    * digests + the marker-intersection argmax). The xxhash64
    * `winnowFingerprint` path stays as the documented perf variant with
    * identical algebra (same rolling-gram + sliding-min construction —
    * the parity specs pin both).
    *
    * Scale shape (100 TB): one native per-row fold, no shuffle beyond the
    * deliberate CPU-spreading repartition.
    */
  def q22Fingerprint(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .repartition(col("doc_id")) // distribute the per-row hash windows
      .select(col("doc_id"), md5WinnowFingerprint(col("text")).as("fp"),
        langId(col("text")).as("lang_guess"))
      .select(
        col("doc_id"),
        size(col("fp")).cast("long").as("n_fingerprints"),
        md5(concat_ws("", col("fp")).cast("binary")).as("fp_checksum"),
        col("lang_guess"))
      .orderBy(col("doc_id"))
  }

  /** q54: per-language token-length PROFILE — the corpus-shape statistics
    * a curation run reads before choosing its thresholds (how long are
    * documents per language, where do the tails sit). Percentiles use the
    * EXACT index rule (`value at 1-based rank (n-1)*k div 100 + 1` of the
    * n_tokens-sorted order) so the answer stays an integer an oracle can
    * hash-match.
    *
    * Scale shape (100 TB): the corpus is FIRST reduced to a `(lang,
    * n_tokens) → count` HISTOGRAM (one partial-combined hash aggregation;
    * histogram size is bounded by the token-count DOMAIN, not the corpus),
    * and exact percentiles are read off the histogram's cumulative sum:
    * the percentile value is the smallest n_tokens whose cumulative count
    * reaches the target rank. The per-language window sort runs over
    * HISTOGRAM rows only — the round-10 shape (`row_number` over every
    * document of a language) sorted 90%+ of a skewed real corpus in one
    * task; this never sorts the row stream at all (plan-asserted).
    */
  def q54LengthProfile(spark: SparkSession, dir: String): DataFrame =
    // narrow scan (r22): measured widen tax (see Tables widen-policy note)
    tokenLengthProfile(Tables.documentsNarrow(spark, dir)
      .select(col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tokens")))

  /** q54's histogram-percentile profile over any `(lang, n_tokens)` frame
    * — factored so the whitespace-token profile (q54) and the BPE-token
    * profile (q81) share one selection rule.
    */
  private def tokenLengthProfile(base: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = base
      .groupBy(col("lang"), col("n_tokens"))
      .agg(count(lit(1)).as("cnt"))
    val cum = hist
      .withColumn("cum",
        sum(col("cnt")).over(Window.partitionBy(col("lang")).orderBy(col("n_tokens"))))
      .withColumn("n_docs", sum(col("cnt")).over(Window.partitionBy(col("lang"))))
    // smallest histogram bucket whose cumulative count reaches the exact
    // target rank — identical value to "row at rank r of the sorted order"
    // (ties share a bucket, and the tie-break can only move WHICH row, not
    // which n_tokens value, sits at the rank)
    def atPct(k: Int) =
      min(when(col("cum") >= expr(s"(n_docs - 1) * $k div 100 + 1"), col("n_tokens")))
    cum.groupBy(col("lang"))
      .agg(
        max(col("n_docs")).as("n_docs"),
        min(col("n_tokens")).as("min_tokens"),
        max(col("n_tokens")).as("max_tokens"),
        sum(col("cnt") * col("n_tokens")).as("total_tokens"),
        atPct(50).as("p50_tokens"),
        atPct(90).as("p90_tokens"),
        atPct(99).as("p99_tokens"))
      .orderBy(col("lang"))
  }

  /** q54's profile columns computed FROM a value-sorted `(v, c)` histogram
    * column (`CountHistogram`'s output): exact index-rule percentiles by a
    * single fold over the histogram's cumulative counts — shared by the
    * batch q73 form and the STREAMING profile (`StreamStats`), so the two
    * can never disagree on the selection rule.
    */
  def profileFromHistogram(hist: DataFrame): DataFrame = {
    val withN = hist.withColumn("n_docs",
      aggregate(col("hist"), lit(0L), (a, e) => a + e.getField("c")))
    def atPct(k: Int): Column = {
      val rank = expr(s"(n_docs - 1) * $k div 100 + 1")
      aggregate(col("hist"),
        struct(lit(0L).as("cum"), lit(null).cast("long").as("res")),
        (acc, e) => struct(
          (acc.getField("cum") + e.getField("c")).as("cum"),
          coalesce(acc.getField("res"),
            when(acc.getField("cum") + e.getField("c") >= rank, e.getField("v")))
            .as("res")),
        acc => acc.getField("res"))
    }
    withN.select(
      col("lang"),
      col("n_docs"),
      element_at(col("hist"), 1).getField("v").as("min_tokens"),
      element_at(col("hist"), -1).getField("v").as("max_tokens"),
      aggregate(col("hist"), lit(0L),
        (a, e) => a + e.getField("c") * e.getField("v")).as("total_tokens"),
      atPct(50).as("p50_tokens"),
      atPct(90).as("p90_tokens"),
      atPct(99).as("p99_tokens"))
  }

  /** The `(lang, n_tokens)` histogram head shared by q73 and the
    * streaming profile.
    */
  private[graft] def tokenHistogram(docs: DataFrame): DataFrame =
    docs
      .select(col("lang"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .groupBy(col("lang"))
      .agg(graft.functions.CountHistogram(col("n_tokens")).as("hist"))

  /** q73: q54's exact profile through the `CountHistogram` NATIVE
    * aggregate — the aggregate is driver-correctness-visible here (q59's
    * discipline for `bounded_top_k`): its oracle is q54's SQL verbatim,
    * so a count lost in update/merge/serialize or a mis-sorted histogram
    * shifts a percentile and fails the hash. This is also the form whose
    * STREAMING twin (`StreamStats.lengthProfile`) keeps ONE state row per
    * language — exact streaming percentiles with domain-bounded state,
    * which the window/sort formulation cannot express on a stream.
    */
  def q73LengthProfileAgg(spark: SparkSession, dir: String): DataFrame =
    profileFromHistogram(tokenHistogram(Tables.documents(spark, dir)))
      .orderBy(col("lang"))

  /** Cross-document repeated-SPAN candidate pairs — the winnowing
    * fingerprints used as the BUCKETING primitive for substring-level
    * dedup (the Lee-et-al. "dedup training data" family): two documents
    * sharing a winnow fingerprint of k-char grams share an exact ≥k-char
    * substring with high probability, so pairs sharing `minShared`
    * fingerprints are span-duplication candidates — matching is a
    * fingerprint EQUI-JOIN, never all-pairs. Complements q70 (which
    * strips corpus-FREQUENT token spans): this surfaces rare long spans
    * copied between FEW documents, which a frequency threshold cannot see.
    *
    * Fingerprints with document frequency above `dfCap` are excluded
    * before pairing — they are boilerplate (q70's territory), and the cap
    * bounds the join blowup at Σ_{df ≤ cap} df² ≤ cap · |fingerprints|
    * (the q30 discipline). Built on the PORTABLE md5 winnow, so the whole
    * operator — fingerprint selection, df learning, cap, pair counts — is
    * replayed exactly by the SQL oracle.
    *
    * Scale shape (100 TB): per-row native fingerprint fold, one (fp)
    * count shuffle for df, one fp equi-join for pairing (bounded buckets),
    * one (doc_a, doc_b) count aggregation. No window, no cartesian
    * (plan-pinned).
    */
  def spanCandidates(
      docs: DataFrame,
      k: Int = 20,
      w: Int = 8,
      dfCap: Long = 32L,
      minShared: Long = 2L): DataFrame = {
    // PERSIST the exploded fingerprints: the frame feeds the df count AND
    // both self-join sides — without the cache the expensive half (the
    // per-row md5 winnow fold + explode) executes up to three times
    // (exchange reuse covers only the two join sides). The pin is scoped
    // to THIS call: the RESULT (pairs-sized, tiny vs the corpus-sized
    // fingerprint frame) is persisted plan-keyed and eagerly materialized
    // while fp is still cached, then the fingerprints are released in
    // `finally` — the round-12 bench showed that leaving corpus-sized
    // intermediates cached across a 111-query run evicts sibling caches
    // and silently turns "warm" reps cold (q79 benched 21 s against a
    // 3.4 s probe). The small persisted result is the standing
    // "candidate pair set" a real span-dedup pipeline keeps (the
    // q20/q36/q45 slot-sharing pattern — q74 and q79 read one
    // materialization); an evicted entry recomputes the full (deterministic)
    // lineage — slower, never wrong.
    val fp = docs.repartition(col("doc_id"))
      .select(col("doc_id"), explode(md5WinnowFingerprint(col("text"), k, w)).as("fp"))
      .persist()
    try {
      val out = spanCandidatesFrom(fp, dfCap, minShared).persist()
      out.count() // materialize every partition while fp is cached
      out
    } finally { fp.unpersist(); () }
  }

  /** The LAZY candidate-pair plan over an (ideally persisted) exploded
    * `(doc_id, fp)` fingerprint frame — split out so the plan-shape spec
    * can pin the join topology (equi-join, no cartesian, no window)
    * without the eager materialization hiding it behind a checkpoint scan.
    */
  private[graft] def spanCandidatesFrom(
      fp: DataFrame,
      dfCap: Long,
      minShared: Long): DataFrame = {
    val dfc = fp.groupBy(col("fp")).agg(count(lit(1)).as("df"))
    val rare = fp.join(dfc.filter(col("df") <= dfCap), Seq("fp"))
      .select(col("doc_id"), col("fp"))
    rare.as("a")
      .join(rare.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id"), col("b.doc_id"))
      .agg(count(lit(1)).as("n_shared"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** DISK-BACKED standing artifact for the span family — the fix for the
    * round-13 `weak`: the plan-keyed executor-memory slot lost its entry
    * to eviction in any heavy run (committed q79 warm-min 9.4 s vs the
    * 1.0 s focused probe), so residency depended on what else ran. A real
    * span-dedup pipeline keeps the candidate pairs and extents as
    * STANDING TABLES of the corpus state — exactly `buildIvfIndex`'s
    * shape: one `<family>-<corpusFingerprint>` parquet generation per
    * documents.parquet content state, crash-atomic tmp+rename publish,
    * first-publish-wins for concurrent same-state builders, superseded
    * generations swept only after the current one exists. A warm probe is
    * a small parquet read — independent of sibling working sets; a corpus
    * change re-keys the fingerprint and rebuilds (build time recorded as
    * a bench phase, like the IVF index builds).
    */
  private def standingSpanArtifact(
      spark: SparkSession,
      dir: String,
      family: String)(build: => DataFrame): DataFrame = {
    val hconf = spark.sparkContext.hadoopConfiguration
    // two filesystems on purpose (q38's rule): the corpus may be remote
    // while the artifact root is local-tmp
    val corpusPath = new org.apache.hadoop.fs.Path(s"$dir/documents.parquet")
    val corpusFs = corpusPath.getFileSystem(hconf)
    val fp = SimilarityOps.corpusFingerprint(corpusFs, corpusPath)
    val root = graft.StandingArtifacts.root("spans", dir)
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(hconf)
    val fin = new org.apache.hadoop.fs.Path(s"$root/$family-$fp")
    if (fs.exists(fin)) graft.BenchPhases.reused(s"span_${family}_build")
    if (!fs.exists(fin)) graft.BenchPhases.timed(s"span_${family}_build") {
      // sweep COLD tmp dirs from crashed builds (a young tmp may be a
      // concurrent builder's in-flight write — leave it)
      val sweepBefore = System.currentTimeMillis() - SimilarityOps.TmpSweepAgeMs
      if (fs.exists(rootPath))
        fs.listStatus(rootPath).map(s => (s.getPath, s.getModificationTime))
          .filter { case (p, mt) =>
            p.getName.startsWith(s"$family-$fp.tmp-") && mt < sweepBefore }
          .foreach { case (p, _) => fs.delete(p, true) }
      val out = build // arrives persisted + materialized
      val tmp = new org.apache.hadoop.fs.Path(
        s"$root/$family-$fp.tmp-" + java.util.UUID.randomUUID().toString.take(8))
      try {
        out.write.parquet(tmp.toString)
        if (!fs.rename(tmp, fin)) {
          // benign race: a concurrent builder of the SAME corpus state
          // published identical content first
          if (fs.exists(fin)) { fs.delete(tmp, true); () }
          else throw new java.io.IOException(
            s"standing $family publish failed: $tmp -> $fin")
        }
      } finally { out.unpersist(); () }
    }
    graft.StandingArtifacts.sweep(fs, rootPath, fp, family)
    spark.read.parquet(fin.toString)
  }

  /** q74: span-duplication candidates over `documents` (20-char grams,
    * window 8, df ≤ 32, ≥ 2 shared fingerprints) — served from the
    * standing pairs artifact.
    */
  def q74SpanCandidates(spark: SparkSession, dir: String): DataFrame =
    standingSpanArtifact(spark, dir, "pairs") {
      spanCandidates(Tables.documents(spark, dir))
    }.orderBy(col("doc_a"), col("doc_b"))

  /** SHARED-SPAN EXTRACTION — the last mile of substring dedup: turn
    * `spanCandidates`' pairs into the actual maximal shared-span extents
    * `(doc_a, doc_b, start_a, start_b, len, span_sha)`. q70 strips spans
    * frequent across the CORPUS; this recovers a rare passage copied
    * between just 2–5 documents, which a frequency threshold cannot see.
    *
    * Seed-and-extend, set-oriented: for each candidate pair, match every
    * k-gram digest of `doc_a` against `doc_b`'s (the equi-join seeds),
    * project each match onto its alignment diagonal `diag = pos_b −
    * pos_a`, and merge CONSECUTIVE positions on a diagonal
    * (gaps-and-islands: `pos − row_number` per (pair, diag)) into maximal
    * runs — a run of `r` consecutive matching k-grams is exactly a
    * maximal shared span of length `r + k − 1`. This is the classic
    * per-pair extend loop re-expressed as one join + one bounded window,
    * so it distributes and the oracle replays it row-for-row (k-gram
    * digests, islands, extents, and the sha256 of each extracted span).
    *
    * Scale shape (100 TB): the gram explosion runs ONLY over documents
    * that appear in some candidate pair (left-semi pruning) — the corpus
    * never explodes; match volume is bounded by the candidate pairs
    * (already df-capped upstream) times document length; the island
    * window partitions by (pair, diagonal) — thousands of tiny
    * partitions, never a corpus-wide sort. Gram digests occurring more
    * than `gramDfCap` times across the pair-side docs are EXCLUDED from
    * seeding (mirrored in the oracle): a boilerplate k-gram shared across
    * thousands of candidate documents would re-open the Σdf² tail the
    * fingerprint-level `dfCap` closes upstream. The trade is declared:
    * a span CONTAINING a capped gram splits at that position into two
    * reported islands (each still ≥ minLen or dropped) — rare-span
    * recall is preserved, boilerplate-driven blowup is bounded.
    */
  def spanExtents(
      docs: DataFrame,
      k: Int = 20,
      w: Int = 8,
      dfCap: Long = 32L,
      minShared: Long = 2L,
      minLen: Int = 20,
      gramDfCap: Long = 256L): DataFrame = {
    // candidate pairs arrive persisted + materialized (inside
    // spanCandidates) — no second pin needed for the three reads below
    val pairs = spanCandidates(docs, k, w, dfCap, minShared)
      .select(col("doc_a"), col("doc_b"))
    spanExtentsOver(docs, pairs, k, minLen, gramDfCap)
  }

  /** Extents over an ALREADY-COMPUTED candidate-pair frame (cheap to
    * re-read: either `spanCandidates`' persisted result or the standing
    * pairs parquet) — the seed-and-extend machinery without re-deriving
    * the candidates, so the standing-artifact build can chain the pairs
    * artifact into the spans artifact instead of recomputing the
    * fingerprint join.
    */
  def spanExtentsOver(
      docs: DataFrame,
      pairs: DataFrame,
      k: Int = 20,
      minLen: Int = 20,
      gramDfCap: Long = 256L): DataFrame = {
    // per-position k-gram digests computed ONCE over the union of pair
    // sides (cluster members appear on both sides — a per-side table
    // would md5 them twice), persisted so the df count and both self-join
    // sides read one materialization (md5 is top-level per exploded row —
    // codegen, no interpreted HOF lambda); released in `finally` once the
    // extents are checkpointed
    val sideDocs = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
    val g = docs.join(sideDocs, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(1), greatest(length(col("text")) - k, lit(0)) + 1)).as("p"))
      .select(col("doc_id"), col("p"),
        md5(expr(s"substr(text, p, $k)").cast("binary")).as("h"))
      .persist()
    try {
      // extents-sized standing result (q74's candidate-cache argument);
      // materialized while g is cached, then the gram table is released
      val out = spanExtentsFrom(docs, pairs, g, k, minLen, gramDfCap).persist()
      out.count()
      out
    } finally { g.unpersist(); () }
  }

  /** The LAZY extents plan over materialized candidate `pairs` and the
    * persisted per-position gram table `g` — split out so the plan-shape
    * spec can pin the topology (hash-first equi-join, per-(pair,diagonal)
    * window only) without the eager checkpoint hiding it.
    */
  private[graft] def spanExtentsFrom(
      docs: DataFrame,
      pairs: DataFrame,
      g: DataFrame,
      k: Int,
      minLen: Int,
      gramDfCap: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // gram-digest df cap: one count shuffle over the (already pair-side-
    // pruned) gram table, then keep only sub-cap digests for seeding
    val hdf = g.groupBy(col("h")).agg(count(lit(1)).as("hdf"))
    val gk = g.join(hdf.filter(col("hdf") <= gramDfCap), Seq("h"))
      .select(col("doc_id"), col("p"), col("h"))
    def side(as: String): DataFrame =
      gk.select(col("doc_id").as(s"${as}_doc"), col("p").as(s"${as}_p"),
        col("h").as(s"${as}_h"))
    // hash-FIRST match: self-join the gram table on digest equality
    // (cross-doc only — every position trivially matches itself), then
    // keep only the combinations the candidate list names (left-semi).
    // The former pair-first order materialized every a-side position of
    // every pair BEFORE the hash condition could filter — |pairs| ×
    // positions rows (measured 9× at sf0.01→sf0.1 on the planted pair
    // tail); matching on the digest first bounds the probe volume by the
    // ACTUAL shared positions, which is also the output's own size.
    val matched = side("a")
      .join(side("b"), col("a_h") === col("b_h") && col("a_doc") =!= col("b_doc"))
    val m = matched
      .join(pairs,
        matched("a_doc") === pairs("doc_a") && matched("b_doc") === pairs("doc_b"),
        "left_semi")
      .select(col("a_doc").as("doc_a"), col("b_doc").as("doc_b"),
        col("a_p").as("ia"), (col("b_p") - col("a_p")).as("diag"))
    val wnd = Window.partitionBy(col("doc_a"), col("doc_b"), col("diag"))
      .orderBy(col("ia"))
    val spans = m
      .withColumn("island", col("ia") - row_number().over(wnd))
      .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("island"))
      .agg(min(col("ia")).as("start_a"), max(col("ia")).as("end_a"))
      .select(col("doc_a"), col("doc_b"),
        col("start_a").cast("long").as("start_a"),
        (col("start_a") + col("diag")).cast("long").as("start_b"),
        (col("end_a") - col("start_a") + k).cast("long").as("len"))
      .filter(col("len") >= minLen)
    spans
      .join(docs.select(col("doc_id").as("doc_a"), col("text")), Seq("doc_a"))
      .select(col("doc_a"), col("doc_b"), col("start_a"), col("start_b"), col("len"),
        sha2(expr("substr(text, cast(start_a AS int), cast(len AS int))"), 256)
          .as("span_sha"))
  }

  /** q79: maximal shared-span extents behind q74's candidates (the grams,
    * alignment diagonals, island merge, and span hashes are all replayed
    * by the SQL oracle; the extracted-spans-are-equal proof lives in
    * ScalaTest).
    */
  def q79SpanExtract(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    standingSpanArtifact(spark, dir, "spans") {
      // chain the standing pairs artifact (built here if absent) into the
      // extents build — the fingerprint join never runs twice per state
      val pairs = standingSpanArtifact(spark, dir, "pairs") {
        spanCandidates(docs)
      }.select(col("doc_a"), col("doc_b"))
      spanExtentsOver(docs, pairs)
    }.orderBy(col("doc_a"), col("doc_b"), col("start_a"), col("start_b"))
  }

  /** Gopher/MassiveText-style QUALITY RULES (Rae et al. 2021, §A1.1 —
    * the standard pre-training quality filter family): per-document word
    * count bounds, mean word length bounds, alphabetic-word fraction, and
    * stopword-kind presence, each exposed as an exact integer (x100 /
    * basis points / counts — integer DIV, no float thresholds) plus the
    * composed `keep` verdict. Bounds default to this corpus' populated
    * ranges so the verdict is discriminative; production runs pass the
    * paper's bounds. One codegen projection per row — no shuffle, no
    * UDF, every column hash-matchable.
    */
  def gopherQuality(
      docs: DataFrame,
      minWords: Long = 40L,
      maxWords: Long = 100000L,
      minMeanLenX100: Long = 300L,
      maxMeanLenX100: Long = 1000L,
      minAlphaBp: Long = 8000L,
      minStopKinds: Long = 2L): DataFrame = {
    val stoplist = Seq("the", "a", "of", "and", "to", "in", "is", "on")
    docs
      .select(col("doc_id"), split(lower(col("text")), " ").as("w"))
      .select(
        col("doc_id"),
        size(col("w")).cast("long").as("n_words"),
        expr("aggregate(w, 0L, (a, x) -> a + length(x)) * 100 div size(w)")
          .as("mean_word_len_x100"),
        expr("size(filter(w, x -> x rlike '[a-z]')) * 10000L div size(w)")
          .as("alpha_word_bp"),
        size(array_intersect(array_distinct(col("w")), typedlit(stoplist)))
          .cast("long").as("n_stop_kinds"))
      .withColumn("keep",
        (col("n_words").between(minWords, maxWords) &&
          col("mean_word_len_x100").between(minMeanLenX100, maxMeanLenX100) &&
          col("alpha_word_bp") >= minAlphaBp &&
          col("n_stop_kinds") >= minStopKinds).cast("int"))
  }

  /** q75: the Gopher rule set over `documents` at the corpus-populated
    * default bounds.
    */
  def q75GopherQuality(spark: SparkSession, dir: String): DataFrame =
    gopherQuality(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  /** Gopher-style duplicate-n-gram REPETITION fraction: of a document's
    * word-3-gram OCCURRENCES, the share belonging to 3-grams that occur
    * more than once in the document — the within-document repetition
    * signal (template loops, decoding pathologies) that complements the
    * cross-document dedup family. Integer basis points.
    *
    * Scale shape: positioned (non-distinct) shingles explode to a
    * `(doc_id, s)` count — partial-aggregated, keyed fine — then one
    * doc_id aggregation; the left join restores zero-gram (short) docs.
    * No window.
    */
  def dupNgramFraction(docs: DataFrame, n: Int = 3): DataFrame = {
    // bind the split ONCE as a named column before the shingle lambda —
    // referencing the split expression inside the lambda re-splits the
    // whole text per shingle (the documented O(words²) recompute hazard;
    // it measured 5.2 s vs 1.3 s at sf0.1 on this very operator)
    val toks = docs.select(col("doc_id"), split(lower(col("text")), " ").as("w"))
    val w = col("w")
    val shingleArr = when(size(w) >= n,
      transform(sequence(lit(0), size(w) - n),
        i => concat_ws(" ", (0 until n).map(o => element_at(w, i + o + 1)): _*)))
      .otherwise(array().cast("array<string>"))
    val counts = toks
      .select(col("doc_id"), explode(shingleArr).as("s"))
      .groupBy(col("doc_id"), col("s")).agg(count(lit(1)).as("cnt"))
    val agg = counts.groupBy(col("doc_id")).agg(
      sum(col("cnt")).as("n_grams"),
      sum(when(col("cnt") > 1, col("cnt")).otherwise(0L)).as("dup_occurrences"))
    docs.select(col("doc_id"))
      .join(agg, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("dup_occurrences"), lit(0L)).as("dup_occurrences"),
        when(coalesce(col("n_grams"), lit(0L)) > 0,
          expr("dup_occurrences * 10000 div n_grams"))
          .otherwise(lit(0L)).as("dup_bp"))
  }

  /** q76: within-document duplicate-3-gram fraction over `documents`. */
  def q76DupNgrams(spark: SparkSession, dir: String): DataFrame =
    dupNgramFraction(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  /** q59: per-language most-DOCUMENT-frequent word 3-grams — the
    * boilerplate detector (navigation chrome, license headers, template
    * phrases recur across documents; their document frequency dwarfs
    * organic n-grams, and curation pipelines strip or downweight them).
    * Frequency is per-document-DISTINCT (a phrase repeated inside one doc
    * counts once), which is what makes it document frequency.
    *
    * Deliberately expressed in PURE SQL through the `bounded_top_k`
    * native aggregate that `GraftExtensions` registers at session build
    * (`spark.sql.extensions`, set by `GraftSession`) — the SQL surface
    * is driver-correctness-visible here, not just spec-covered. Ties at
    * the rank boundary are broken by the shingle string inside the
    * struct key (ASCII corpus: Spark's binary UTF8 order == DuckDB's).
    *
    * Scale shape (100 TB): explode → partial-aggregated count per
    * (lang, shingle) — the one wide shuffle, keyed fine enough not to
    * skew — then `bounded_top_k` reduces each language to 3 rows BEFORE
    * the final O(langs) exchange. No window over the full count table, no
    * sort of the n-gram space.
    */
  def q59FrequentNgrams(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir).createOrReplaceTempView("documents_q59")
    spark.sql(
      """WITH docs AS (
        |  SELECT lang, split(lower(text), ' ') AS w FROM documents_q59),
        |sh AS (
        |  SELECT lang, explode(CASE WHEN size(w) >= 3 THEN
        |    array_distinct(transform(sequence(0, size(w) - 3),
        |      i -> concat_ws(' ', element_at(w, i + 1), element_at(w, i + 2),
        |                     element_at(w, i + 3))))
        |    ELSE CAST(array() AS array<string>) END) AS s
        |  FROM docs),
        |counts AS (SELECT lang, s, count(*) AS n FROM sh GROUP BY lang, s),
        |top AS (
        |  SELECT lang, bounded_top_k(struct(n, s), 3) AS top
        |  FROM counts GROUP BY lang)
        |SELECT lang, CAST(pos + 1 AS BIGINT) AS rank, key.n AS n, key.s AS s
        |FROM top LATERAL VIEW posexplode(top) t AS pos, key
        |ORDER BY lang, rank""".stripMargin)
  }

  /** Boilerplate COVERAGE — q59's detector turned into the per-document
    * remediation metric (C4/CCNet-style): the fraction of each document's
    * token positions covered by an occurrence of a corpus-frequent word
    * 3-gram. Curation pipelines drop or downweight documents whose text is
    * mostly template chrome; this computes that density exactly.
    *
    * "Frequent" is RELATIVE — a shingle qualifies when its document
    * frequency reaches `minDfBp` basis points of the corpus
    * (`df * 10000 >= n_docs * minDfBp`, pure integer arithmetic, no
    * float threshold, no ceil) — so the operator's meaning is invariant
    * under corpus growth, unlike an absolute `minDf` that saturates
    * (at sf0.1 nearly every 3-gram of this small-vocabulary corpus has
    * df >= 4; 1% of the corpus is still selective).
    *
    * Coverage counts distinct covered POSITIONS: overlapping frequent
    * shingles at starts i and i+1 cover [i, i+3], 4 tokens, not 6. All
    * outputs are integers (`coverage_bp` via integer DIV) — every column
    * hash-matchable.
    *
    * Scale shape (100 TB): two explode scans (positioned shingles for df,
    * again for cover marking — cheaper than persisting the exploded
    * corpus), one (shingle, doc) distinct + count shuffle for df, and a
    * BROADCAST of the frequent set back onto the positioned shingles —
    * by construction the frequent set is the tiny df-tail (boilerplate
    * phrases), bounded by 10000/minDfBp × the per-doc shingle count in
    * the worst case and in practice a few thousand strings. The distinct
    * covered-position count shuffles O(matched positions), keyed by
    * (doc_id, position) — no skew, no window, no full-corpus sort.
    */
  def boilerplateCoverage(
      docs: DataFrame,
      minDfBp: Long = 100L,
      flagBp: Long = 3000L): DataFrame = {
    val w = split(lower(col("text")), " ")
    val toks = docs.select(col("doc_id"), w.as("w"))
    val shingleStructs = when(size(col("w")) >= 3,
      transform(sequence(lit(0), size(col("w")) - 3), i =>
        struct(i.cast("int").as("pos"),
          concat_ws(" ", element_at(col("w"), i + 1), element_at(col("w"), i + 2),
            element_at(col("w"), i + 3)).as("s"))))
      .otherwise(array().cast("array<struct<pos:int,s:string>>"))
    val sh = toks.select(col("doc_id"), explode(shingleStructs).as("sh"))
      .select(col("doc_id"), col("sh.pos").as("pos"), col("sh.s").as("s"))
    val nDocs = docs.groupBy().agg(count(lit(1)).as("n_docs"))
    val freq = sh.select("s", "doc_id").distinct()
      .groupBy("s").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") * lit(10000L) >= col("n_docs") * lit(minDfBp))
      .select("s")
    val covered = sh.join(broadcast(freq), "s")
      .select(col("doc_id"), explode(sequence(col("pos"), col("pos") + 2)).as("cp"))
      .distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("covered_tokens"))
    toks.select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"))
      .join(covered, Seq("doc_id"), "left")
      .withColumn("covered_tokens", coalesce(col("covered_tokens"), lit(0L)))
      .withColumn("coverage_bp", expr("covered_tokens * 10000 DIV n_tokens"))
      .withColumn("flag_boilerplate",
        (col("coverage_bp") >= lit(flagBp)).cast("int"))
  }

  /** q61: boilerplate coverage over `documents` — frequent = df ≥ 1% of
    * the corpus, flag at ≥ 30% coverage.
    */
  def q61BoilerplateCoverage(spark: SparkSession, dir: String): DataFrame =
    boilerplateCoverage(Tables.documents(spark, dir))
      .orderBy(col("doc_id"))

  /** Cross-document repeated-span REMOVAL — q61's metric turned into
    * remediation (the known big win for training corpora: strip the
    * navigation chrome / license headers / template phrases that recur
    * across documents instead of merely scoring them). A token position is
    * removed when any occurrence of a corpus-frequent word 3-gram
    * (`df · 10000 ≥ n_docs · minDfBp`, q61's relative-threshold algebra)
    * covers it; the document's remaining tokens are reassembled in order.
    * Emits the redacted text's sha256 plus exact removal counts, so the
    * whole strip — frequency learning, span matching, position set,
    * reassembly — is one hash-matchable row per document.
    *
    * Scale shape (100 TB): identical joins to `boilerplateCoverage` — the
    * frequent set (the tiny df-tail) BROADCASTS onto the positioned
    * shingles (no shuffle of the corpus for matching), covered positions
    * partial-aggregate into a per-doc sorted set (bounded by document
    * length — a document fits in memory by definition), and the only
    * row-stream shuffles are keyed by doc_id. Reassembly is a per-row
    * projection (`array_except` over the position sequence). No window,
    * no all-pairs anything (plan-pinned).
    */
  def stripBoilerplate(docs: DataFrame, minDfBp: Long = 100L): DataFrame = {
    val w = split(lower(col("text")), " ")
    val toks = docs.select(col("doc_id"), w.as("w"))
    val shingleStructs = when(size(col("w")) >= 3,
      transform(sequence(lit(0), size(col("w")) - 3), i =>
        struct(i.cast("int").as("pos"),
          concat_ws(" ", element_at(col("w"), i + 1), element_at(col("w"), i + 2),
            element_at(col("w"), i + 3)).as("s"))))
      .otherwise(array().cast("array<struct<pos:int,s:string>>"))
    val sh = toks.select(col("doc_id"), explode(shingleStructs).as("sh"))
      .select(col("doc_id"), col("sh.pos").as("pos"), col("sh.s").as("s"))
    val nDocs = docs.groupBy().agg(count(lit(1)).as("n_docs"))
    val freq = sh.select("s", "doc_id").distinct()
      .groupBy("s").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") * lit(10000L) >= col("n_docs") * lit(minDfBp))
      .select("s")
    val cov = sh.join(broadcast(freq), "s")
      .select(col("doc_id"), explode(sequence(col("pos"), col("pos") + 2)).as("cp"))
      .groupBy("doc_id").agg(array_sort(collect_set(col("cp"))).as("cov"))
    toks.join(cov, Seq("doc_id"), "left")
      .withColumn("cov", coalesce(col("cov"), array().cast("array<int>")))
      .select(
        col("doc_id"),
        size(col("w")).cast("long").as("n_tokens"),
        size(col("cov")).cast("long").as("removed_tokens"),
        sha2(concat_ws(" ",
          transform(
            array_except(sequence(lit(0), size(col("w")) - 1), col("cov")),
            i => element_at(col("w"), i + 1))), 256).as("kept_sha"))
  }

  /** q70: repeated-span removal over `documents` at the q61 threshold. */
  def q70StripBoilerplate(spark: SparkSession, dir: String): DataFrame =
    stripBoilerplate(Tables.documents(spark, dir))
      .orderBy(col("doc_id"))

  /** Tokenizer vocabulary coverage — the "how much of this corpus does a
    * V-entry vocab explain" metric that drives tokenizer sizing and
    * corpus/tokenizer mismatch detection (a doc mostly out-of-vocabulary
    * is foreign language, code, or garbage relative to the tokenizer).
    * Learns the top-`vocabSize` tokens by corpus frequency (ties broken
    * by the token string inside the `bounded_top_k` struct key — ASCII
    * corpus, Spark UTF8 order == DuckDB's), then scores every document's
    * OOV OCCURRENCE rate in integer basis points.
    *
    * Scale shape (100 TB): one (token) count shuffle — the classic
    * word-count, partial-aggregated; the global top-V reduces through
    * `bounded_top_k` (each map task forwards ≤ V rows — no sort of the
    * token space); the learned vocab (V rows) broadcasts back for a
    * LEFT-ANTI match per token occurrence; per-doc counts partial-
    * aggregate on doc_id. No window anywhere.
    */
  def vocabCoverage(docs: DataFrame, vocabSize: Int): DataFrame = {
    val w = split(lower(col("text")), " ")
    val tokens = docs.select(col("doc_id"), explode(w).as("tok"))
    val vocab = tokens.groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .agg(graft.functions.BoundedTopK(struct(col("n"), col("tok")), vocabSize).as("top"))
      .select(explode(col("top")).as("k"))
      .select(col("k.tok").as("tok"))
    val oov = tokens.join(broadcast(vocab), Seq("tok"), "left_anti")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_oov"))
    docs.select(col("doc_id"), size(w).cast("long").as("n_tokens"))
      .join(oov, Seq("doc_id"), "left")
      .withColumn("n_oov", coalesce(col("n_oov"), lit(0L)))
      .withColumn("oov_bp", expr("n_oov * 10000 DIV n_tokens"))
  }

  /** q64: OOV rate against a learned 16-token vocabulary. */
  def q64VocabCoverage(spark: SparkSession, dir: String): DataFrame =
    // narrow scan (r22): measured widen tax (see Tables widen-policy note)
    vocabCoverage(Tables.documentsNarrow(spark, dir), 16)
      .orderBy(col("doc_id"))

  /** ENGINE-PORTABLE winnowing fingerprint (Schleimer/Wilkerson/Aiken):
    * the distinct minima of each length-`w` window over per-position
    * k-gram hashes — same selection algebra as `winnowFingerprint`, but
    * the k-gram hash is the md5 hex digest (a published byte-exact
    * standard) and the window minimum is the lexicographic min digest, so
    * every selected fingerprint is a VALUE the SQL oracle recomputes
    * bit-identically. Position/window edges mirror `rollingHashes`'
    * clamps: `max(len-k,0)+1` positions (a short text hashes its whole
    * tail), `max(positions-w,0)+1` windows.
    *
    * Entirely per-row (codegen'd HOFs, no shuffle, no state): the hash
    * array is bound ONCE as a lambda variable before the window pass —
    * referencing the hash expression inside the window lambda would
    * recompute all md5s per window (the O(len²) lambda-recompute hazard
    * `winnowFingerprintBuiltins` documents).
    */
  def md5WinnowFingerprint(text: Column, k: Int = 5, w: Int = 4): Column =
    graft.functions.Md5Winnow(text, k, w)

  /** Pure-builtin reference form (slow path; parity-test oracle for the
    * native `Md5Winnow` — the HOF machinery re-evaluates the substring→
    * md5 subtree interpreted per element, ~5× the native fold's cost).
    */
  private[graft] def md5WinnowFingerprintBuiltins(
      text: Column, k: Int = 5, w: Int = 4): Column = {
    val hashes = transform(
      sequence(lit(1), greatest(length(text) - k, lit(0)) + 1),
      p => md5(text.substr(p, lit(k)).cast("binary")))
    element_at(
      transform(array(hashes), hs =>
        array_sort(array_distinct(transform(
          sequence(lit(1), greatest(size(hs) - w, lit(0)) + 1),
          s => array_min(slice(hs, s, lit(w))))))),
      1)
  }

  /** q67: per-document portable winnowing fingerprint summary — the
    * replayable twin of q22, closing the "fingerprints are not
    * oracle-visible" waiver for the winnowing surface: the fingerprint
    * COUNT and a digest over the sorted fingerprint values are both
    * hash-matched by DuckDB (window min over md5 k-gram digests).
    */
  def q67WinnowReplay(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .repartition(col("doc_id")) // distribute the per-row hash windows
      .select(col("doc_id"), md5WinnowFingerprint(col("text")).as("fp"))
      .select(
        col("doc_id"),
        size(col("fp")).cast("long").as("n_fp"),
        md5(concat_ws("", col("fp")).cast("binary")).as("fp_digest"))
      .orderBy(col("doc_id"))
}
