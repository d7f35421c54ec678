package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Unigram-LM (SentencePiece-style) tokenizer: the OTHER production
  * tokenizer family beside BPE (q108/q80) — a piece VOCABULARY with
  * per-piece scores, trained by EM over the word-frequency table and
  * applied by Viterbi segmentation. This implementation is the
  * VITERBI-EM (hard-EM) variant — the standard deterministic
  * approximation: the E-step assigns each word its single best
  * segmentation under the current scores, the M-step re-counts piece
  * usage (frequency-weighted) and prunes, exactly the q108 replay
  * discipline (every round's pruned vocab + counts is materialized and
  * the oracle replays the chain round for round).
  *
  * Everything is INTEGER: piece scores are fixed-point log-probs
  * `ilog2(cnt) − ilog2(Σcnt)` with `ilog2(x) = length(bin(x)) − 1` —
  * the exact floor-log2 both engines compute identically from the
  * binary string, no libm. The Viterbi objective is lexicographic and
  * fully declared: maximize Σ score, then fewest pieces, then the
  * lexicographically smallest piece sequence — so the DP argmax is
  * deterministic in both engines.
  *
  * SPARK-FIRST SHAPE, and the scale story: SentencePiece trains in one
  * process's memory; here the E-step is a BOUNDED UNROLLED DP over the
  * DISTINCT word table — positions 1..`MaxLen`, each step one
  * broadcast-join of candidate extensions against the (vocabulary-
  * sized) scored pieces plus one per-word argmax window — so training
  * state is vocabulary-sized, the corpus folds in once through word
  * frequencies, and there are ZERO driver collects in the whole train/
  * apply path. Words longer than `MaxLen` pass through as single OOV
  * pieces (declared, oracle-mirrored).
  */
object UnigramOps {

  private[graft] val MaxLen = 12
  private[graft] val MaxPiece = 4
  private[graft] val SeedMin = 2L
  private[graft] val PruneMin = 2L
  private[graft] val Rounds = 2
  private[graft] val TopK = 40

  /** Exact floor-log2 of a positive integer via its binary digits. */
  private def ilog2(c: Column): Column = (length(bin(c)) - 1).cast("long")

  /** Word-frequency table of the training slice (total occurrences —
    * frequencies fold the corpus into vocabulary-sized state).
    */
  private[graft] def unigramWords(docs: DataFrame): DataFrame =
    docs
      .select(explode(
        expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))

  /** Seed vocabulary: every substring of length 1..MaxPiece, counted
    * frequency-weighted over all positioned occurrences; multi-char
    * pieces below `SeedMin` drop, single chars always stay (totality).
    */
  private[graft] def seedVocab(words: DataFrame): DataFrame =
    words.filter(length(col("word")) <= MaxLen)
      .select(col("freq"), explode(expr(
        s"flatten(transform(sequence(1, length(word)), i -> " +
          s"transform(sequence(i, least(i + ${MaxPiece - 1}, length(word))), " +
          s"j -> substr(word, i, j - i + 1))))")).as("piece"))
      .groupBy(col("piece")).agg(sum(col("freq")).as("cnt"))
      .filter(length(col("piece")) === 1 || col("cnt") >= SeedMin)

  /** Pieces with their fixed-point log scores under the current counts. */
  private def scoredVocab(vocab: DataFrame): DataFrame = {
    val tot = vocab.agg(sum(col("cnt")).as("tot"))
    vocab.crossJoin(broadcast(tot))
      .select(col("piece"), (ilog2(col("cnt")) - ilog2(col("tot"))).as("sc"))
  }

  /** Materialize-and-CUT: each DP step references the previous step both
    * directly and through its argmax, so an uncut lineage doubles per
    * position (2^MaxLen plan copies — Catalyst analysis death, not just
    * recompute). `localCheckpoint` truly truncates the logical plan
    * (persist does not); the frames are vocabulary-sized, blocks are
    * GC-reclaimed, and nothing needs explicit release. The trade is
    * declared: checkpointed steps are not reusable across bench reps —
    * a re-train costs one bounded DP, never a corpus scan.
    */
  private def cut(df: DataFrame): DataFrame = df.localCheckpoint()

  /** Viterbi segmentation of every word under `vocab` — the unrolled
    * positional DP: at position p the candidates extend the kept state
    * at p−k by the k-char piece ending at p (broadcast vocab join), and
    * one window keeps the argmax per word under the declared
    * lexicographic objective. Words longer than MaxLen pass through as
    * single OOV pieces.
    */
  private[graft] def viterbiSegment(
      words: DataFrame, vocab: DataFrame): DataFrame = {
    val scored = cut(scoredVocab(vocab))
    // bound the unroll by the corpus's actual max word length (a 1-row
    // bounded collect, the IVF-centroid class): steps past it are empty
    // in BOTH engines, so skipping them changes nothing but job count
    val effLen = math.min(MaxLen,
      words.agg(coalesce(max(length(col("word"))), lit(0)).as("m"))
        .collect()(0).getInt(0))
    var states = words.filter(length(col("word")) <= MaxLen)
      .select(col("word"), lit(0).as("pos"), lit(0L).as("score"),
        lit(0L).as("np"), lit("").as("path"))
    for (p <- 1 to effLen) {
      val cands = (1 to math.min(MaxPiece, p)).map { k =>
        states.filter(col("pos") === p - k && length(col("word")) >= p)
          .withColumn("piece", expr(s"substr(word, ${p - k + 1}, $k)"))
          .join(broadcast(scored), Seq("piece"))
          .select(col("word"), lit(p).as("pos"),
            (col("score") + col("sc")).as("score"),
            (col("np") + lit(1L)).as("np"),
            concat(col("path"), lit(" "), col("piece")).as("path"))
      }.reduce(_ unionByName _)
      val wnd = Window.partitionBy(col("word"))
        .orderBy(col("score").desc, col("np"), col("path"))
      val best = cut(
        cands.withColumn("rn", row_number().over(wnd))
          .filter(col("rn") === 1).drop("rn"))
      states = states.unionByName(best)
    }
    states.filter(col("pos") === length(col("word")))
      .select(col("word"), ltrim(col("path")).as("path"), col("np"))
      .unionByName(words.filter(length(col("word")) > MaxLen)
        .select(col("word"), col("word").as("path"), lit(1L).as("np")))
  }

  /** One hard-EM round: Viterbi-segment, re-count pieces frequency-
    * weighted, prune multi-char pieces below `PruneMin`, floor single
    * chars at count 1 (they must survive for totality).
    */
  private[graft] def emRound(
      words: DataFrame, vocab: DataFrame): DataFrame = {
    val trainWords = words.filter(length(col("word")) <= MaxLen)
    val seg = viterbiSegment(trainWords, vocab)
    val counts = cut(seg.join(words, Seq("word"))
      .select(col("freq"), explode(split(col("path"), " ")).as("piece"))
      .groupBy(col("piece")).agg(sum(col("freq")).as("cnt")))
    counts.filter(length(col("piece")) >= 2 && col("cnt") >= PruneMin)
      .unionByName(
        vocab.filter(length(col("piece")) === 1).select(col("piece"))
          .join(counts, Seq("piece"), "left")
          .select(col("piece"),
            greatest(coalesce(col("cnt"), lit(0L)), lit(1L)).as("cnt")))
  }

  /** Train `Rounds` hard-EM rounds; returns (words, finalVocab), both
    * checkpoint-materialized.
    */
  private[graft] def train(docs: DataFrame): (DataFrame, DataFrame) = {
    val words = cut(unigramWords(docs))
    var vocab = cut(seedVocab(words))
    for (_ <- 1 to Rounds) vocab = cut(emRound(words, vocab))
    (words, vocab)
  }

  /** DISK-BACKED standing tokenizer model — a tokenizer is trained once
    * per corpus state and applied forever, so the trained vocab and the
    * word-segmentation table are fingerprint-keyed parquet generations
    * (`model-<corpusFingerprint>/{vocab,seg}`, the q79/q38 artifact
    * discipline: crash-atomic tmp+rename, first-publish-wins,
    * superseded-generation sweep, train time as a bench phase). Warm
    * q124/q125 runs are parquet reads instead of re-running the EM DP.
    */
  private def standingModelDir(spark: SparkSession, dir: String): String = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val corpusPath = new org.apache.hadoop.fs.Path(s"$dir/documents.parquet")
    val fp = SimilarityOps.corpusFingerprint(
      corpusPath.getFileSystem(hconf), corpusPath)
    val root = graft.StandingArtifacts.root("unigram", dir)
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(hconf)
    val fin = new org.apache.hadoop.fs.Path(s"$root/model-$fp")
    if (fs.exists(fin)) graft.BenchPhases.reused("unigram_train")
    if (!fs.exists(fin)) graft.BenchPhases.timed("unigram_train") {
      val (words, vocab) = train(
        Tables.documents(spark, dir).where(col("lang") === "en"))
      val seg = viterbiSegment(words, vocab)
      val tmp = new org.apache.hadoop.fs.Path(
        s"$root/model-$fp.tmp-" + java.util.UUID.randomUUID().toString.take(8))
      vocab.write.parquet(s"${tmp.toString}/vocab")
      seg.write.parquet(s"${tmp.toString}/seg")
      if (!fs.rename(tmp, fin)) {
        if (fs.exists(fin)) { fs.delete(tmp, true); () } // benign same-state race
        else throw new java.io.IOException(s"model publish failed: $tmp -> $fin")
      }
    }
    graft.StandingArtifacts.sweep(fs, rootPath, fp, "model")
    fin.toString
  }

  /** q124: unigram-LM TRAINING — the final pruned vocabulary with exact
    * integer counts and fixed-point log scores, top `TopK` by
    * (count desc, piece asc), served from the standing model. The
    * oracle replays seed → both EM rounds (each a full 12-step Viterbi
    * DP) → prune, chain-for-chain.
    */
  def q124UnigramTrain(spark: SparkSession, dir: String): DataFrame =
    vocabTopK(spark.read.parquet(s"${standingModelDir(spark, dir)}/vocab"))

  /** The registered top-K projection over a trained vocab (split out so
    * the standing==fresh spec can run it over an in-query train). The
    * global window is bounded — the vocab is vocabulary-sized.
    */
  private[graft] def vocabTopK(vocab: DataFrame): DataFrame = {
    val tot = vocab.agg(sum(col("cnt")).as("tot"))
    val wnd = Window.orderBy(col("cnt").desc, col("piece"))
    vocab.crossJoin(broadcast(tot))
      .select(col("piece"), col("cnt"),
        (ilog2(col("cnt")) - ilog2(col("tot"))).as("score"))
      .withColumn("rk", row_number().over(wnd).cast("long"))
      .filter(col("rk") <= TopK)
      .select(col("rk"), col("piece"), col("cnt"), col("score"))
      .orderBy(col("rk"))
  }

  /** q125: unigram-LM APPLY — Viterbi segmentation of every document's
    * words under the trained vocabulary: per document the word count,
    * total piece count, and the md5 digest of the orderly-joined
    * segmentation (word order preserved), all oracle-replayed.
    */
  def q125UnigramApply(spark: SparkSession, dir: String): DataFrame = {
    {
      val docs = Tables.documents(spark, dir).where(col("lang") === "en")
      val seg = spark.read.parquet(s"${standingModelDir(spark, dir)}/seg")
      val dw = docs
        .select(col("doc_id"), posexplode(
          expr("regexp_extract_all(lower(text), '[a-z]+', 0)")))
        .select(col("doc_id"), (col("pos") + 1).as("wpos"), col("col").as("word"))
      val out = dw.join(seg, Seq("word"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"), sum(col("np")).as("n_pieces"),
          md5(array_join(
            expr("transform(array_sort(collect_list(struct(wpos, path))), x -> x.path)"),
            " | ").cast("binary")).as("seg_digest"))
        .orderBy(col("doc_id"))
      out
    }
  }
}
