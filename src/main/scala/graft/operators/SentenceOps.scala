package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sentence segmentation — the unit under every dedup-by-span,
  * pack-by-sentence, and quality-per-sentence operator a text pipeline
  * runs (C4 splits on sentences, span decontamination works on them),
  * and the rules that make it non-trivial are exactly the ones that
  * break naive `split('.')`: abbreviations (`Dr.`, `e.g.`) and decimal
  * numbers must NOT split; `.`/`!`/`?` before a capitalized
  * continuation MUST.
  *
  * The chain is a fixed rewrite sequence in the Java/RE2 COMMON
  * dialect (the q122 discipline) so the oracle replays it verbatim:
  *   1. protect known abbreviation dots and intra-number dots with a
  *      sentinel (U+0001 — absent from any text corpus);
  *   2. insert a break after `[.!?]` + spaces + capital (backref
  *      replacement, legal in both engines — lookbehind is NOT in
  *      RE2, which is why the insert-then-split shape exists);
  *   3. split, restore sentinels, trim, drop empties.
  *
  * The corpus appends a planted block (abbreviations, a decimal, all
  * three terminators) to each document's text so every rule binds on
  * every row; both engines run the SAME chain on the SAME composed
  * string, and the oracle's independent execution pins count, average
  * length, and the joined sha.
  *
  * Scale shape (100 TB): one codegen rewrite chain per row, zero
  * exchange.
  */
object SentenceOps {

  private val Sentinel = "\u0001"
  private[graft] val Abbrevs = Seq("Dr.", "Prof.", "e.g.", "i.e.", "vs.")

  /** The rewrite chain over a composed text column. */
  def sentences(text: Column): Column = {
    val protectedAbbrev = Abbrevs.foldLeft(text) { (acc, a) =>
      replace(acc, lit(a), lit(a.dropRight(1) + Sentinel))
    }
    val protectedNums = regexp_replace(protectedAbbrev,
      "([0-9])\\.([0-9])", "$1" + Sentinel + "$2")
    val broken = regexp_replace(protectedNums,
      "([.!?]) +([A-Z])", "$1\n$2")
    filter(
      transform(split(broken, "\n"),
        s => trim(replace(s, lit(Sentinel), lit(".")))),
      s => s =!= "")
  }

  /** q167: segmentation end to end — the planted block exercises every
    * rule on every row; count, integer average length, and the joined
    * sha replayed by the oracle running the IDENTICAL chain in DuckDB.
    */
  def q167SentenceSplit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val composed = concat(col("text"), lit(" "),
      concat(lit("Dr. Smith met Prof. Jones at "),
        (col("doc_id") % 10).cast("string"),
        lit(".5 km. They left early. Did they return? Yes! End "),
        col("doc_id").cast("string"), lit(".")))
    val ss = sentences(composed)
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(ss).cast("long").as("n_sentences"),
        (aggregate(ss, lit(0L), (acc, s) => acc + length(s)) / size(ss))
          .cast("long").as("avg_len"),
        sha2(array_join(ss, "\n"), 256).as("text_sha"))
      .orderBy(col("doc_id"))
  }
}
