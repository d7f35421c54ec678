package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Markdown → text extraction: the SECOND front-door format beside
  * `HtmlOps` (web crawls) and `WarcOps` (crawl containers). Code-heavy
  * training corpora — README files, documentation sites, wiki dumps —
  * arrive as Markdown, and a pipeline wants two different things from
  * them: the PROSE (for the text-quality machinery) and the FENCED CODE
  * BLOCKS (for the code corpus), cleanly separated.
  *
  * Like `HtmlOps`, the rule set is DETERMINISTIC BY CONSTRUCTION so a
  * SQL oracle replays it end-to-end: a fixed chain of regex rewrites in
  * the Java/RE2 COMMON DIALECT (inline `(?s)`/`(?m)` flags, non-greedy
  * spans, no lookbehind, no backrefs — replacement strings are all
  * CONSTANTS because Java spells group references `$1` where RE2 spells
  * them `\1`, the one place the dialects diverge) plus literal
  * replaces, all per-row codegen built-ins — no UDFs, no shuffle.
  *
  * Extraction semantics (each deliberate, each pinned by spec+oracle):
  *   1. Fenced code blocks (``` … ```) extract FIRST, before any prose
  *      rule runs — Markdown syntax INSIDE a fence (links, headings,
  *      emphasis) must reach the code corpus byte-exact and must never
  *      leak into prose (the `HtmlOps` script-elision / injection-
  *      safety property, same discipline). The SAME pattern string
  *      drives both sides: `regexp_extract_all` group 1 collects the
  *      code, `regexp_replace` drops it from the prose stream (a
  *      replace ignores the group). An UNCLOSED fence keeps its text in
  *      prose — the content-preserving fallback for truncated files
  *      (mirrors the unclosed-script rule; the spec pins it).
  *   2. Images (`![alt](url)`) drop entirely; links unwrap to their
  *      anchor text via two constant-replacement steps — strip `](url)`
  *      spans, then literal `[` characters (declared: stray `[` in
  *      prose is removed; a backref-free chain both engines share).
  *   3. Line-start structural markers strip in order: `#{1,6} `
  *      headings, `> ` blockquotes, `[-+*] ` list bullets (bullets
  *      BEFORE the emphasis strip, or `* item` loses its marker
  *      distinction).
  *   4. Emphasis and inline-code markers (`*`, `_`, backtick) strip as
  *      literal characters; their content survives.
  *   5. Blocks split on blank lines (`\n{2,}`); whitespace collapses
  *      within a block (consecutive list items join into one block, the
  *      CommonMark "list = one block" reading); empty blocks drop.
  *
  * Scale shape (100 TB): one codegen projection per row — the entire
  * chain is regexp_replace/replace/split/transform built-ins with zero
  * exchange; work is linear in the Markdown length.
  */
object MarkdownOps {

  /** The fence pattern — shared VERBATIM by extraction (group 1) and
    * elision (replace) on both engines. Non-greedy body, info string on
    * the opening line, closing fence on its own line start.
    */
  private[graft] val FencePattern = "(?s)```[^\\n]*\\n(.*?)```"

  /** Fenced-code contents of a Markdown column, in document order. */
  def codeBlocks(md: Column): Column =
    regexp_extract_all(md, lit(FencePattern), lit(1))

  /** Prose of a Markdown column as an ARRAY of non-empty,
    * whitespace-normalized blocks in document order (stages 1–5 of the
    * scaladoc contract, fences elided).
    */
  def proseBlocks(md: Column): Column = {
    val p1 = regexp_replace(md, FencePattern, "\n\n")
    val p2 = regexp_replace(p1, "!\\[[^\\]]*\\]\\([^)]*\\)", " ")
    val p3 = regexp_replace(p2, "\\]\\([^)]*\\)", " ")
    val p4 = replace(p3, lit("["), lit(""))
    val p5 = regexp_replace(p4, "(?m)^#{1,6} ", "")
    val p6 = regexp_replace(p5, "(?m)^> ", "")
    val p7 = regexp_replace(p6, "(?m)^[-+*] ", "")
    val p8 = Seq("*", "_", "`").foldLeft(p7) { (acc, ch) =>
      replace(acc, lit(ch), lit(""))
    }
    filter(
      transform(split(p8, "\\n{2,}"),
        b => trim(regexp_replace(b, "\\s+", " "))),
      b => b =!= "")
  }

  /** Deterministic synthetic Markdown over the documents table — the
    * q69/q122 constructed-corpus trick: the oracle rebuilds the
    * identical markup from (doc_id, text), so extraction is checked
    * end-to-end. The fence carries DECOY Markdown (a link, a heading
    * marker, emphasis stars) that must reach the code sha byte-exact
    * and would surface in the prose sha if fence elision failed; the
    * prose carries every structural rule (heading, emphasis, link,
    * image, inline code, blockquote, bullets) so each strip is
    * hash-visible.
    */
  private[graft] def syntheticMarkdown(docs: DataFrame): DataFrame = {
    val id = col("doc_id").cast("string")
    docs.select(col("doc_id"), concat(
      lit("# Doc "), id,
      lit("\n\nIntro *fast* _path_ with [link "), id,
      lit("](https://example.test/"), id,
      lit(") and ![img](https://example.test/i"), id,
      lit(".png) plus `inline "), id,
      lit("` code.\n\n```scala\nval x = "), id,
      lit(" // decoy: [not](a-link) *stars* # heading\n```\n\n> quoted "), id,
      lit("\n\n- item one "), id,
      lit("\n- item two\n\n"), col("text")).as("md"))
  }

  /** q134: Markdown → prose + code extraction over the synthetic
    * corpus — per document the prose block count/length/sha, the first
    * prose block, and the code block count/sha, every column
    * oracle-replayed.
    */
  def q134MarkdownExtract(spark: SparkSession, dir: String): DataFrame =
    // bind arrays as named columns so each regex chain runs ONCE per row
    syntheticMarkdown(Tables.documents(spark, dir))
      .select(col("doc_id"),
        proseBlocks(col("md")).as("blocks"),
        codeBlocks(col("md")).as("code"))
      .select(col("doc_id"), col("blocks"), col("code"),
        array_join(col("blocks"), "\n").as("joined"))
      .select(col("doc_id"),
        size(col("blocks")).cast("long").as("n_blocks"),
        length(col("joined")).cast("long").as("n_chars"),
        sha2(col("joined"), 256).as("text_sha"),
        element_at(col("blocks"), 1).as("first_block"),
        size(col("code")).cast("long").as("n_code"),
        sha2(array_join(col("code"), "\n"), 256).as("code_sha"))
      .orderBy(col("doc_id"))
}
