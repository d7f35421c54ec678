package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing for training-data pipelines: lay every document's
  * tokens end-to-end in a deterministic global order and cut the tape into
  * fixed-capacity context windows (the GPT-style concat-and-chunk shape).
  * The output maps each document to the chunk(s) it lands in, with its
  * token span inside each chunk — exactly what a tokenize-and-pack writer
  * needs to emit training sequences.
  *
  * The load-bearing scale piece is the EXCLUSIVE PREFIX SUM of token
  * counts in document order. The naive Spark spelling —
  * `sum(tok).over(Window.orderBy("doc_id"))` — has an EMPTY partition
  * spec, so Spark moves the entire table into ONE task: correct at 60k
  * rows, dead at 100 TB. `exclusivePrefixSum` is the distributed form:
  * range-partition by the order column, sort within partitions, run the
  * running sum as a single iterator pass per partition, then shift each
  * partition by the total of everything before it. The running sum is
  * deliberately `mapPartitions`, not a window keyed by partition id — a
  * `Window.partitionBy(spark_partition_id())` demands hashpartitioning on
  * the pid and RE-SHUFFLES the whole table right after the range exchange
  * (measured: the plan grows a second full-data Exchange); the iterator
  * pass consumes the range shuffle's own layout with zero extra movement.
  * This is the textbook per-partition-imperative case where dropping below
  * the declarative API is the right call. The per-partition totals table
  * has exactly `partitions` rows, so its cumulative shift is a bounded
  * single-partition window — the same O(partitions) bounded-small-side
  * trick as the IVF centroid collect — and it joins back by BROADCAST, so
  * the stream side keeps its partitioning. Net wide work: ONE range
  * shuffle of the data plus an O(partitions)-row aggregate.
  */
object PackOps {

  /** Exclusive prefix sum of `valueCol` (long) in `orderCol` order:
    * out[i] = sum of values strictly before row i in the global order.
    * One range shuffle; no global single-partition window (see object doc).
    * Ties in `orderCol` would make the result order-dependent, so callers
    * must pass a unique order column (documents have unique doc_id).
    */
  def exclusivePrefixSum(
      df: DataFrame,
      orderCol: String,
      valueCol: String,
      outCol: String,
      partitions: Int = 0): DataFrame =
    exclusivePrefixSumBy(df, Seq(orderCol), valueCol, outCol, partitions)

  /** Composite-key form: the global order is the lexicographic order of
    * `orderCols`, which must be unique TOGETHER (the epoch order
    * (mix_key, doc_id, rep) is the motivating case — mix keys alone can
    * collide by design).
    */
  def exclusivePrefixSumBy(
      df: DataFrame,
      orderCols: Seq[String],
      valueCol: String,
      outCol: String,
      partitions: Int = 0): DataFrame = {
    require(orderCols.nonEmpty, "at least one order column required")
    // CHECKPOINTED: `local` is consumed twice (the stream side of the final
    // join and the offsets aggregate). Without a shared materialization the
    // two subplans each re-execute repartitionByRange, and correctness then
    // hangs on exchange reuse kicking in: if it is disabled (or
    // canonicalization fails), the two executions can sample different
    // range boundaries, so `__pid` diverges between `local` and `offsets`
    // and the prefix sums are silently wrong. The eager local checkpoint
    // pins ONE pid assignment for both readers; a cache would not, as a
    // lost cached block is recomputed from the lineage, sampling included.
    val local = runningSum(df, orderCols, valueCol, partitions).localCheckpoint()
    // offsets: cumulative total of all partitions BEFORE mine. Empty range
    // partitions are simply absent from the totals — they contribute 0 and
    // no row reads their offset. O(partitions) rows, so the
    // single-partition window is bounded.
    val offW = Window.orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = local.groupBy(col("__pid"))
      .agg(sum(col(valueCol)).as("__t"))
      .withColumn("__off", coalesce(sum(col("__t")).over(offW), lit(0L)))
      .select(col("__pid"), col("__off"))
    local.join(broadcast(offsets), Seq("__pid"))
      .withColumn(outCol, col("__off") + col("__loc"))
      .drop("__pid", "__loc", "__off")
  }

  /** The lazy pass `exclusivePrefixSumBy` checkpoints: each row of the
    * range-partitioned, sorted input gains its partition id (`__pid`) and
    * the partition-local sum of `valueCol` before it (`__loc`).
    */
  private[graft] def runningSum(
      df: DataFrame, orderCols: Seq[String], valueCol: String, partitions: Int): DataFrame = {
    val p =
      if (partitions > 0) partitions
      else df.sparkSession.sessionState.conf.numShufflePartitions
    // explicit partition count: AQE never coalesces a user-specified
    // repartition, so spark_partition_id is stable across the two reads
    // of this exchange
    val ranged = df.repartitionByRange(p, orderCols.map(col): _*)
      .sortWithinPartitions(orderCols.map(col): _*)
      .withColumn("__pid", spark_partition_id())
    val vIdx = ranged.schema.fieldIndex(valueCol)
    val outSchema = ranged.schema
      .add(org.apache.spark.sql.types.StructField(
        "__loc", org.apache.spark.sql.types.LongType, nullable = false))
    ranged.mapPartitions { it =>
      var acc = 0L
      it.map { r =>
        val out = org.apache.spark.sql.Row.fromSeq(r.toSeq :+ acc)
        acc += (if (r.isNullAt(vIdx)) 0L else r.getLong(vIdx))
        out
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** Concat-and-chunk packing: documents (doc_id, text) → one row per
    * (document, context chunk) overlap, with the document's token span
    * inside that chunk. Tokens are whitespace tokens (the oracle-parity
    * tokenizer from q31); a document straddling a chunk boundary appears
    * once per chunk it touches. Integer division is `div` (exact on
    * longs — a float `floor(x/c)` would lose exactness past 2^53, which a
    * 100 TB corpus' total token count can reach).
    */
  def packChunks(docs: DataFrame, capacity: Long): DataFrame =
    packChunksBy(
      docs.select(
        col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("tok")),
      capacity)

  /** `packChunks` over a caller-supplied `(doc_id, tok)` token-count frame
    * — the hook that lets packing budget REAL subword counts (q82 feeds
    * BPE counts) instead of the whitespace approximation.
    */
  def packChunksBy(withTok: DataFrame, capacity: Long): DataFrame = {
    require(capacity > 0, s"chunk capacity must be positive: $capacity")
    exclusivePrefixSum(withTok, "doc_id", "tok", "off")
      .filter(col("tok") > 0)
      .withColumn("chunk_id",
        explode(sequence(expr(s"off div ${capacity}L"),
          expr(s"(off + tok - 1) div ${capacity}L"))))
      .select(
        col("doc_id"),
        col("chunk_id"),
        greatest(col("chunk_id") * capacity - col("off"), lit(0L)).as("begin_tok"),
        least((col("chunk_id") + lit(1L)) * capacity - col("off"), col("tok")).as("end_tok"))
  }

  /** q39: pack the documents table into 256-token context windows. */
  def q39PackChunks(spark: SparkSession, dir: String): DataFrame =
    // narrow scan (r22): measured widen tax (see Tables widen-policy note)
    packChunks(Tables.documentsNarrow(spark, dir), 256L)
      .orderBy(col("doc_id"), col("chunk_id"))

  /** q82: q39's concat-and-chunk packing budgeted by REAL BPE subword
    * counts (`TextOps.bpeTokens`) — what a tokenize-and-pack writer
    * actually spends per document. Same single-wide-shuffle shape; the
    * oracle replays the BPE counts via the recursive-CTE merge loop and
    * the chunk math verbatim.
    */
  def q82BpePackChunks(spark: SparkSession, dir: String): DataFrame =
    packChunksBy(
      Tables.documents(spark, dir)
        .repartition(col("doc_id")) // spread the merge-loop CPU
        .select(col("doc_id"),
          size(TextOps.bpeTokens(col("text"))).cast("long").as("tok")),
      256L)
      .orderBy(col("doc_id"), col("chunk_id"))

  /** Build a packed training EPOCH in one call: weighted-repetition mix
    * (q42 — up-weighting by repetition, down-weighting by deterministic
    * thinning) laid out in mix-key order, then concat-and-chunk packed
    * into `capacity`-token context windows (q39) along that order. Every
    * document COPY contributes its tokens at its own epoch position, so a
    * ×2.3-weighted domain really occupies ~2.3× the context windows.
    * Deterministic end to end — no RNG — which is what makes the epoch
    * reproducible across reruns and clusters, and oracle-checkable (q47
    * chains q42's and q39's verified fragments over the composite order
    * (mix_key, doc_id, rep)). Scale shape: the mix's explode + ONE range
    * shuffle for the epoch order + the O(partitions) offsets broadcast —
    * the same single-wide-shuffle budget as q39 itself.
    */
  def epochPack(
      docs: DataFrame,
      strataCol: String,
      idCol: String,
      weights: Map[String, Double],
      defaultWeight: Double,
      capacity: Long): DataFrame = {
    require(capacity > 0, s"chunk capacity must be positive: $capacity")
    val mixed = SampleOps.weightedMix(docs, strataCol, idCol, weights, defaultWeight)
      .select(col(idCol).as("doc_id"), col("rep"), col("mix_key"),
        size(split(col("text"), " ")).cast("long").as("tok"))
    exclusivePrefixSumBy(mixed, Seq("mix_key", "doc_id", "rep"), "tok", "off")
      .filter(col("tok") > 0)
      .withColumn("chunk_id",
        explode(sequence(expr(s"off div ${capacity}L"),
          expr(s"(off + tok - 1) div ${capacity}L"))))
      .select(
        col("doc_id"), col("rep"), col("mix_key"), col("chunk_id"),
        greatest(col("chunk_id") * capacity - col("off"), lit(0L)).as("begin_tok"),
        least((col("chunk_id") + lit(1L)) * capacity - col("off"), col("tok")).as("end_tok"))
  }

  /** q47: the documents corpus mixed at q42's weights and packed into
    * 256-token epoch windows, in deterministic epoch order.
    */
  def q47Epoch(spark: SparkSession, dir: String): DataFrame =
    epochPack(Tables.documents(spark, dir), "lang", "doc_id",
      Map("en" -> 1.5, "zh" -> 0.5), 1.0, 256L)
      .orderBy(col("mix_key"), col("doc_id"), col("rep"), col("chunk_id"))

  // ------------------------------------------------ q194: span corruption

  /** q194: T5/UL2-style SPAN CORRUPTION — the denoising-objective data
    * prep a pretraining pipeline runs after curation: deterministic
    * 2-token spans (every 7th position starting at 3 — fixed rate,
    * non-overlapping by construction, ~29% mask ratio) are cut from
    * each document and replaced by ordinal sentinels; the INPUT keeps
    * the unmasked text with one `<extra_id_i>` per span, the TARGET is
    * the sentinel-delimited masked spans closed by a final sentinel —
    * exactly the seq2seq pair format. Pure codegen column algebra
    * (`transform`/`filter`/`sequence` over token positions — no UDF,
    * no shuffle before the output sort), so the whole objective
    * construction is oracle-replayable: DuckDB rebuilds both strings
    * from `string_split` + list arithmetic and the shas must match.
    *
    * Scale shape (100 TB): one narrow projection per row; masking
    * arithmetic is position-local, so the operator composes with the
    * packing/mix operators (q39/q42/q47) unchanged.
    */
  def q194SpanCorruption(spark: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val n = size(toks)
    // positions p with p % 7 == 3 start a span; p % 7 == 4 is its tail
    val inputToks = filter(
      transform(sequence(lit(0), n - 1), p =>
        when(p % 7 === 3,
          // Column./ is DOUBLE division: floor back to the ordinal
          concat(lit("<extra_id_"),
            floor((p - 3) / 7).cast("int").cast("string"), lit(">")))
          .when(p % 7 === 4, lit(null))
          .otherwise(element_at(toks, p + 1))),
      x => x.isNotNull)
    val nSpans = floor((n + 3) / 7).cast("int") // count of p<n, p%7==3
    // guard the sequence ITSELF: sequence(0, -1) yields the descending
    // [0,-1], whose element_at(toks, -3)-style probes are only masked by
    // the outer when() under default semantics — under ansi.enabled they
    // throw before the mask applies
    val spanIdx =
      when(nSpans > 0, sequence(lit(0), nSpans - 1))
        .otherwise(array().cast("array<int>"))
    val spans = transform(spanIdx, i => {
      val s = i * 7 + 3
      concat(
        lit("<extra_id_"), i.cast("string"), lit("> "),
        when(s + 2 <= n,
          concat(element_at(toks, s + 1), lit(" "), element_at(toks, s + 2)))
          .otherwise(element_at(toks, s + 1)))
    })
    val target = concat(array_join(spans, " "),
      lit(" <extra_id_"), nSpans.cast("string"), lit(">"))
    // masked positions are p%7 ∈ {3,4}, p < n: (n+3)/7 starts + (n+2)/7 tails
    val masked = floor((n + 3) / 7) + floor((n + 2) / 7)
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        n.cast("long").as("n_tokens"),
        nSpans.cast("long").as("n_spans"),
        masked.cast("long").as("n_masked"),
        sha2(array_join(inputToks, " "), 256).as("input_sha"),
        when(nSpans > 0, sha2(target, 256)).otherwise(sha2(lit(""), 256))
          .as("target_sha"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------- q198: FIM objective

  /** q198: FILL-IN-THE-MIDDLE objective prep (the q194 sibling for
    * code-model pipelines): each document splits deterministically at
    * the 1/4 and 3/4 token marks into (prefix, middle, suffix) and is
    * emitted in BOTH standard sentinel orders — PSM
    * (`<fim_prefix> P <fim_suffix> S <fim_middle> M`, the
    * infilling-at-train-time form) and SPM
    * (`<fim_suffix> S <fim_prefix> P <fim_middle> M`, the
    * cache-friendly variant). Pure codegen column algebra
    * (`split`/`slice`/`concat` — no UDF, ZERO shuffle before the
    * output sort), and the whole construction is oracle-replayable:
    * DuckDB rebuilds both orderings from `list_slice` arithmetic and
    * the shas must match. `Column./` is DOUBLE division, so the split
    * marks go through `floor` (the q194 lesson).
    *
    * Scale shape (100 TB): one narrow projection per row; composes
    * with packing (q82) and mixes (q42/q47) unchanged.
    */
  def q198FimObjective(spark: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val n = size(toks)
    val p1 = floor(n / 4).cast("int") // prefix token count
    val p2 = floor((n * 3) / 4).cast("int") // prefix+middle token count
    val prefix = array_join(slice(toks, lit(1), p1), " ")
    val middle = array_join(slice(toks, p1 + 1, p2 - p1), " ")
    val suffix = array_join(slice(toks, p2 + 1, n - p2), " ")
    val psm = concat(lit("<fim_prefix> "), prefix, lit(" <fim_suffix> "),
      suffix, lit(" <fim_middle> "), middle)
    val spm = concat(lit("<fim_suffix> "), suffix, lit(" <fim_prefix> "),
      prefix, lit(" <fim_middle> "), middle)
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        n.cast("long").as("n_tokens"),
        p1.cast("long").as("n_prefix"),
        (p2 - p1).cast("long").as("n_middle"),
        (n - p2).cast("long").as("n_suffix"),
        sha2(psm, 256).as("psm_sha"),
        sha2(spm, 256).as("spm_sha"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------- q203: packed attention masks

  /** q203: PACKING WITH DOCUMENT-BOUNDARY ATTENTION MASKS — the
    * packing detail real pipelines get wrong: after concat-and-chunk
    * (q39), every context window needs its per-document SEGMENT
    * boundaries so attention can be block-diagonal (without the mask,
    * tokens attend across unrelated documents — silent contamination
    * of every sample in the batch). Per chunk: the ordered
    * (doc, start, len) segment list under a sha, plus `mask_pairs`
    * (Σ len² — the allowed attention pairs) against `dense_pairs`
    * ((Σ len)² — what an unmasked window trains on), so the leakage a
    * missing mask causes is a measured column, not a belief.
    *
    * Plan shape: the q39 prefix-sum range shuffle plus exactly one
    * chunk_id group-by; the boundary list per chunk is bounded by
    * capacity (≤ 256 segments), so collect_list stays O(capacity).
    * Scale: identical budget to q39 at 100 TB — the pack shuffle
    * dominates; the rollup is output-sized.
    */
  def q203PackMask(spark: SparkSession, dir: String): DataFrame = {
    val cap = 256L
    // narrow scan (r22): measured widen tax (see Tables widen-policy note)
    val withTok = Tables.documentsNarrow(spark, dir).select(
      col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("tok"))
    val segs = exclusivePrefixSum(withTok, "doc_id", "tok", "off")
      .filter(col("tok") > 0)
      .withColumn("chunk_id",
        explode(sequence(expr(s"off div ${cap}L"),
          expr(s"(off + tok - 1) div ${cap}L"))))
      .select(col("chunk_id"), col("doc_id"),
        greatest(col("off") - col("chunk_id") * cap, lit(0L)).as("seg_start"),
        (least((col("chunk_id") + 1) * cap, col("off") + col("tok")) -
          greatest(col("chunk_id") * cap, col("off"))).as("seg_len"))
    segs.groupBy(col("chunk_id"))
      .agg(
        count(lit(1)).as("n_segments"),
        sum(col("seg_len")).as("n_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"),
        sum(col("seg_len") * col("seg_len")).as("mask_pairs"),
        sha2(array_join(expr(
          "transform(array_sort(collect_list(struct(seg_start, doc_id, seg_len))), " +
            "x -> concat(x.doc_id, ':', x.seg_start, ':', x.seg_len))"), "|"),
          256).as("boundaries_sha"))
      .withColumn("dense_pairs", col("n_tokens") * col("n_tokens"))
      .select(col("chunk_id"), col("n_segments"), col("n_tokens"),
        col("first_doc"), col("last_doc"), col("mask_pairs"),
        col("dense_pairs"), col("boundaries_sha"))
      .orderBy(col("chunk_id"))
  }

  // --------------------------------------------- q202: SFT chat masking

  /** q202: SFT CHAT-TEMPLATE RENDERING + LOSS-MASK construction — the
    * instruction-tuning data prep beside pretraining objectives
    * (q194/q198): each document becomes a deterministic two-round
    * conversation (turns cut at the 1/3, 2/3, and 5/6 token marks),
    * rendered through a fixed template
    * (`<|user|> U <|assistant|> A <|end|>` per round), with the LOSS
    * MASK over assistant CONTENT tokens only — the spans a trainer
    * feeds as labels while user/template tokens are -100. Emitted as
    * exact rendered-token offsets (`mask1_start/len`, `mask2_start/
    * len` — start counts the tag token) so the oracle replays every
    * boundary: template arithmetic is where real SFT pipelines
    * silently corrupt labels (an off-by-one on a tag token trains on
    * the prompt). Pure codegen column algebra, zero shuffle before
    * the output sort.
    *
    * Scale shape (100 TB): one narrow projection per row; composes
    * with packing (q82) and mixes unchanged.
    */
  def q202ChatSft(spark: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val n = size(toks)
    val c1 = floor(n / 3).cast("int") // user turn 1 length
    val c2 = floor((n * 2) / 3).cast("int") // + assistant turn 1
    val c3 = floor((n * 5) / 6).cast("int") // + user turn 2
    val u1 = array_join(slice(toks, lit(1), c1), " ")
    val a1 = array_join(slice(toks, c1 + 1, c2 - c1), " ")
    val u2 = array_join(slice(toks, c2 + 1, c3 - c2), " ")
    val a2 = array_join(slice(toks, c3 + 1, n - c3), " ")
    val rendered = concat(
      lit("<|user|> "), u1, lit(" <|assistant|> "), a1, lit(" <|end|> "),
      lit("<|user|> "), u2, lit(" <|assistant|> "), a2, lit(" <|end|>"))
    // rendered TOKEN layout: <|user|> u1 <|assistant|> a1 <|end|>
    //                        <|user|> u2 <|assistant|> a2 <|end|>
    // assistant-content mask spans (tags are never labels):
    val m1s = lit(1) + c1 + 1 // tokens before a1: user tag + u1 + asst tag
    val m1l = c2 - c1
    val m2s = m1s + m1l + lit(2) + (c3 - c2) + 1 // + end, user tag, u2, asst
    val m2l = n - c3
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        n.cast("long").as("n_tokens"),
        (n + lit(6)).cast("long").as("n_rendered"),
        m1s.cast("long").as("mask1_start"),
        m1l.cast("long").as("mask1_len"),
        m2s.cast("long").as("mask2_start"),
        m2l.cast("long").as("mask2_len"),
        sha2(rendered, 256).as("rendered_sha"))
      .orderBy(col("doc_id"))
  }
}
