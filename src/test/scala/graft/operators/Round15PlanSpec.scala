package graft.operators

import graft.SparkTestSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape pins for the round-15 operators — the 100 TB contracts
  * stated in each scaladoc, held by the optimizer output: the new
  * container/codec walkers are per-row (no exchange before the final
  * sort), q135's only aggregation is its corpus-construction group-by,
  * and q116's rework REALLY runs one corpus scan (the candidate-postings
  * exchange is reused, not recomputed).
  */
class Round15PlanSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(df: DataFrame) = graft.SparkTestSession.finalPlan(df)

  /** Collect across materialized AQE stages (leaves to collect()). */
  private def deep(p: SparkPlan): Seq[SparkPlan] = {
    val nodes = p.collect { case x => x }
    nodes ++ nodes.flatMap {
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        deep(s.plan)
      case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        deep(s.relation.cachedPlan match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            a.executedPlan
          case x => x
        })
      case _ => Nil
    }
  }

  private def noCartesian(df: DataFrame): Unit = {
    val bad = deep(plan(df)).collect {
      case j: CartesianProductExec => j
      case j: BroadcastNestedLoopJoinExec => j
    }
    assert(bad.isEmpty, s"cartesian/BNLJ in plan:\n${plan(df)}")
  }

  test("q136/q137/q138 are per-row container walks: the ONLY exchange is the final sort") {
    for (df <- Seq(
      PdfOps.q136PdfExtract(spark, sf),
      Mp4Ops.q137Mp4Extract(spark, sf),
      MultimodalOps.q138Vp8Decode(spark, sf))) {
      df.collect() // materialize AQE stages
      val ex = deep(plan(df)).collect { case s: ShuffleExchangeExec
        // input-widening repartitions (Tables.widen / WarcOps.widenRecords,
        // r21 guide-2.5 unsplittable-input repair) are deliberate and
        // scale-conditional; the pin guards exchanges the OPERATOR induces
        if !Seq(org.apache.spark.sql.execution.exchange.REPARTITION_BY_COL,
            org.apache.spark.sql.execution.exchange.REPARTITION_BY_NUM)
          .contains(s.shuffleOrigin) => s }
      val nonSort = ex.filterNot(
        _.outputPartitioning.toString.toLowerCase.contains("range"))
      // q138 repartitions its corpus by doc_id before the per-row
      // decode (decode-where-the-bytes-are); everything else is sort-only
      assert(nonSort.size <= 1,
        s"per-row walker plans ${nonSort.size} non-sort exchanges:\n${plan(df)}")
      noCartesian(df)
    }
  }

  test("q135: gzip archives walk with no join anywhere — the only hash exchange " +
    "is the corpus-construction group-by") {
    val df = WarcOps.q135WarcGzExtract(spark, sf)
    df.collect()
    noCartesian(df)
    val hashEx = deep(plan(df))
      .collect { case s: ShuffleExchangeExec
        // input-widening repartitions (Tables.widen / WarcOps.widenRecords,
        // r21 guide-2.5 unsplittable-input repair) are deliberate and
        // scale-conditional; the pin guards exchanges the OPERATOR induces
        if !Seq(org.apache.spark.sql.execution.exchange.REPARTITION_BY_COL,
            org.apache.spark.sql.execution.exchange.REPARTITION_BY_NUM)
          .contains(s.shuffleOrigin) => s }
      .filter(_.outputPartitioning.toString.toLowerCase.contains("hash"))
    assert(hashEx.size == 1,
      s"q135 expects exactly the synthetic-archive group-by exchange:\n${plan(df)}")
  }

  test("q116 rework: ONE corpus token scan — every consumer reads the pinned token cache") {
    // r22 rework: the corpus-stats aggregate and the matching-token
    // stream share ONE persisted (doc_id, dl, filtered-tokens) frame,
    // and the eval vocabulary is pinned too — so the registered plan
    // must read documents.parquet ONLY through InMemoryTableScans
    // (each cache = one tokenize pass). A bare parquet scan of
    // documents outside a cache means a consumer regressed to its own
    // tokenize pass. q116 checkpoints its result and releases the pins,
    // so the pin reads the lazy plan while they live.
    SearchOps.q116With(spark, sf) { df =>
      df.collect()
      // traversal across AQE stages WITHOUT descending into cached
      // relations: scans inside an InMemoryTableScan are the cache's ONE
      // build pass
      def outsideCaches(p: SparkPlan): Seq[SparkPlan] = {
        val nodes = p.collect { case x => x }
        nodes ++ nodes.flatMap {
          case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            outsideCaches(s.plan)
          case _ => Nil
        }
      }
      val top = outsideCaches(plan(df))
      val bareDocScans = top.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains("documents.parquet")) => s
        case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
          if s.toString.contains("documents") => s
      }
      assert(bareDocScans.isEmpty,
        s"q116 scans documents outside the pinned token caches:\n${plan(df)}")
      val cached = deep(plan(df)).collect {
        case c: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => c
      }
      assert(cached.nonEmpty,
        s"q116 lost its pinned token frame:\n${plan(df)}")
    }
  }

  // ------------------------------------------------- session-2 newcomers

  test("q147/q152/q153/q155 are per-row walkers; q150/q151/q156 pure projections: " +
    "only the final sort exchanges") {
    for (df <- Seq(
      TarOps.q147TarExtract(spark, sf),
      TfRecordOps.q152TfrecordRoundtrip(spark, sf),
      Mp3Ops.q153Mp3Scan(spark, sf),
      SubtitleOps.q155SubtitleExtract(spark, sf),
      MetaOps.q150MetaExtract(spark, sf),
      MetaOps.q151JsonldExtract(spark, sf),
      MetaOps.q156DataUriExtract(spark, sf))) {
      df.collect()
      val nonSort = deep(plan(df))
        .collect { case s: ShuffleExchangeExec
        // input-widening repartitions (Tables.widen / WarcOps.widenRecords,
        // r21 guide-2.5 unsplittable-input repair) are deliberate and
        // scale-conditional; the pin guards exchanges the OPERATOR induces
        if !Seq(org.apache.spark.sql.execution.exchange.REPARTITION_BY_COL,
            org.apache.spark.sql.execution.exchange.REPARTITION_BY_NUM)
          .contains(s.shuffleOrigin) => s }
        .filterNot(_.outputPartitioning.toString.toLowerCase.contains("range"))
      assert(nonSort.isEmpty,
        s"per-row operator plans a non-sort exchange:\n${plan(df)}")
      noCartesian(df)
    }
  }

  test("q148/q149: the only hash exchanges are the output-sized archive/feed group-bys") {
    for ((df, maxHash) <- Seq(
      (WetOps.q148WetRoundtrip(spark, sf), 2), // q135 corpus build + WET grouping
      (FeedOps.q149FeedParse(spark, sf), 1))) { // host-feed grouping
      df.collect()
      noCartesian(df)
      val hashEx = deep(plan(df))
        .collect { case s: ShuffleExchangeExec
        // input-widening repartitions (Tables.widen / WarcOps.widenRecords,
        // r21 guide-2.5 unsplittable-input repair) are deliberate and
        // scale-conditional; the pin guards exchanges the OPERATOR induces
        if !Seq(org.apache.spark.sql.execution.exchange.REPARTITION_BY_COL,
            org.apache.spark.sql.execution.exchange.REPARTITION_BY_NUM)
          .contains(s.shuffleOrigin) => s }
        .filter(_.outputPartitioning.toString.toLowerCase.contains("hash"))
      assert(hashEx.size <= maxHash,
        s"expected <= $maxHash grouping exchanges, got ${hashEx.size}:\n${plan(df)}")
    }
  }

  test("q157/q159/q160/q161/q162/q167 are per-row chains: only the final sort exchanges") {
    for (df <- Seq(
      ScriptOps.q157ScriptDetect(spark, sf),
      EmailOps.q159EmlExtract(spark, sf),
      UnidiffOps.q160UnidiffApply(spark, sf),
      FlacOps.q161FlacScan(spark, sf),
      TiffOps.q162TiffScan(spark, sf),
      SentenceOps.q167SentenceSplit(spark, sf))) {
      df.collect()
      val nonSort = deep(plan(df))
        .collect { case s: ShuffleExchangeExec
        // input-widening repartitions (Tables.widen / WarcOps.widenRecords,
        // r21 guide-2.5 unsplittable-input repair) are deliberate and
        // scale-conditional; the pin guards exchanges the OPERATOR induces
        if !Seq(org.apache.spark.sql.execution.exchange.REPARTITION_BY_COL,
            org.apache.spark.sql.execution.exchange.REPARTITION_BY_NUM)
          .contains(s.shuffleOrigin) => s }
        .filterNot(_.outputPartitioning.toString.toLowerCase.contains("range"))
      assert(nonSort.isEmpty,
        s"per-row operator plans a non-sort exchange:\n${plan(df)}")
      noCartesian(df)
    }
  }

  test("q158: exactly one join — the full-outer snapshot key join, never cartesian") {
    val df = SnapshotDiffOps.q158SnapshotDiff(spark, sf)
    df.collect()
    noCartesian(df)
    val joins = deep(plan(df)).collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.size == 1, s"expected the one snapshot join:\n${plan(df)}")
  }

  test("q163/q165 are per-row; q164/q166 group only into their containers") {
    for (df <- Seq(
      NotebookOps.q163NotebookExtract(spark, sf),
      CodeOps.q165CodeQuality(spark, sf))) {
      df.collect()
      val nonSort = deep(plan(df))
        .collect { case s: ShuffleExchangeExec
        // input-widening repartitions (Tables.widen / WarcOps.widenRecords,
        // r21 guide-2.5 unsplittable-input repair) are deliberate and
        // scale-conditional; the pin guards exchanges the OPERATOR induces
        if !Seq(org.apache.spark.sql.execution.exchange.REPARTITION_BY_COL,
            org.apache.spark.sql.execution.exchange.REPARTITION_BY_NUM)
          .contains(s.shuffleOrigin) => s }
        .filterNot(_.outputPartitioning.toString.toLowerCase.contains("range"))
      assert(nonSort.isEmpty, s"per-row operator shuffles:\n${plan(df)}")
      noCartesian(df)
    }
    for (df <- Seq(
      graft.operators.EmailOps.q164MboxExtract(spark, sf),
      WetOps.q166WarcRevisit(spark, sf))) {
      df.collect()
      noCartesian(df)
      val hashEx = deep(plan(df))
        .collect { case s: ShuffleExchangeExec
        // input-widening repartitions (Tables.widen / WarcOps.widenRecords,
        // r21 guide-2.5 unsplittable-input repair) are deliberate and
        // scale-conditional; the pin guards exchanges the OPERATOR induces
        if !Seq(org.apache.spark.sql.execution.exchange.REPARTITION_BY_COL,
            org.apache.spark.sql.execution.exchange.REPARTITION_BY_NUM)
          .contains(s.shuffleOrigin) => s }
        .filter(_.outputPartitioning.toString.toLowerCase.contains("hash"))
      assert(hashEx.size <= 1,
        s"expected only the container group-by:\n${plan(df)}")
    }
  }

  test("q154: dimensions broadcast — no shuffle joins reach the frontier") {
    val df = FrontierOps.q154FrontierSchedule(spark, sf)
    df.collect()
    noCartesian(df)
    val nodes = deep(plan(df))
    val shuffleJoins = nodes.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
    }
    assert(shuffleJoins.isEmpty,
      s"rule/freshness dimensions must broadcast:\n${plan(df)}")
    val bhj = nodes.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }
    assert(bhj.size >= 2, s"expected two broadcast dimension joins:\n${plan(df)}")
  }
}
