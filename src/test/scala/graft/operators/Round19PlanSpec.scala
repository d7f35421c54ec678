package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape pins for the round-19 operators — the 100 TB contracts
  * each scaladoc states, held by the optimizer output: the write-side
  * q195 costs the one corpus-construction group-by and no join (its
  * ratio flag rides with the extracted records), the dump/shard
  * walks (q196/q197) keep the single group-by, the objective prep
  * q198 is pure column algebra with ZERO exchanges before its output
  * sort, and the codec walks (q199/q200) never exchange at all.
  */
class Round19PlanSpec extends AnyFunSuite {

  private lazy val spark = graft.SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(df: DataFrame) = graft.SparkTestSession.finalPlan(df)

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

  private def hashExchanges(df: DataFrame): Int =
    deep(plan(df))
      .collect { case s: ShuffleExchangeExec
        // input-widening repartitions (Tables.widen / WarcOps.widenRecords,
        // r21 guide-2.5 unsplittable-input repair) are deliberate and
        // scale-conditional; the pin guards exchanges the OPERATOR induces
        if !Seq(org.apache.spark.sql.execution.exchange.REPARTITION_BY_COL,
            org.apache.spark.sql.execution.exchange.REPARTITION_BY_NUM)
          .contains(s.shuffleOrigin) => s }
      .count(_.outputPartitioning.toString.toLowerCase.contains("hash"))

  test("q195: write-side .warc.zst costs the archive group-by alone — " +
    "the ratio flag rides with the records, no join") {
    val df = WarcOps.q195WarcZstWrite(spark, sf)
    df.collect()
    noCartesian(df)
    val joins = deep(plan(df)).collect { case j: BaseJoinExec => j }
    assert(joins.isEmpty, s"q195 must not join back to its archives:\n${plan(df)}")
    assert(hashExchanges(df) <= 1,
      s"q195 expects the archive group-by only:\n${plan(df)}")
  }

  test("q196: the multistream dump loop costs exactly the one " +
    "corpus-construction group-by — write, stream walk, page parse " +
    "all per-row") {
    val df = DumpOps.q196DumpMultistream(spark, sf)
    df.collect()
    noCartesian(df)
    assert(hashExchanges(df) <= 1,
      s"q196 expects only the shard group-by:\n${plan(df)}")
  }

  test("q197: the .jsonl.lz4 shard loop costs exactly the one shard " +
    "group-by — frame encode/decode and JSON parse per-row") {
    val df = DumpOps.q197Lz4Shard(spark, sf)
    df.collect()
    noCartesian(df)
    assert(hashExchanges(df) <= 1,
      s"q197 expects only the shard group-by:\n${plan(df)}")
  }

  test("q198: FIM objective prep is pure codegen column algebra — ZERO " +
    "exchanges before the output sort (the q194 contract)") {
    val df = PackOps.q198FimObjective(spark, sf)
    df.collect()
    noCartesian(df)
    assert(hashExchanges(df) == 0,
      s"objective prep must not shuffle:\n${plan(df)}")
  }

  test("q199: the tRNS decode walk is per-row — no exchange before the " +
    "output sort") {
    val df = MultimodalOps.q199PngTrns(spark, sf)
    df.collect()
    noCartesian(df)
    assert(hashExchanges(df) == 0,
      s"per-row codec walk must not exchange:\n${plan(df)}")
  }

  test("q200: the tiled/multi-sample TIFF walk is per-row — no " +
    "exchange before the output sort") {
    val df = TiffOps.q200TiffTiled(spark, sf)
    df.collect()
    noCartesian(df)
    assert(hashExchanges(df) == 0,
      s"per-row codec walk must not exchange:\n${plan(df)}")
  }

  test("q201: the .tar.xz walk is per-row — no exchange before the " +
    "output sort (the q147 contract)") {
    val df = TarOps.q201TarXz(spark, sf)
    df.collect()
    noCartesian(df)
    assert(hashExchanges(df) == 0,
      s"per-row container walk must not exchange:\n${plan(df)}")
  }

  test("q203: packed attention masks cost q39's prefix-sum machinery " +
    "plus ONE chunk rollup — the O(partitions) offsets aggregate and " +
    "the chunk_id group-by, nothing else, never cartesian") {
    val df = PackOps.q203PackMask(spark, sf)
    df.collect()
    noCartesian(df)
    assert(hashExchanges(df) <= 2,
      s"q203 expects the offsets aggregate + chunk rollup:\n${plan(df)}")
    // the mask arithmetic invariant: block-diagonal pairs never exceed
    // the dense window, and equality only for single-segment chunks
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nSeg, maskP, denseP) = (r.getLong(1), r.getLong(5), r.getLong(6))
      assert(maskP <= denseP)
      assert((nSeg == 1) == (maskP == denseP), s"chunk ${r.getLong(0)}")
    }
  }
}
