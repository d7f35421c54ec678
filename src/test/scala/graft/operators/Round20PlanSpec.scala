package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape pins for the round-20 operators — the 100 TB contracts
  * each scaladoc states, held by the optimizer output: q204 serves
  * selective access from the EMBEDDED seek table with exactly the one
  * corpus-construction group-by (no standing-index join, no extra
  * exchange vs the q195 write path it reads), q201's filter-chain
  * arms stay a per-row container walk with zero exchanges before the
  * output sort, and dictionary training adds NO plan cost to q195
  * (it rides inside the existing group-by's map function).
  */
class Round20PlanSpec extends AnyFunSuite {

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

  test("q204: embedded-index selective access costs exactly the one " +
    "corpus-construction group-by — no standing-index join, no " +
    "second exchange for the fetch") {
    val df = WarcOps.q204SeekableFetch(spark, sf)
    df.collect()
    noCartesian(df)
    assert(hashExchanges(df) <= 1,
      s"q204 expects only the archive group-by:\n${plan(df)}")
    // and no join at all: the seek table rides in the shard tail
    val joins = deep(plan(df)).collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.isEmpty, s"q204 must not join:\n${plan(df)}")
  }

  test("q201 with filter-chain arms: still a per-row container walk, " +
    "ZERO exchanges before the output sort") {
    val df = TarOps.q201TarXz(spark, sf)
    df.collect()
    noCartesian(df)
    assert(hashExchanges(df) == 0,
      s"q201 must not shuffle before its sort:\n${plan(df)}")
  }

  test("q205 importance scoring: no cartesian beyond the 1-row totals " +
    "broadcasts, the 4096-row weight table broadcasts, no window, " +
    "bounded hash exchanges") {
    val df = CurateOps.q205ImportanceSample(spark, sf)
    df.collect()
    val nodes = deep(plan(df))
    val cart = nodes.collect {
      case j: CartesianProductExec => j
      case j: BroadcastNestedLoopJoinExec => j
    }
    // the tot/agg 1-row cross joins legitimately plan as BNLJ over a
    // broadcast single row; anything joining real row streams may not
    def hasBroadcast(p: SparkPlan): Boolean =
      p.collectFirst {
        case b: org.apache.spark.sql.execution.exchange
          .BroadcastExchangeExec => b
        case b: org.apache.spark.sql.execution.adaptive
          .BroadcastQueryStageExec => b
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec
          if r.child.isInstanceOf[
            org.apache.spark.sql.execution.exchange.BroadcastExchangeExec] => r
      }.isDefined
    assert(cart.forall(j => j.children.exists(hasBroadcast)),
      s"non-broadcast cartesian:\n${plan(df)}")
    val windows = nodes.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty, s"q205 must not window:\n${plan(df)}")
    // the feature counts (dc) and per-doc scores are PERSISTED — each
    // cached subtree's exchanges execute once at materialization no
    // matter how many consumers scan it, so the executed-work pin is
    // the TOP-LEVEL plan (cached scans excluded): the documents-to-
    // scores left join + the output sort, nothing else
    def deepNoCache(p: SparkPlan): Seq[SparkPlan] = {
      val nodes = p.collect { case x => x }
      nodes ++ nodes.flatMap {
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          deepNoCache(s.plan)
        case _ => Nil
      }
    }
    val topHash = deepNoCache(plan(df))
      .collect { case s: ShuffleExchangeExec
        // input-widening repartitions (Tables.widen / WarcOps.widenRecords,
        // r21 guide-2.5 unsplittable-input repair) are deliberate and
        // scale-conditional; the pin guards exchanges the OPERATOR induces
        if !Seq(org.apache.spark.sql.execution.exchange.REPARTITION_BY_COL,
            org.apache.spark.sql.execution.exchange.REPARTITION_BY_NUM)
          .contains(s.shuffleOrigin) => s }
      .count(_.outputPartitioning.toString.toLowerCase.contains("hash"))
    assert(topHash <= 3,
      s"q205's final pass expects only the doc_id join exchanges:\n${plan(df)}")
    // and both standing intermediates are genuinely cached (one
    // materialization serving the weight fit, the mean, and the join)
    val cachedScans = deep(plan(df)).collect {
      case c: org.apache.spark.sql.execution.columnar
        .InMemoryTableScanExec => c
    }
    assert(cachedScans.nonEmpty,
      s"q205 must reuse its materialized intermediates:\n${plan(df)}")
  }

  test("q195 with dictionary training: plan shape UNCHANGED from the " +
    "round-19 pin (training rides inside the group-by's map)") {
    val df = WarcOps.q195WarcZstWrite(spark, sf)
    df.collect()
    noCartesian(df)
    val joins = deep(plan(df)).collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.isEmpty, s"q195 must not join back to its archives:\n${plan(df)}")
    assert(hashExchanges(df) <= 1,
      s"q195 expects the archive group-by only:\n${plan(df)}")
  }
}
