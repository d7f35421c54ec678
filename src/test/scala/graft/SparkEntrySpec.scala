package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = GraftSession(4)

  /** The physical plan with exchanges/sorts inserted (post-preparation),
    * unwrapped from the AQE shell so `collect` traverses real operator
    * nodes. Plan-shape pins must count nodes here, not substrings of the
    * serialized tree — an InMemoryTableScan left cached by another suite
    * prints its own cached plan's text and poisons substring counts
    * (round-10 order-dependent flake).
    */
  def finalPlan(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.execution.SparkPlan =
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
}

/** Smoke-level checks of the driver contract: every declared query runs on
  * sf0.001 and produces rows; exact value parity vs DuckDB is enforced by
  * the driver's oracle gate (and tools/check_oracle.py locally).
  */
class SparkEntrySpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = SparkTestSession.spark

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracleSql key has a queries entry") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracleSql without queries: $missing")
  }

  test("every registered query has an oracle — the waiver stays retired") {
    // round 12 retired the rows-only waiver set; a new query without an
    // oracle would silently reopen it, so the gate is now structural
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noOracle.isEmpty, s"queries without oracleSql: $noOracle")
  }

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"$name runs and returns rows on sf0.001") {
      // from a cleared cache: whatever is cached afterwards, this query
      // left behind, and only a declared slot may
      spark.catalog.clearCache()
      val df = fn(spark, sf)
      assert(df.count() > 0, s"$name returned no rows")
      assert(spark.sharedState.cacheManager.isEmpty ||
        CacheLifecycle.declaredSlots(name),
        s"$name left ${CacheLifecycle.leftBehind(spark, name)} cached frames")
    }
  }

  test("widen policy pins: narrow operators plan ZERO input repartitions, widened ones keep exactly theirs") {
    // closes the r21 plan-pin loophole: every exchange pin excludes
    // REPARTITION_BY_COL/NUM-origin exchanges (the deliberate input
    // widening), so a gratuitous repartition() could slip past every
    // guard. This companion pin bounds the widen-origin count per query:
    //  - the measured-tax operators that opted OUT of the widen (r22)
    //    must plan NO repartition at all — the verdict's done-criterion
    //    for the widen-tax recovery;
    //  - q55 (the one relational query that keeps the widen) plans
    //    exactly one;
    //  - q116 (documents stays widened) keeps at least one, in the lazy
    //    plan it checkpoints.
    def repartitions(df: org.apache.spark.sql.DataFrame): Int = {
      def deep(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] = {
        val nodes = p.collect { case x => x }
        nodes ++ nodes.flatMap {
          case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => deep(s.plan)
          case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
            deep(s.relation.cachedPlan match {
              case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
              case x => x
            })
          case _ => Nil
        }
      }
      df.collect() // materialize AQE stages
      deep(SparkTestSession.finalPlan(df)).collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if Seq(org.apache.spark.sql.execution.exchange.REPARTITION_BY_COL,
            org.apache.spark.sql.execution.exchange.REPARTITION_BY_NUM)
            .contains(e.shuffleOrigin) => e
      }.size
    }
    spark.catalog.clearCache()
    for (q <- Seq("q107_backoff_lm", "q92_lm_quality", "q54_length_profile",
        "q18_exact_dedup", "q111_association_rules", "q1_agg", "q9_multi_join"))
      assert(repartitions(SparkEntry.queries(q)(spark, sf)) == 0,
        s"$q opted out of the widen but still plans a repartition exchange")
    assert(repartitions(SparkEntry.queries("q55_rollup")(spark, sf)) == 1,
      "q55 keeps exactly its one lineitem widen")
    assert(graft.operators.SearchOps.q116With(spark, sf)(repartitions) >= 1,
      "q116's documents widen disappeared")
    spark.catalog.clearCache()
  }

  test("q55 rollup computes all granularities via one Expand + one aggregate exchange") {
    val qe = SparkEntry.queries("q55_rollup")(spark, sf).queryExecution
    assert(qe.executedPlan.toString.contains("Expand"),
      s"rollup did not plan an Expand:\n${qe.executedPlan}")
    // count real hash-shuffle nodes — a substring count over the
    // serialized tree can pick up partitioning strings from cross-suite
    // cached subtrees (InMemoryTableScan)
    val hashExchanges = SparkTestSession.finalPlan(
      SparkEntry.queries("q55_rollup")(spark, sf)).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        if e.outputPartitioning
          .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] &&
          // the r21 input-widening repartition (Tables.widen) is
          // deliberate, not an aggregate exchange
          !Seq(org.apache.spark.sql.execution.exchange.REPARTITION_BY_COL,
            org.apache.spark.sql.execution.exchange.REPARTITION_BY_NUM)
            .contains(e.shuffleOrigin) => e
    }.size
    assert(hashExchanges == 1,
      s"expected exactly one aggregate exchange, saw $hashExchanges:\n${qe.executedPlan}")
  }
}
