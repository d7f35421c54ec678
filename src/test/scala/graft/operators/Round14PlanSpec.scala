package graft.operators

import graft.SparkTestSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape pins for the round-14 operators — the 100 TB contracts
  * stated in each scaladoc, held by the optimizer output, not by hope:
  * the per-row front-door operators shuffle only for their final sort;
  * q121's exchanges carry 16-byte digests, never raw segment text; no
  * new operator plans a cartesian.
  */
class Round14PlanSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  // AQE wraps the plan in an opaque AdaptiveSparkPlanExec (no children
  // for collect) — unwrap via the shared helper or every pin passes
  // vacuously
  private def plan(df: DataFrame) = graft.SparkTestSession.finalPlan(df)

  private def shuffles(df: DataFrame): Seq[ShuffleExchangeExec] =
    plan(df).collect { case s: ShuffleExchangeExec
        // input-widening repartitions (Tables.widen / WarcOps.widenRecords,
        // r21 guide-2.5 unsplittable-input repair) are deliberate and
        // scale-conditional; the pin guards exchanges the OPERATOR induces
        if !Seq(org.apache.spark.sql.execution.exchange.REPARTITION_BY_COL,
            org.apache.spark.sql.execution.exchange.REPARTITION_BY_NUM)
          .contains(s.shuffleOrigin) => s }

  private def noCartesian(df: DataFrame): Unit = {
    val bad = plan(df).collect {
      case j: CartesianProductExec => j
      case j: BroadcastNestedLoopJoinExec => j
    }
    assert(bad.isEmpty, s"cartesian/BNLJ in plan:\n${plan(df)}")
  }

  test("q122 html extract and q130 pii scrub are per-row: the ONLY exchange is the final sort") {
    for (df <- Seq(
      HtmlOps.q122HtmlExtract(spark, sf),
      PiiOps.q130PiiScrub(spark, sf))) {
      val ex = shuffles(df)
      assert(ex.size <= 1,
        s"per-row operator plans ${ex.size} exchanges:\n${plan(df)}")
      ex.foreach(s => assert(
        s.outputPartitioning.toString.toLowerCase.contains("range"),
        s"non-sort exchange in a per-row operator: ${s.outputPartitioning}"))
      noCartesian(df)
    }
  }

  test("q121 exchanges carry digests, never raw segment text") {
    val df = DedupOps.q121SegmentDedup(spark, sf)
    noCartesian(df)
    // no hash exchange may partition on a column named 'seg' (the raw
    // 10-word text); ownership and join-back key on the md5 column
    shuffles(df).foreach { s =>
      val part = s.outputPartitioning.toString
      assert(!part.contains("seg#"),
        s"raw segment text rides a shuffle: $part")
    }
  }

  test("q126: the production clustered leg is a cid EQUI-join (no cartesian); " +
    "the registered query carries EXACTLY ONE declared-exact BNLJ") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // production path: semanticDedupPairs pairs ONLY within a cluster —
    // an equi-join on cid, Σ|cluster|² work, never a corpus cartesian
    val nv = Seq(
      (1L, Seq(1.0, 0.0), 0), (2L, Seq(0.9, 0.1), 0),
      (3L, Seq(0.0, 1.0), 1), (4L, Seq(0.1, 0.9), 1))
      .toDF("vec_id", "nv", "cid")
    noCartesian(SimilarityOps.semanticDedupPairs(nv, 0.9))
    // DOCUMENTED EXEMPTION (round-15 ADVICE): q126's registered output
    // contract includes corpus-wide `exact_dup` — the q23-class DECLARED
    // exact baseline the oracle replays with the identical
    // normalize-then-dot chain and that `drop_sound` is measured
    // against. That single parity leg is inherently all-pairs
    // (BroadcastNestedLoopJoin); the pin here is that it stays the ONLY
    // one — the clustered production leg must never contribute a second.
    // semanticDedup checkpoints its verdicts, so the pin reads the lazy
    // verdict plan under q126's parameters; the clustered corpus is
    // cached there — traverse into InMemoryRelations too
    def deep(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val nodes = p.collect { case x => x }
      nodes ++ nodes.flatMap {
        case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          deep(s.relation.cachedPlan match {
            case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
              a.executedPlan
            case x => x
          })
        // materialized AQE stages are leaves to collect(); expand them
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          deep(s.plan)
        case _ => Nil
      }
    }
    SimilarityOps.semanticDedupWith(SimilarityOps.corpus(spark, sf),
        threshold = 0.4, nClusters = 16, trainSampleMod = 1) { q126 =>
      val bnlj = deep(plan(q126)).collect {
        case j: BroadcastNestedLoopJoinExec => j
        case j: CartesianProductExec => j
      }
      assert(bnlj.size == 1,
        s"q126 expects exactly the declared exact-parity BNLJ, got ${bnlj.size}:\n${plan(q126)}")
    }
  }

  test("q128/q129/q131 plan no cartesian; q129's only hash exchange is the canonical-key window") {
    noCartesian(WarcOps.q128WarcExtract(spark, sf))
    noCartesian(ClassifyOps.q131NbQuality(spark, sf))
    val df = UrlOps.q129UrlCanonicalize(spark, sf)
    noCartesian(df)
    val hashEx = shuffles(df)
      .filter(_.outputPartitioning.toString.toLowerCase.contains("hash"))
    assert(hashEx.size == 1,
      s"q129 expects exactly the canon_url window exchange:\n${plan(df)}")
  }
}
