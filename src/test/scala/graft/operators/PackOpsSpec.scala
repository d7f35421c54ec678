package graft.operators

import graft.SparkTestSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PackOpsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("distributed prefix sum == the single-partition global window") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val df = (1 to 5000).map(i => (i.toLong * 3 + (i % 7), rnd.nextInt(100).toLong))
      .toDF("k", "v")
    val got = PackOps.exclusivePrefixSum(df, "k", "v", "off", partitions = 8)
      .select(col("k"), col("off")).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val oracle = df.withColumn("off",
      coalesce(sum(col("v")).over(
        Window.orderBy(col("k")).rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == oracle)
  }

  test("prefix sum plan: one range shuffle of the data, no pid re-shuffle, no global window") {
    import spark.implicits._
    val df = (1 to 100).map(i => (i.toLong, 1L)).toDF("k", "v")
    // the running-sum pass (checkpointed inside exclusivePrefixSum, so
    // its plan is read before the checkpoint): one range shuffle, then
    // the iterator pass
    val pass = PackOps.runningSum(df, Seq("k"), "v", partitions = 8)
      .queryExecution.executedPlan.toString
    assert(pass.contains("rangepartitioning"), pass)
    // the defeat case: a Window.partitionBy(spark_partition_id()) running
    // sum demands a SECOND full-data exchange on __pid right after the
    // range shuffle (measured before the mapPartitions rewrite) — assert
    // the running sum is the iterator pass and no window is keyed on __pid
    assert(pass.contains("MapPartitions") && !pass.contains("windowspecdefinition"), pass)
    val out = PackOps.exclusivePrefixSum(df, "k", "v", "off", partitions = 8)
    val plan = out.queryExecution.executedPlan.toString
    // no data-sized window at all: the only window is the
    // O(partitions)-row offsets shift, which sums __t — a pid-keyed
    // running sum over the data would show a windowspecdefinition over
    // v ordered by k
    val windows = plan.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windows.nonEmpty && windows.forall(w => w.contains("__t") && !w.contains("k#")),
      s"unexpected data-sized window:\n$plan")
    // offsets come back via broadcast: the stream side keeps its layout
    assert(plan.contains("BroadcastHashJoin"), plan)
    // both consumers (stream side + offsets aggregate) scan the ONE
    // checkpointed materialization of the pid-stamped stream — the
    // guarantee that one range-boundary sample backs both __pid reads (a
    // re-executed exchange could sample different boundaries)
    val scans = SparkTestSession.finalPlan(out).collect {
      case s: org.apache.spark.sql.execution.RDDScanExec => s.rdd.id
    }
    assert(scans.size >= 2 && scans.distinct.size == 1, plan)
  }

  test("packChunks invariants: spans tile each doc, chunks respect capacity") {
    val c = 256L
    val out = PackOps.q39PackChunks(spark, sf).collect()
    assert(out.nonEmpty)
    // per doc: spans are contiguous from 0 to tok, across consecutive chunks
    out.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getLong(1))
      assert(sorted.head.getLong(2) == 0L) // first span starts at 0
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getLong(1) + 1 == b.getLong(1), "chunk ids not consecutive")
          assert(a.getLong(3) == b.getLong(2), "spans not contiguous")
        case _ => ()
      }
      sorted.foreach(r => assert(r.getLong(3) - r.getLong(2) <= c))
    }
    // per chunk: token spans sum to exactly `capacity` (except the last chunk)
    val perChunk = out.groupBy(_.getLong(1)).view
      .mapValues(_.map(r => r.getLong(3) - r.getLong(2)).sum).toMap
    val lastChunk = perChunk.keys.max
    perChunk.foreach { case (cid, tot) =>
      if (cid != lastChunk) assert(tot == c, s"chunk $cid holds $tot tokens")
      else assert(tot <= c)
    }
    // global: total packed tokens == total whitespace tokens
    val totTok = graft.Tables.documents(spark, sf)
      .select(sum(size(split(col("text"), " ")).cast("long"))).head.getLong(0)
    assert(perChunk.values.sum == totTok)
  }

  test("epochPack: every mixed COPY contributes its full token span at its epoch slot") {
    import spark.implicits._
    val docs = (1L to 40L).map(i =>
      (i, Seq.fill(5 + (i % 7).toInt)("w").mkString(" "),
        if (i % 2 == 0) "a" else "b"))
      .toDF("doc_id", "text", "lang")
    // lang a ×2 (every doc twice), lang b ×0.5 (deterministic half)
    val out = PackOps.epochPack(docs, "lang", "doc_id",
      Map("a" -> 2.0, "b" -> 0.5), 1.0, 16L).collect()
    assert(out.nonEmpty)
    // per (doc, rep): spans tile the copy's token count exactly
    val toks = docs.select(col("doc_id"), size(split(col("text"), " ")).cast("long"))
      .as[(Long, Long)].collect().toMap
    out.groupBy(r => (r.getLong(0), r.getLong(1))).foreach { case ((id, _), rows) =>
      assert(rows.map(r => r.getLong(5) - r.getLong(4)).sum == toks(id),
        s"copy of doc $id lost tokens")
    }
    // weights respected: every 'a' doc appears exactly twice, 'b' docs
    // appear 0 or 1 times, and the mix is deterministic across reruns
    val copies = out.map(r => (r.getLong(0), r.getLong(1))).distinct
      .groupBy(_._1).view.mapValues(_.length).toMap
    assert(copies.filter(_._1 % 2 == 0).values.forall(_ == 2))
    assert(copies.filter(_._1 % 2 == 1).values.forall(_ == 1))
    val again = PackOps.epochPack(docs, "lang", "doc_id",
      Map("a" -> 2.0, "b" -> 0.5), 1.0, 16L).collect()
    assert(out.map(_.toSeq).toSet == again.map(_.toSeq).toSet)
  }
}
