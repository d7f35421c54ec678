package graft

import org.apache.spark.scheduler._
import java.nio.file.{Files, Paths}

/** Measurement harness for the optimization rounds (guide §1: measure
  * first). For each named query it
  *   - dumps `explain("formatted")` to `<outDir>/<name>_<tag>.txt`
  *     (the plan evidence the judge checks optimization claims against),
  *   - runs the query through the same noop sink as Bench, wrapped in a
  *     stage-level listener, and prints a per-stage breakdown: wall
  *     clock, summed executor run time, task count, shuffle bytes —
  *     so the expensive stage (and whether it is parallelism-starved:
  *     high run time over few tasks) is attributable from the log,
  *   - prints analysis/planning time separately from execution time
  *     (giant expression trees make Catalyst itself the bottleneck).
  *
  * Usage: runMain graft.Profile <tag> <query1,query2,...> [reps]
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS as in Bench.
  * Output dir: plans/r21.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val tag = if (args.nonEmpty) args(0) else "before"
    val names: Seq[String] =
      if (args.length > 1) args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val reps = if (args.length > 2) args(2).toInt else 1
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_PLANS_DIR", "plans/r22"))
    Files.createDirectories(outDir)
    val spark = GraftSession()
    // per-stage metrics accumulated by a listener; keyed by stage id
    case class St(name: String, var wallMs: Long = 0, var runMs: Long = 0,
      var tasks: Int = 0, var shRead: Long = 0, var shWrite: Long = 0,
      var input: Long = 0, var submitted: Long = 0)
    val stages = scala.collection.concurrent.TrieMap.empty[Int, St]
    val order = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    // stageId -> the job callsite that submitted it (more readable than
    // the stage's own name, which for broadcast threads is an anonfun)
    val stageJob = scala.collection.concurrent.TrieMap.empty[Int, String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val site = Option(e.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("")
        e.stageInfos.foreach(si => stageJob(si.stageId) = site)
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
        val job = stageJob.getOrElse(e.stageInfo.stageId, "")
        stages(e.stageInfo.stageId) = St(
          s"$job | ${e.stageInfo.name.takeWhile(_ != '$')}",
          submitted = System.currentTimeMillis())
        order.add(e.stageInfo.stageId); ()
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        stages.get(e.stageInfo.stageId).foreach { st =>
          st.wallMs = System.currentTimeMillis() - st.submitted
          st.tasks = e.stageInfo.numTasks
        }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) stages.get(e.stageId).foreach { st =>
          st.runMs += m.executorRunTime
          st.shRead += m.shuffleReadMetrics.totalBytesRead
          st.shWrite += m.shuffleWriteMetrics.bytesWritten
          st.input += m.inputMetrics.bytesRead
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    GraftSession.warmup(spark, sfDir)
    for (name <- names) {
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query: $name"))
      spark.catalog.clearCache()
      stages.clear(); order.clear()
      val tPlan0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      val tPlan = (System.nanoTime() - tPlan0) / 1e9
      Files.writeString(outDir.resolve(s"${name}_$tag.txt"), plan)
      for (r <- 0 until reps) {
        if (r > 0) { stages.clear(); order.clear() }
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"[profile] $name rep=$r total=$dt%.3f s (build+first-plan $tPlan%.3f s)")
        val sts = {
          import scala.jdk.CollectionConverters._
          order.asScala.toSeq.distinct.flatMap(stages.get)
        }
        val totalRun = sts.map(_.runMs).sum.max(1)
        sts.sortBy(-_.runMs).take(14).foreach { st =>
          println(f"[profile]   run=${st.runMs / 1e3}%8.2fs (${100.0 * st.runMs / totalRun}%4.1f%%) wall=${st.wallMs / 1e3}%7.2fs tasks=${st.tasks}%4d in=${st.input / 1e6}%8.1fMB shR=${st.shRead / 1e6}%7.1fMB shW=${st.shWrite / 1e6}%7.1fMB  ${st.name.take(90)}")
        }
        println(f"[profile]   stages=${sts.size} sum_executor_run=${totalRun / 1e3}%.2f s")
      }
    }
    spark.stop()
  }
}
