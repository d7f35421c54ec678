package perfbench

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** query_suite: closed loop, one client. Round-robin passes over a slice of
  * `SparkEntry` queries in a seed-permuted order, each result materialised
  * with a noop write as `Bench` does. Set-up is the session, a neutral
  * warm-up, one cold pass, which builds the standing artifacts and writes
  * every result for the oracle check, and one untimed warm pass.
  *
  * Passes repeat until the measuring time is up, two at least. Traced runs
  * follow `Schedule`: after one warm pass, untraced and traced passes
  * alternate; the difference in pass wall between a traced pass and its
  * untraced neighbours is the tracing overhead.
  */
object Suite {
  def run(ctx: Ctx, spark: SparkSession, tracer: Tracer, t0: Long, out: Outcome): Unit = {
    val tables = ctx.input
    // family -> queries, as the runner lists them (metrics.QUERIES)
    val families: Seq[(String, Seq[String])] = {
      val node = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(Files.readString(Paths.get(s"$tables/queries.json")))
      node.fieldNames.asScala.toSeq.map(f => f -> node.get(f).elements.asScala.map(_.asText).toSeq)
    }
    val order = new scala.util.Random(ctx.seed).shuffle(families.flatMap(_._2))
    val sc = spark.sparkContext
    // neutral warm-up (not one of the timed queries), as Bench does
    spark.range(1000000).selectExpr("sum(id) as s", "count(distinct id % 7) as d")
      .write.format("noop").mode("overwrite").save()
    // cold pass: standing artifacts get built, results land for the oracle
    val dead = mutable.Set.empty[String]
    order.foreach { name =>
      out.attempt(s"$name cold") {
        SparkEntry.queries(name)(spark, tables).write.parquet(s"${ctx.work}/results/$name")
        true
      }
      if (out.failures.exists(_.startsWith(s"$name cold"))) dead += name
    }
    // one untimed pass as the measured ones run: passes right after the cold
    // one still get faster by up to a tenth each as the JIT warms
    order.filterNot(dead).foreach(name =>
      SparkEntry.queries(name)(spark, tables).write.format("noop").mode("overwrite").save())
    Files.writeString(Paths.get(s"${ctx.work}/oracle_sql.json"),
      Json.write(order.map(q => q -> SparkEntry.oracleSql.getOrElse(q, "")).toMap))
    out.raw("setup_s") = Common.secondsSince(t0)
    out.mark("setup")
    out.raw("calibration_s") = Common.calibration()

    val counters = new SparkCounters(tracer)
    val plans = new PlanTimes
    val samples = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val deadline = System.nanoTime() + ctx.seconds * 1_000_000_000L
    var p = 0
    // two passes at least, so every run's median rests on the same count
    while (!Schedule.done(ctx.trace, p, System.nanoTime() >= deadline)) {
      val traced = Schedule.traced(ctx.trace, p)
      if (traced) {
        tracer.enabled = true
        sc.addSparkListener(counters)
        spark.listenerManager.register(plans)
      }
      val tp = System.nanoTime()
      tracer.span("operators.pass", "operators", s"pass$p") {
        order.filterNot(dead).foreach { name =>
          val group = s"$name#$p"
          sc.setJobGroup(group, name)
          val startMs = Clock.ms
          val tq = System.nanoTime()
          out.attempt(s"$name pass $p") {
            tracer.span(s"operators.$name", "operators", group) {
              val df = SparkEntry.queries(name)(spark, tables)
              if (traced) plans.note(df.queryExecution)
              df.write.format("noop").mode("overwrite").save()
            }
            true
          }
          samples += Map("query" -> name, "pass" -> p, "s" -> Common.secondsSince(tq),
            "start_ms" -> startMs, "end_ms" -> Clock.ms, "traced" -> traced)
          sc.clearJobGroup()
        }
      }
      passes += Map("pass" -> p, "s" -> Common.secondsSince(tp), "traced" -> traced)
      if (traced) {
        spark.listenerManager.unregister(plans)
        sc.removeSparkListener(counters)
        tracer.enabled = false
      }
      p += 1
    }
    out.mark("measured")
    out.raw("samples") = samples.toSeq
    out.raw("passes") = passes.toSeq
    out.raw("stored_bytes") = Common.du(sys.props("java.io.tmpdir"))
    out.raw("input_bytes") = Common.du(tables)
    if (ctx.trace) layers(families, samples.toSeq, passes.toSeq, counters, plans, out)
  }

  private def layers(families: Seq[(String, Seq[String])], samples: Seq[Map[String, Any]],
      passes: Seq[Map[String, Any]], counters: SparkCounters, plans: PlanTimes, out: Outcome): Unit = {
    Thread.sleep(500) // listener bus drains the last events
    val traced = samples.filter(_("traced") == true)
    val nPasses = passes.count(_("traced") == true)
    val phases = plans.phases.asScala.toVector
    def planOf(s: Map[String, Any]) = {
      val (a, b) = (s("start_ms").asInstanceOf[Double], s("end_ms").asInstanceOf[Double])
      phases.filter(ph => ph._1 >= a - 1 && ph._1 <= b).map(_._2).sum
    }
    def group(s: Map[String, Any]) = s"${s("query")}#${s("pass")}"
    def acc(s: Map[String, Any]) = counters.synchronized(counters.byGroup.get(group(s)))
    traced.groupBy(_("query").toString).foreach { case (q, ss) =>
      out.layers(s"operators.$q.s") = Common.median(ss.map(_("s").asInstanceOf[Double]))
      out.layers(s"operators.$q.jobs") = ss.flatMap(acc).map(_.jobs).sum.toDouble / ss.size
    }
    families.foreach { case (fam, qs) =>
      val ss = traced.filter(s => qs.contains(s("query")))
      val per = nPasses.max(1).toDouble
      val plan = ss.map(planOf).sum
      out.layers(s"operators.$fam.plan_s") = plan / per
      out.layers(s"operators.$fam.exec_s") = (ss.map(_("s").asInstanceOf[Double]).sum - plan) / per
      out.layers(s"operators.$fam.shuffle_bytes") = ss.flatMap(acc).map(_.shuffleBytes).sum / per
      out.layers(s"operators.$fam.driver_jobs") = ss.flatMap(acc).map(_.jobs).sum / per
    }
    out.layers ++= Streams.sparkMetrics(counters, nPasses)
    out.layers("trace.overhead_ratio") = Schedule.overhead(passes.map(_("s").asInstanceOf[Double]).toIndexedSeq)
  }
}
