package perfbench

import java.nio.file.{Files, Paths}

/** Minimal JSON writer for nested maps, sequences, strings and numbers. */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => write(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(write).mkString("[", ",", "]")
    case other => write(other.toString)
  }
}

/** JVM side of the benchmark: `Main <workload> <workDir> <seconds> <trace> <seed>`.
  * Inputs are already generated under `<workDir>/input`; the run leaves
  * `<workDir>/result.json` (raw samples, checks, layer values) and, when
  * traced, `<workDir>/trace.json` (every span).
  */
object Main {
  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val Array(workload, work, seconds, trace, seed) = args
    val ctx = Ctx(work, seconds.toInt, trace == "1", seed.toLong, Runtime.getRuntime.availableProcessors)
    val tracer = new Tracer(false)
    val out = new Outcome
    val spark = if (workload == "query_suite") Common.suiteSession(ctx) else Common.cdcSession(ctx)
    spark.sparkContext.setLogLevel("WARN")
    out.mark("session")
    val log = new ProgressLog(tracer)
    spark.streams.addListener(log)
    try {
      workload match {
        case "cdc_backfill" => Backfill.run(ctx, spark, log, tracer, t0, out)
        case "query_suite" => Suite.run(ctx, spark, tracer, t0, out)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      out.mark("done")
      if (ctx.trace) {
        val spans = tracer.resolved
        Tracer.selfTimeByLayer(spans).foreach { case (layer, s) => out.layers(s"$layer.self_s") = s }
        Files.writeString(Paths.get(s"$work/trace.json"), Json.write(spans.map(s => Map(
          "id" -> s.id, "name" -> s.name, "layer" -> s.layer, "start_ms" -> s.start,
          "end_ms" -> s.end, "parent" -> s.parent, "group" -> s.group))))
      }
      out.raw("peak_rss_mb") = Common.peakRssMb()
      out.raw("conf") = Common.conf(spark)
      out.raw("cpus") = ctx.cpus
      Files.writeString(Paths.get(s"$work/result.json"), Json.write(Map(
        "attempted" -> out.attempted, "failures" -> out.failures.toSeq,
        "raw" -> out.raw, "layers" -> out.layers, "marks" -> out.marks)))
    } finally {
      spark.streams.active.foreach(_.stop())
      spark.stop()
    }
    sys.exit(0)
  }
}
