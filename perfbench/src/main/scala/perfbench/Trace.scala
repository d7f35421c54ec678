package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Wall clock in epoch milliseconds with nanoTime resolution: spans opened
  * by the benchmark and times carried by Spark listener events (epoch ms)
  * land on one axis.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def ms: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Which units of work (drains, passes) a run traces, and when it may stop.
  * Untraced runs measure two units at least. In traced runs unit 0 only
  * warms up; after it untraced and traced units alternate (1 off, 2 on,
  * 3 off, ...), at least six units, ending on an untraced one.
  */
object Schedule {
  def traced(trace: Boolean, unit: Int): Boolean = trace && unit >= 2 && unit % 2 == 0

  def done(trace: Boolean, units: Int, pastDeadline: Boolean): Boolean =
    pastDeadline && (if (trace) units >= 6 && units % 2 == 0 else units >= 2)

  /** Tracing overhead from the walls of a traced run's units, in order:
    * median over traced units of wall / expected untraced wall, minus one.
    * The expectation is the parabola through the three nearest untraced
    * units, which follows the run's warm-up drift (larger than the overhead
    * and curved, so a mean of two neighbours would not).
    */
  def overhead(walls: IndexedSeq[Double]): Double = {
    val n = walls.length
    Common.median((2 until n - 1 by 2).map { u =>
      val xs = if (u + 3 < n) Seq(u - 1, u + 1, u + 3) else Seq(u - 3, u - 1, u + 1)
      val expected = xs.map(x => walls(x) * xs.filter(_ != x).map(o => (u - o).toDouble / (x - o)).product).sum
      walls(u) / expected
    }) - 1.0
  }
}

/** One traced interval. `group` ties the spans of one batch or pass. */
final case class Span(id: Int, name: String, layer: String, start: Double, end: Double,
    parent: Int, group: String)

/** In-memory span recorder. Spans opened with `span` get their parent from
  * the calling thread's open spans; spans recorded from listener events get
  * theirs in `resolved`, from their group or from the innermost span that
  * contains them. Disabled tracers record nothing and cost one branch.
  */
final class Tracer(@volatile var enabled: Boolean) {
  private val recorded = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val open = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }

  def span[T](name: String, layer: String, group: String = "")(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val parent = open.get.headOption.getOrElse(0)
      open.set(id :: open.get)
      val t0 = Clock.ms
      try f
      finally {
        open.set(open.get.tail)
        recorded.add(Span(id, name, layer, t0, Clock.ms, parent, group))
      }
    }

  /** A span observed from a listener event; parent is resolved later. */
  def record(name: String, layer: String, start: Double, end: Double, group: String): Unit =
    if (enabled) { recorded.add(Span(ids.incrementAndGet(), name, layer, start, end, -1, group)); () }

  /** All spans with every parent resolved: a job span's parent is the
    * batch or query span of its group; any other listener span's is the
    * shortest benchmark span that contains it (0 = root).
    */
  def resolved: Seq[Span] = {
    val all = recorded.asScala.toVector.sortBy(_.start)
    val owners = all.filter(s => s.group.nonEmpty && s.name != "spark.job")
      .groupBy(_.group).map { case (g, ss) => g -> ss.minBy(s => s.end - s.start) }
    val framed = all.filter(_.parent >= 0)
    all.map { s =>
      if (s.parent >= 0) s
      else {
        val byGroup = owners.get(s.group).filter(_.id != s.id)
        val p = byGroup.orElse(framed.iterator
          .filter(c => c.start <= s.start + 1 && c.end >= s.end - 1)
          .minByOption(c => c.end - c.start))
        s.copy(parent = p.map(_.id).getOrElse(0))
      }
    }
  }
}

object Tracer {
  /** Self time per layer: a span's duration minus the part of it that its
    * children cover (children clipped to the span, overlaps merged).
    */
  def selfTimeByLayer(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.iterator.map { s =>
        val covered = coverage(kids.getOrElse(s.id, Nil).map(c =>
          (math.max(c.start, s.start), math.min(c.end, s.end))))
        math.max(0.0, (s.end - s.start) - covered)
      }.sum / 1000.0
    }
  }

  /** Length of the union of intervals. */
  def coverage(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

/** Engine-wide counters from task and job events, with per-job-group
  * attribution (the suite tags each query with a job group) and job spans.
  */
final class SparkCounters(tracer: Tracer) extends SparkListener {
  final class Acc {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var runMs = 0L; var gcMs = 0L; var shuffleBytes = 0L; var outputBytes = 0L
  }
  val total = new Acc
  val byGroup = mutable.Map.empty[String, Acc]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val jobInfo = mutable.Map.empty[Int, (Double, String)]

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap { p =>
      Option(p.getProperty("spark.jobGroup.id")).orElse(
        Option(p.getProperty("sql.streaming.queryId")).map(q =>
          s"$q:${Option(p.getProperty("streaming.sql.batchId")).getOrElse("")}"))
    }.getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = groupOf(e.properties)
    total.jobs += 1
    byGroup.getOrElseUpdate(g, new Acc).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
    jobInfo(e.jobId) = (e.time.toDouble, g)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobInfo.remove(e.jobId).foreach { case (t0, g) =>
      tracer.record(s"spark.job", "spark", t0, e.time.toDouble, g)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    total.stages += 1
    byGroup.getOrElseUpdate(stageGroup.getOrElse(e.stageInfo.stageId, ""), new Acc).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      for (a <- Seq(total, byGroup.getOrElseUpdate(stageGroup.getOrElse(e.stageId, ""), new Acc))) {
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        a.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }
}

/** Catalyst planning time (analysis + optimization + planning) of every
  * query execution that finishes, stamped with the phase start time so it
  * can be attributed to the query span that contains it. A DataFrame's own
  * eager analysis runs before any action, so callers `note` it directly.
  */
final class PlanTimes extends QueryExecutionListener {
  val phases = new ConcurrentLinkedQueue[(Double, Double)]() // (start ms, planning s)
  def note(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    val planning = Seq("analysis", "optimization", "planning").flatMap(ph.get)
    if (planning.nonEmpty)
      phases.add((planning.map(_.startTimeMs).min.toDouble, planning.map(_.durationMs).sum / 1000.0))
    ()
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = note(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = note(qe)
}

/** Every micro-batch progress event and query termination, stamped with
  * the wall time the listener saw it. `cdc_backfill` reads file latency,
  * batch phases, state and row accounting from here.
  */
object ProgressLog {
  final case class Batch(query: String, batchId: Long, seenMs: Double, inputRows: Long,
      durations: Map[String, Long], state: Option[StateInfo], dropped: Long)
  final case class StateInfo(total: Long, updated: Long, removed: Long, memory: Long, commitMs: Long)
}

final class ProgressLog(tracer: Tracer) extends StreamingQueryListener {
  import ProgressLog._

  val batches = new ConcurrentLinkedQueue[Batch]()
  val terminated = new ConcurrentLinkedQueue[(String, Double)]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
    terminated.add((e.id.toString, Clock.ms)); ()
  }
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val now = Clock.ms
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val dur = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val st = p.stateOperators.headOption.map { s =>
      StateInfo(s.numRowsTotal, s.numRowsUpdated, s.numRowsRemoved, s.memoryUsedBytes, s.commitTimeMs)
    }
    // the graft_events_feed / graft_ide_feed observed metric of the batch
    val dropped = p.observedMetrics.asScala.values.headOption
      .filter(_.schema.fieldNames.contains("rows_dropped"))
      .map(_.getAs[Long]("rows_dropped")).getOrElse(0L)
    batches.add(Batch(p.id.toString, p.batchId, now, p.numInputRows, dur, st, dropped))
    val trig = dur.getOrElse("triggerExecution", 0L).toDouble
    if (p.numInputRows > 0)
      tracer.record("streaming.batch", "streaming", start, start + trig, s"${p.id}:${p.batchId}")
    ()
  }

  def all: Vector[Batch] = batches.asScala.toVector
}
