package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One run's arguments: where its inputs and scratch live, how long to
  * measure, and whether this is the traced run.
  */
final case class Ctx(work: String, seconds: Int, trace: Boolean, seed: Long, cpus: Int) {
  def input: String = s"$work/input"
  def counts: Map[String, Long] = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(Paths.get(s"$input/counts.json")))
    node.fieldNames.asScala.map(k => k -> node.get(k).asLong).toMap
  }
}

/** What a workload hands back: operation accounting, the raw samples the
  * runner turns into metrics, and (traced runs) per-layer values.
  */
final class Outcome {
  var attempted = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val raw = mutable.LinkedHashMap.empty[String, Any]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val marks = mutable.LinkedHashMap.empty[String, Double]
  private val born = System.nanoTime()

  /** Seconds since the engine process started, per named point of the run. */
  def mark(name: String): Unit = marks(name) = Common.secondsSince(born)

  /** Count one operation; a thrown exception or a false result fails it. */
  def attempt(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val problem =
      try { if (ok) None else Some("check failed") }
      catch { case e: Throwable => Some(s"${e.getClass.getSimpleName} ${String.valueOf(e.getMessage).take(300)}") }
    problem.foreach(p => failures += s"$what: $p")
  }
}

object Common {
  /** Settings `Pipeline.main` builds its session with (RocksDB state store
    * included), plus the scratch locations that keep a run inside its
    * work dir.
    */
  def cdcSession(ctx: Ctx): SparkSession =
    base(ctx)
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .getOrCreate()

  /** Settings `Bench.main` builds its session with. `BenchPhases` is left
    * disabled: the suite times the path every other caller runs.
    */
  def suiteSession(ctx: Ctx): SparkSession =
    base(ctx)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16k")
      .getOrCreate()

  private def base(ctx: Ctx) =
    SparkSession.builder()
      .master(s"local[${ctx.cpus}]")
      .config("spark.sql.shuffle.partitions", ctx.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", s"${ctx.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${ctx.work}/warehouse")

  /** The effective session conf, so drift between session builders shows. */
  def conf(spark: SparkSession): Map[String, String] =
    spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k == "spark.master" || k.startsWith("spark.local")
    }

  /** Single-thread CPU probe (the one `Bench` ships): SplitMix64 fill, sort
    * and fold over 4M longs, min of 3 after one warm pass.
    */
  def calibration(): Double = {
    def probe(): Double = {
      val n = 1 << 22
      val a = new Array[Long](n)
      var x = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < n) {
        x ^= x >>> 30; x *= 0xBF58476D1CE4E5B9L
        x ^= x >>> 27; x *= 0x94D049BB133111EBL; x ^= x >>> 31
        a(i) = x; i += 1
      }
      val t0 = System.nanoTime()
      java.util.Arrays.sort(a)
      var h = 0L
      i = 0
      while (i < n) { h ^= a(i) * 0xFF51AFD7ED558CCDL; i += 1 }
      val dt = (System.nanoTime() - t0) / 1e9
      if (h == 42L) System.err.println("")
      dt
    }
    probe()
    (0 until 3).map(_ => probe()).min
  }

  /** Peak resident set of this JVM (VmHWM); RocksDB state lives off-heap. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(0.0)

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Bytes of all regular files under `dir` (0 when absent). */
  def du(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  /** Data files (not checksums or markers) under `dir`. */
  def dataFiles(dir: String): Int = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.count { f =>
        val n = f.getFileName.toString
        Files.isRegularFile(f) && n.endsWith(".parquet")
      } finally s.close()
    }
  }

  def listSorted(dir: String): Vector[String] = {
    val s = Files.list(Paths.get(dir))
    try s.iterator.asScala.map(_.getFileName.toString).toVector.sorted finally s.close()
  }

  /** Copy a file or a directory tree, keeping modification times. */
  def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    if (Files.exists(src)) {
      val s = Files.walk(src)
      try s.iterator.asScala.foreach { f =>
        val t = Paths.get(to).resolve(src.relativize(f).toString)
        if (Files.isDirectory(f)) Files.createDirectories(t)
        else {
          Files.createDirectories(t.getParent)
          Files.copy(f, t, StandardCopyOption.COPY_ATTRIBUTES)
        }
      } finally s.close()
    }
  }

  /** The query id a streaming checkpoint belongs to. */
  def checkpointQueryId(ckpt: String): String = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(Paths.get(s"$ckpt/metadata")).linesIterator.next())
    node.get("id").asText
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  /** Sink rows (without the physical bucket column) and diff-document count
    * of a finished stream, next to a `backfillAll` replay of the same feed:
    * E1 (stream) must equal E2 (batch replay). Row sets are compared as
    * (count, sum of row hashes), one aggregate per side.
    */
  def streamMatchesReplay(spark: SparkSession, feed: String, sink: String, diffs: String,
      out: Outcome, label: String): Unit = {
    import org.apache.spark.sql.functions.{col, count, lit, sum, when, xxhash64}
    val cols = Seq("user_id", "task_id", "event_id", "ts_us", "payload", "seq").map(col)
    val hash = xxhash64(cols: _*).cast("decimal(38,0)")
    def digest(df: org.apache.spark.sql.DataFrame) = {
      val r = df.agg(count(lit(1)), sum(hash)).head
      (r.getLong(0), Option(r.getDecimal(1)))
    }
    lazy val want = graft.streaming.CheckpointStream.backfillAll(spark, spark.read.parquet(feed)).toDF()
      .agg(count(when(col("kind") === "diff", 1)), count(when(col("kind") === "session", 1)),
        sum(when(col("kind") === "session", hash))).head
    out.attempt(s"$label sink equals replay") {
      digest(spark.read.parquet(sink)) == ((want.getLong(1), Option(want.getDecimal(2))))
    }
    out.attempt(s"$label diff docs equal replay") {
      rows(spark, diffs) == want.getLong(0)
    }
  }

  /** Rows in a parquet dir (0 when absent). */
  def rows(spark: SparkSession, dir: String): Long =
    if (new java.io.File(dir).exists && dataFiles(dir) > 0) spark.read.parquet(dir).count() else 0L
}
