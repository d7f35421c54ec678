package graft

import org.apache.spark.sql.SparkSession

/** The one session every engine entry point runs on: `Bench`, `Verify`,
  * `Profile`, `Pipeline.main` and the test suite, so the oracle checks
  * the configuration the bench times.
  *
  *  - `local[cpus]` with one shuffle partition per core, UTC, no UI;
  *  - `nanosAsLong`: `events.parquet` stores nanosecond timestamps;
  *  - AQE, allowed to coalesce shuffles inside cached plans too: the
  *    iterative operators (dedupGroups' label propagation) persist tiny
  *    per-generation frames whose per-core shuffles are pure scheduling
  *    overhead otherwise;
  *  - a 16 KiB coalescing floor. AQE's default 1 MiB floor assumes bytes
  *    track cost; this engine's rows are CPU-dense (a 150 KiB compressed
  *    archive row costs milliseconds of decode, parse and regex), and the
  *    default was measured collapsing q172's 6.2 s archive-parse stage to
  *    one task. It is a constant because it never binds at scale: above
  *    about cpus · 16 KiB of shuffle bytes the target size is
  *    total / parallelism;
  *  - the native SQL functions (`GraftExtensions`), installed at build.
  *
  * The state-store provider is not set here: it belongs to the streaming
  * queries' checkpoints, and `Pipeline.run` scopes it to its drain.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else every core of the machine. */
  def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(cpus: Int = envCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16k")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Untimed neutral warmup, not one of the timed queries (which would
    * give that query's own run a warm start): JVM, codegen, shuffle and
    * the parquet scan.
    */
  def warmup(spark: SparkSession, sfDir: String): Unit =
    try {
      spark.range(1000000).selectExpr("sum(id) as s", "count(distinct id % 7) as d")
        .write.format("noop").mode("overwrite").save()
      spark.read.parquet(s"$sfDir/nation.parquet")
        .write.format("noop").mode("overwrite").save()
    } catch { case _: Throwable => () }
}
