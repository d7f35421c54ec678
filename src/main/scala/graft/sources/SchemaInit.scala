package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/** Sink schema initializer (SURVEY §2.1 S8): the reference runs DDL scripts
  * against its databases at boot (`config/CdcSubscriberConfig.java:177-203`).
  * The Spark-native analog materializes an empty, correctly-typed parquet
  * table at the sink path if none exists — idempotent, so every run (batch
  * backfill or stream start) can call it unconditionally.
  */
object SchemaInit {

  /** The session sink schema (flattened session state, matching
    * `streaming.CheckpointStream.SessionFlat`).
    */
  val sessionSinkSchema: StructType = StructType(Seq(
    StructField("user_id", LongType, nullable = false),
    StructField("task_id", StringType, nullable = false),
    StructField("event_id", LongType, nullable = false),
    StructField("ts_us", LongType, nullable = false),
    StructField("payload", StringType),
    StructField("seq", IntegerType, nullable = false)))

  /** Ensure `path` holds a parquet table with `schema`; create it empty if
    * absent. Returns true iff this call created it.
    *
    * The empty file is written under a `bucket=0` partition dir so the
    * table's layout matches the hash-bucketed upsert sink
    * (`CheckpointStream.upsert`) from the first write on — a bare root-level
    * file would make later partition discovery reject the mixed layout.
    * Creating that bucketed layout obliges declaring it: the layout
    * manifest is stamped in the same call, since the upsert refuses a
    * bucketed sink whose manifest is missing (unknown provenance).
    */
  def ensureSinkTable(
      spark: SparkSession,
      path: String,
      schema: StructType = sessionSinkSchema): Boolean = {
    val dir = new java.io.File(path)
    def hasParquet(f: java.io.File): Boolean =
      f.getName.endsWith(".parquet") ||
        (f.isDirectory && Option(f.listFiles).exists(_.exists(hasParquet)))
    val exists = dir.isDirectory && Option(dir.listFiles).exists(_.exists(hasParquet))
    if (!exists) {
      // manifest FIRST, data second: a crash between the two then leaves a
      // manifest with no parquet — rediscovered and re-created next run —
      // whereas data-first would leave bucket dirs with no manifest, which
      // the upsert (correctly) refuses forever after
      val sinkPath = new org.apache.hadoop.fs.Path(path)
      graft.streaming.CheckpointStream.stampManifest(
        sinkPath.getFileSystem(spark.sessionState.newHadoopConf()), sinkPath)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$path/bucket=0")
      true
    } else false
  }
}
