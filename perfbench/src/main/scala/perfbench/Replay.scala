package perfbench

import graft.diff.DiffEngine
import graft.diff.DiffModel.CheckpointData
import graft.state.SessionMerge
import graft.streaming.CheckpointStream
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, input_file_name}

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Driver-side replay of one finished stream's inputs, batch by batch as
  * its source log cut them, through the pure engine functions the state
  * function calls: `SessionMerge.mergeContent` (state layer) and
  * `DiffEngine.computeDiff` (diff layer), each timed on its own. The same
  * replay gives the upsert's rewrite set per batch: every bucket a batch
  * touches is rewritten whole, with the bucket of each session read from
  * the stream's own sink layout.
  */
object Replay {
  final case class Result(events: Long, mergeS: Double, diffS: Double, canonicalBytes: Long,
      batches: Int, bucketsTouched: Long, rowsRewritten: Long, rowsChanged: Long)

  /** `path -> batchId` from a file source's log (plain and compacted files). */
  def sourceLog(ckpt: String): Map[String, Long] = {
    val dir = Paths.get(s"$ckpt/sources/0")
    if (!Files.isDirectory(dir)) Map.empty
    else {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val s = Files.list(dir)
      try s.iterator.asScala.filter(p => !p.getFileName.toString.startsWith(".")).flatMap { f =>
        Files.readAllLines(f).asScala.drop(1).filter(_.startsWith("{")).map { line =>
          val n = mapper.readTree(line)
          new Path(n.get("path").asText).toUri.getPath -> n.get("batchId").asLong
        }
      }.toMap finally s.close()
    }
  }

  /** Replays every batch (state must build up) but times and counts only
    * batches from `countFrom` on.
    */
  def run(spark: SparkSession, feed: String, ckpt: String, sink: String,
      tracer: Tracer, label: String, countFrom: Long = 0L): Result = {
    import spark.implicits._
    val batchOf = sourceLog(ckpt)
    val events = CheckpointStream.normalizeFeed(spark.read.parquet(feed))
      .withColumn("file", input_file_name())
      .select(col("user_id"), col("task_id"), col("event_id"), col("ts_us"), col("props"), col("file"))
      .as[(Long, String, Long, Long, String, String)].collect()
    val bucketOf = spark.read.parquet(sink).select("user_id", "bucket").distinct()
      .as[(Long, Int)].collect().toMap
    val byBatch = events.groupBy(e => batchOf.getOrElse(new Path(e._6).toUri.getPath, -1L))
      .toSeq.sortBy(_._1)
    val content = mutable.Map.empty[Long, Map[String, Vector[CheckpointData]]]
    var mergeNs, diffNs, canonical, touched, rewritten, changed, counted = 0L
    def count(users: Set[Long], steps: Seq[(Map[String, Vector[CheckpointData]],
        Map[String, Vector[CheckpointData]])]): Unit = {
      counted += 1
      steps.foreach { case (prev, next) =>
        prev.keySet.intersect(next.keySet).foreach { k =>
          Seq(prev(k), next(k)).foreach { cds =>
            val text = cds.sortBy(_.checkpointNs).map(c => new String(c.checkpoint, StandardCharsets.UTF_8)).mkString
            canonical += DiffEngine.canonicalLines(text).iterator.map(_.length + 1L).sum
          }
        }
      }
      def rowsOf(u: Long) = content.get(u).map(_.valuesIterator.map(_.size.toLong).sum).getOrElse(0L)
      val buckets = users.flatMap(bucketOf.get)
      touched += buckets.size
      rewritten += content.keysIterator.filter(u => bucketOf.get(u).exists(buckets)).map(rowsOf).sum
      changed += users.iterator.map(rowsOf).sum
    }
    byBatch.foreach { case (batch, evs) =>
      val timed = batch >= countFrom
      def span[T](name: String, layer: String)(f: => T): T =
        if (timed) tracer.span(name, layer, s"$label:$batch")(f) else f
      val perUser = evs.groupBy(_._1).toSeq.sortBy(_._1).map { case (u, es) =>
        u -> es.sortBy(e => (e._4, e._3)).map { e =>
          CheckpointData(e._5.getBytes(StandardCharsets.UTF_8), e._4, u.toString, f"${e._3}%020d", e._2)
        }
      }
      val steps = mutable.ArrayBuffer.empty[(Map[String, Vector[CheckpointData]],
        Map[String, Vector[CheckpointData]])]
      span("state.merge", "state") {
        perUser.foreach { case (u, cds) =>
          cds.foreach { cd =>
            val prev = content.getOrElse(u, Map.empty)
            val t0 = System.nanoTime()
            val next = SessionMerge.mergeContent(prev, Seq(cd))
            if (timed) mergeNs += System.nanoTime() - t0
            steps += ((prev, next))
            content(u) = next
          }
        }
      }
      span("diff.compute", "diff") {
        steps.foreach { case (prev, next) =>
          val t0 = System.nanoTime()
          DiffEngine.computeDiff(prev, next, 1)
          if (timed) diffNs += System.nanoTime() - t0
        }
      }
      if (timed) count(perUser.map(_._1).toSet, steps.toSeq)
    }

    val countedEvents = byBatch.filter(_._1 >= countFrom).map(_._2.length.toLong).sum
    Result(countedEvents, mergeNs / 1e9, diffNs / 1e9, canonical, counted.toInt,
      touched, rewritten, changed)
  }
}
