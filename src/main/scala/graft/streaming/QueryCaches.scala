package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

/** Releases a streaming query's static caches (reference models, eval
  * sets: the query-lifetime pins every micro-batch reads) when the query
  * terminates. The listener matches on the query id and removes itself.
  *
  * The registration races the query: an AvailableNow query over a tiny
  * feed can terminate before `addListener` runs, and its terminated event
  * then reaches nobody. So after registering, `query.isActive` is checked
  * too; a once-guard lets exactly one of the two paths release.
  */
object QueryCaches {

  def releaseOnTermination(
      spark: SparkSession,
      query: StreamingQuery,
      frames: Seq[DataFrame]): StreamingQuery = {
    val released = new java.util.concurrent.atomic.AtomicBoolean(false)
    lazy val listener: StreamingQueryListener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        if (e.id == query.id) releaseOnce()
    }
    def releaseOnce(): Unit =
      if (released.compareAndSet(false, true)) {
        frames.foreach(graft.CacheLifecycle.unpersistOnRelease.release)
        spark.streams.removeListener(listener)
      }
    spark.streams.addListener(listener)
    // close the registration window: if the query already terminated, the
    // event fired with no listener registered — release here instead (the
    // CAS makes the two paths mutually exclusive if the event races in)
    if (!query.isActive) releaseOnce()
    query
  }
}
