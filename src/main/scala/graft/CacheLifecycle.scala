package graft

import org.apache.spark.sql.{Dataset, SparkSession}
import scala.util.Using.Releasable

/** The one cache discipline (IMPLEMENTATION.md, "Cache lifecycle"): a
  * frame is pinned for one call (`Using`), for one streaming query
  * (`QueryCaches`), or is a declared slot; a result computed under pins
  * leaves its call as an eager `localCheckpoint()`.
  */
object CacheLifecycle {

  implicit val unpersistOnRelease: Releasable[Dataset[_]] =
    d => { d.unpersist(); () }

  /** Queries that leave cached frames behind by design: the standing
    * near-dup pair set and its final `dedupGroups` label generation. q45
    * passes the full table as its pair corpus, so its pair plan is q36's
    * and one LSH run serves both.
    */
  val declaredSlots: Set[String] = Set("q36_dedup_groups", "q45_curate")

  /** Cached frames query `name` left behind (run on a cleared cache). */
  def leftBehind(spark: SparkSession, name: String): Int = {
    val cache = spark.sharedState.cacheManager
    if (declaredSlots(name) || cache.isEmpty) 0
    else org.apache.spark.sql.graft.CacheBridge.entries(spark)
  }
}
