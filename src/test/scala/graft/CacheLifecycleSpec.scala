package graft

import graft.CacheLifecycle.unpersistOnRelease
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Using

/** The one release rule: a frame pinned through `Using` is unpersisted
  * however its scope ends, and `Using.Manager` releases its frames in
  * reverse order of acquisition.
  */
class CacheLifecycleSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def cached(df: DataFrame): Boolean = df.storageLevel != StorageLevel.NONE

  test("a pinned frame is released on a normal return") {
    val df = spark.range(11).toDF("id")
    val n = Using.resource(df.persist()) { d =>
      assert(cached(d))
      d.count()
    }
    assert(n == 11L)
    assert(!cached(df))
  }

  test("a pinned frame is released when the body throws") {
    val df = spark.range(13).toDF("id")
    val e = intercept[IllegalStateException] {
      Using.resource(df.persist()) { d =>
        d.count()
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage == "body failed")
    assert(!cached(df))
  }

  test("Using.Manager releases its frames in reverse order") {
    val first = spark.range(17).toDF("id")
    val second = spark.range(19).toDF("id")
    // a probe registered between the two pins is released between them:
    // after `second`, before `first`
    var seenAtProbe = Option.empty[(Boolean, Boolean)]
    Using.Manager { use =>
      use(first.persist())
      use(new AutoCloseable {
        def close(): Unit = seenAtProbe = Some((cached(first), cached(second)))
      })
      use(second.persist())
      assert(cached(first) && cached(second))
    }.get
    assert(seenAtProbe.contains((true, false)), s"probe saw $seenAtProbe")
    assert(!cached(first) && !cached(second))
  }
}
