package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every engine entry point runs on the session `GraftSession` builds. */
class GraftSessionSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  test("the factory session resolves the native functions by SQL name and carries the 16 KiB floor") {
    import spark.implicits._
    val names = GraftExtensions.functions.map(_._1.funcName)
    assert(names.size == 12)
    names.foreach(n => assert(spark.catalog.functionExists(n), n))
    (1L to 20L).toDF("v").createOrReplaceTempView("session_probe")
    val top = spark.sql("SELECT bounded_top_k(v, 3) AS top FROM session_probe")
      .as[Seq[Long]].head()
    assert(top == Seq(20L, 19L, 18L))
    assert(spark.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize") == "16k")
    assert(spark.conf.get("spark.sql.extensions") == classOf[GraftExtensions].getName)
  }

  test("GraftSession.scala is the one source file that builds a session") {
    val builds = "SparkSession\\s*\\.\\s*builder".r
    val sources = Files.walk(Paths.get("src")).iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toSeq
    assert(sources.exists(_.endsWith("GraftSession.scala")))
    val builders = sources.filter(p => builds.findFirstIn(Files.readString(p)).isDefined)
      .map(_.getFileName.toString)
    assert(builders == Seq("GraftSession.scala"), builders)
  }
}
