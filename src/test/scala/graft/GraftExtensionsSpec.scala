package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions._

class GraftExtensionsSpec extends AnyFunSuite {

  // the factory session: the functions are installed at build
  private lazy val spark: SparkSession = SparkTestSession.spark

  test("every native function resolves by SQL name and matches its Column API twin") {
    import spark.implicits._
    Seq((1L, Seq(11L, 22L, 33L, 44L), Seq(0.5, -1.0, 2.0), Seq(1.0, 2.0, 0.25), "hello graft world"))
      .toDF("id", "hashes", "va", "vb", "text")
      .createOrReplaceTempView("ext_probe")
    val sql = spark.sql(
      """SELECT splitmix64(id) AS sm, simhash64(hashes) AS sh,
        |  dot_product(va, vb) AS dp, minhash_signature(hashes, 6) AS mh,
        |  rolling_hash(text, 4) AS rh, winnow(rolling_hash(text, 4), 3) AS wn
        |FROM ext_probe""".stripMargin).collect().head
    val api = spark.table("ext_probe").select(
      SplitMix64(col("id")).as("sm"), SimHash64(col("hashes")).as("sh"),
      DotProduct(col("va"), col("vb")).as("dp"),
      MinHashSignature(col("hashes"), 6).as("mh"),
      RollingHash(col("text"), 4).as("rh"),
      Winnow(RollingHash(col("text"), 4), 3).as("wn")).collect().head
    assert(sql == api)
    // srp_buckets sizes its hyperplanes from literal args the same way
    val srpSql = spark.sql("SELECT srp_buckets(va, 4, 3, 3) AS b FROM ext_probe")
      .collect().head.getSeq[Long](0)
    val srpApi = spark.table("ext_probe").select(SrpBuckets(col("va"), 4, 3, 3).as("b"))
      .collect().head.getSeq[Long](0)
    assert(srpSql == srpApi)
  }

  test("hll_sketch and cms_sketch aggregate in SQL == Column API twins") {
    import spark.implicits._
    (1 to 500).map(i => s"v${i % 113}").toDF("v").createOrReplaceTempView("ext_sk")
    val sql = spark.sql(
      "SELECT hll_sketch(v) AS h, cms_sketch(v) AS c, bloom_sketch(v) AS b FROM ext_sk")
      .collect().head
    val api = spark.table("ext_sk")
      .agg(graft.functions.HllSketch(col("v")).as("h"),
        graft.functions.CmsSketch(col("v")).as("c"),
        graft.functions.BloomSketch(col("v")).as("b")).collect().head
    assert(sql.getSeq[Int](0) == api.getSeq[Int](0))
    assert(sql.getSeq[Long](1) == api.getSeq[Long](1))
    assert(sql.getSeq[Int](2) == api.getSeq[Int](2))
  }

  test("bounded_top_k aggregates in SQL, including GROUP BY and analyzer wrapping") {
    import spark.implicits._
    (1L to 100L).map(i => (i % 4, i)).toDF("g", "v")
      .createOrReplaceTempView("ext_topk")
    val got = spark.sql(
      "SELECT g, bounded_top_k(v, 3) AS top FROM ext_topk GROUP BY g ORDER BY g")
      .as[(Long, Seq[Long])].collect().toSeq
    val expected = (1L to 100L).map(i => (i % 4, i)).groupBy(_._1).view
      .mapValues(_.map(_._2).sorted.reverse.take(3).toSeq).toSeq.sortBy(_._1)
    assert(got == expected)
  }

  test("count_histogram aggregates in SQL, sorted by value with exact counts") {
    import spark.implicits._
    (1L to 100L).map(i => (i % 2, i % 7)).toDF("g", "v")
      .createOrReplaceTempView("ext_hist")
    val got = spark.sql(
      """SELECT g, transform(count_histogram(v), e -> e.v) AS vs,
        |  transform(count_histogram(v), e -> e.c) AS cs
        |FROM ext_hist GROUP BY g ORDER BY g""".stripMargin)
      .as[(Long, Seq[Long], Seq[Long])].collect().toSeq
    val expected = (1L to 100L).map(i => (i % 2, i % 7)).groupBy(_._1).view
      .mapValues { rows =>
        val h = rows.groupBy(_._2).view.mapValues(_.size.toLong).toSeq.sortBy(_._1)
        (h.map(_._1), h.map(_._2))
      }.toSeq.map { case (g, (vs, cs)) => (g, vs, cs) }.sortBy(_._1)
    assert(got == expected)
  }

  test("a non-literal static argument fails at planning time, not silently") {
    import spark.implicits._
    Seq((1L, Seq(1L, 2L))).toDF("id", "hashes").createOrReplaceTempView("ext_bad")
    val e = intercept[Exception] {
      spark.sql("SELECT minhash_signature(hashes, cast(id AS int)) FROM ext_bad").collect()
    }
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(messages.contains("integer literal"), messages)
  }

  test("q59 (pure-SQL bounded_top_k) equals the Column-API computation; no Window in plan") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val q59 = graft.operators.TextOps.q59FrequentNgrams(spark, sf)
    val sh = graft.Tables.documents(spark, sf)
      .select(col("lang"),
        explode(graft.operators.DedupOps.shingles(col("text"), 3)).as("s"))
      .groupBy("lang", "s").agg(count(lit(1)).as("n"))
    val api = sh.groupBy("lang")
      .agg(BoundedTopK(struct(col("n"), col("s")), 3).as("top"))
      .select(col("lang"), posexplode(col("top")))
      .select(col("lang"), (col("pos") + 1).cast("long").as("rank"),
        col("col.n").as("n"), col("col.s").as("s"))
      .orderBy("lang", "rank")
    assert(q59.as[(String, Long, Long, String)].collect().toSeq ==
      api.as[(String, Long, Long, String)].collect().toSeq)
    val plan = q59.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    assert("ObjectHashAggregate".r.findAllIn(plan).size >= 2, plan)
  }

  test("the spark.sql.extensions path registers the full surface via Spark's own hook") {
    // the session was built with `spark.sql.extensions`: every function
    // its registry lists under GraftExtensions came through that hook
    val added = spark.catalog.listFunctions().collect()
      .filter(_.className == classOf[GraftExtensions].getName).map(_.name).toSet
    assert(added == Set("splitmix64", "simhash64", "dot_product", "minhash_signature",
      "rolling_hash", "winnow", "srp_buckets", "bounded_top_k", "count_histogram",
      "hll_sketch", "cms_sketch", "bloom_sketch"))
  }
}
