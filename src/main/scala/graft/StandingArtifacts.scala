package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Roots of the standing artifacts: indexes and models that operators
  * build once per corpus under `java.io.tmpdir` and serve from disk on
  * later runs, one root per family and corpus dir.
  */
object StandingArtifacts {

  val families: Seq[String] = Seq("ivf", "ivf_lsm", "ivfq", "ivfpq", "embguard",
    "spans", "graph", "unigram", "cdx", "cdxz")

  def root(family: String, dir: String): String = {
    require(families.contains(family), s"unknown standing-artifact family: $family")
    s"${sys.props("java.io.tmpdir")}/graft_${family}_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
  }

  /** Delete the superseded generations under `root`: the dirs named
    * `<generation>-<16 hex>` other than `<generation>-<fp>`. Only that
    * exact shape: a looser match would also catch a concurrent builder's
    * in-flight `<generation>-<fp>.tmp-<uuid>` dir and kill its write.
    */
  def sweep(fs: FileSystem, root: Path, fp: String, generations: String*): Unit =
    if (fs.exists(root))
      fs.listStatus(root).map(_.getPath)
        .filter(p => generations.exists(g =>
          p.getName.matches(s"$g-[0-9a-f]{16}") && p.getName != s"$g-$fp"))
        .foreach(p => fs.delete(p, true))

  /** Delete every family's root for the corpus `dir`. The artifacts are
    * keyed by their input, not by the code that built them, so a run that
    * must build with the code it ships, or record the build cost, clears
    * them first.
    */
  def clear(spark: SparkSession, dir: String): Unit =
    families.foreach { family =>
      val p = new Path(root(family, dir))
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
    }
}
