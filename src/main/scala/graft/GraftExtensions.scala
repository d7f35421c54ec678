package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

import graft.functions._

/** SQL-surface registration for the engine's native Catalyst expressions.
  *
  * The Scala API reaches them through the typed wrappers
  * (`BoundedTopK(col, k)`, `MinHashSignature(col, k)`, …); this class makes
  * the same codegen'd expressions first-class SQL functions, so a
  * `spark.sql(...)` user — or a cluster configured with
  * `spark.sql.extensions=graft.GraftExtensions` — can write
  * `bounded_top_k(struct(score, id), 3)` or `minhash_signature(hashes, 48)`
  * without touching Scala. Every engine session (`GraftSession`) is built
  * with it, as any session on a cluster can be.
  *
  * Static arguments (k, w, tables…) must be INTEGER LITERALS: they size
  * generated code and driver-side constants (seed tables, hyperplanes), so
  * a non-literal is a planning-time error, not a runtime fallback.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {

  private def intLit(fn: String, arg: String, e: Expression): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be an integer literal, got $other")
  }

  private def arity(fn: String, n: Int, args: Seq[Expression]): Unit =
    require(args.length == n, s"$fn expects $n arguments, got ${args.length}")

  private def fn(
      name: String,
      usage: String, // documentation only; ExpressionInfo's usage ctor validates a doc format these one-liners don't follow
      builder: Seq[Expression] => Expression)
    : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name),
      new ExpressionInfo(classOf[GraftExtensions].getName, name),
      builder)

  /** The full native-function surface. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    fn("splitmix64", "splitmix64(x) - SplitMix64 mix of a bigint", { args =>
      arity("splitmix64", 1, args); SplitMix64(args.head)
    }),
    fn("simhash64", "simhash64(hashes) - 64-bit SimHash over array<bigint>", { args =>
      arity("simhash64", 1, args); SimHash64(args.head)
    }),
    fn("dot_product", "dot_product(a, b) - dot product of two array<double>", { args =>
      arity("dot_product", 2, args); DotProduct(args(0), args(1))
    }),
    fn("minhash_signature",
      "minhash_signature(hashes, k) - k min-hashes over array<bigint> base hashes", { args =>
      arity("minhash_signature", 2, args)
      MinHashSignature(args.head, intLit("minhash_signature", "k", args(1)))
    }),
    fn("rolling_hash",
      "rolling_hash(text, k) - k-gram rolling hashes of a string", { args =>
      arity("rolling_hash", 2, args)
      RollingHash(args.head, intLit("rolling_hash", "k", args(1)))
    }),
    fn("winnow",
      "winnow(hashes, w) - winnowing fingerprint (window minima) over array<bigint>", { args =>
      arity("winnow", 2, args)
      Winnow(args.head, intLit("winnow", "w", args(1)))
    }),
    fn("srp_buckets",
      "srp_buckets(vec, tables, bits, dim) - signed-random-projection LSH bucket ids", { args =>
      arity("srp_buckets", 4, args)
      SrpBuckets(args.head,
        intLit("srp_buckets", "tables", args(1)),
        intLit("srp_buckets", "bits", args(2)),
        intLit("srp_buckets", "dim", args(3)))
    }),
    // an AggregateFunction is returned bare: the analyzer wraps it into an
    // AggregateExpression exactly as it does for the built-in max/min
    fn("bounded_top_k",
      "bounded_top_k(key, k) - descending array of the k largest keys (bounded-memory)", { args =>
      arity("bounded_top_k", 2, args)
      BoundedTopK(args.head, intLit("bounded_top_k", "k", args(1)))
    }),
    fn("count_histogram",
      "count_histogram(v) - value-sorted exact (v, c) histogram of a bigint", { args =>
      arity("count_histogram", 1, args)
      CountHistogram(args.head)
    }),
    fn("hll_sketch",
      "hll_sketch(v) - portable md5 HyperLogLog registers (256 x int) of a string", { args =>
      arity("hll_sketch", 1, args)
      HllSketch(args.head)
    }),
    fn("cms_sketch",
      "cms_sketch(v) - portable md5 Count-Min counters (4 x 256, row-major) of a string", { args =>
      arity("cms_sketch", 1, args)
      CmsSketch(args.head)
    }),
    fn("bloom_sketch",
      "bloom_sketch(v) - portable md5 Bloom filter (128 x 16-bit words) of a string", { args =>
      arity("bloom_sketch", 1, args)
      BloomSketch(args.head)
    }),
  )
}
