package graft.operators

import graft.CacheLifecycle.unpersistOnRelease
import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.Using

/** Iterative graph computation on DataFrames: PageRank in EXACT INTEGER
  * fixed-point, the companion to the label-propagation components engine
  * (`DedupOps.dedupGroups`). Each iteration is the canonical distributed
  * shape — join current ranks to the edge list on `src`, partial-sum
  * contributions by `dst` — so one iteration costs one co-partitioned
  * join plus one aggregate, and the edge+degree frame is persisted ONCE
  * and reused by every iteration (at 1000 executors the edge shuffle is
  * the whole cost; re-deriving it per iteration would triple it).
  *
  * Arithmetic is scaled-integer throughout (`Scale` = 1e6):
  * `r' = floor(0.15·Scale) + (85 · Σ_incoming floor(r/deg)) div 100` —
  * deterministic, overflow-safe to ~9e12 total scaled mass, and
  * replayable step-for-step by an unrolled SQL oracle where a
  * double-precision PageRank would drift with summation order. Dangling
  * mass: the operator requires a symmetric (or otherwise out-degree-
  * complete) edge list, so no sink correction term is needed — q99 feeds
  * it the bidirectional customer↔supplier purchase graph.
  */
object GraphOps {

  private[graft] val Scale = 1000000L
  private[graft] val Damping = 85L // ·1/100

  /** Fixed-iteration integer PageRank over a directed edge list
    * (src, dst). Every node must have at least one out-edge (see object
    * scaladoc); nodes are exactly the distinct sources.
    */
  def pageRank(edges: DataFrame, iterations: Int): DataFrame = {
    // hash-partition the persisted edge list on the join key ONCE: every
    // iteration's ranks-join then exchanges only the rank rows (O(nodes))
    // against the cached partitioning instead of re-shuffling the edges
    // (O(edges)) per iteration. Degrees attach to the RANKS side — an
    // O(nodes) ⋈ O(nodes) join per iteration — not to the edge frame,
    // whose degree-join would cost one more full O(edges) shuffle at
    // build time (measured ~2 s of q99's cost before this shape).
    Using.Manager { use =>
      val parted = use(edges.repartition(col("src")).persist())
      // degrees persist too (r21): the contrib join reads them EVERY
      // iteration — unpinned, each iteration re-aggregated the whole
      // cached edge list (iterations × one O(edges) scan + hash agg)
      val deg = use(parted.groupBy(col("src")).agg(count(lit(1)).as("deg")).persist())
      var ranks = deg.select(col("src").as("node"), lit(Scale).as("r"))
      for (_ <- 1 to iterations) {
        val contrib = ranks.join(deg, col("node") === deg("src"))
          .select(col("node").as("cnode"), expr("r div deg").as("contrib"))
        ranks = parted
          .join(contrib, col("src") === col("cnode"))
          .groupBy(col("dst"))
          .agg(sum(col("contrib")).as("c"))
          .select(col("dst").as("node"),
            (lit(Scale * 15 / 100) + expr(s"($Damping * c) div 100")).as("r"))
      }
      // materialize before releasing the shared edge frame: callers get a
      // plain result, not a plan over an unpersisted dependency
      ranks.localCheckpoint(eager = true)
    }.get
  }

  /** q104: item–item co-occurrence similarity — the collaborative-
    * filtering shape ("suppliers bought by the same customers are
    * related") as bounded integer arithmetic: for every supplier pair
    * sharing at least `minShared` customers, the co-count and the scaled
    * Jaccard `floor(1e6 · |A∩B| / |A∪B|)`.
    *
    * The scale trap is the self-join on customer: a hot customer with d
    * suppliers contributes d² pairs, so join volume is Σ_c d_c² — the
    * q74 span-candidate bound. The cap is structural: each customer's
    * supplier list is first DISTINCTED and bounded by the catalog, and
    * the pair aggregate is map-side partial. No cartesian: the pair
    * generation is an equi-join on the customer key.
    */
  def q104CoOccurrence(spark: SparkSession, dir: String): DataFrame =
    coOccurrence(
      Tables.orders(spark, dir)
        .join(Tables.lineitem(spark, dir),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"), col("l_suppkey").as("s")),
      minShared = 3)
      .orderBy(col("s_a"), col("s_b"))

  /** Core of q104 over any (c, s) interaction frame.
    *
    * `maxCustomerDegree` is the structural scale cap: a customer with d
    * distinct items contributes d² join pairs, so one promiscuous key
    * (a crawler account, a test fixture) can dominate Σd² alone —
    * customers above the cap are dropped ENTIRELY before the self-join,
    * which is also statistically sound (a customer who buys everything
    * relates nothing: their pairs are noise, exactly the df-cap argument
    * of the q74 span candidates). The sf corpora sit far below the
    * default cap (max degree 102 at sf0.1), so the cap changes nothing
    * there — it exists for the tail the corpus doesn't have.
    */
  private[graft] def coOccurrence(
      interactions: DataFrame, minShared: Long,
      maxCustomerDegree: Long = 1024L): DataFrame = {
    val all = interactions.select(col("c"), col("s")).distinct()
    val keep = all.groupBy(col("c")).agg(count(lit(1)).as("cdeg"))
      .where(col("cdeg") <= maxCustomerDegree)
      .select(col("c"))
    val pairs = all.join(keep, Seq("c"))
    val degree = pairs.groupBy(col("s")).agg(count(lit(1)).as("deg"))
    // pair generation stays the codegen'd equi-self-join: the tempting
    // collect_list + combinations-lambda rewrite emits half the pairs
    // (d(d−1)/2 vs d²) but MEASURED 1.4× SLOWER at sf0.1 (5.6 s vs
    // 3.9 s) — nested array lambdas run interpreted per row while the
    // join + filter + partial aggregate stay inside whole-stage codegen.
    // r22 A/B: forcing SHUFFLE_HASH here measured SLOWER too (3.5 →
    // 3.9 s isolated) — the planner/AQE strategy mix (broadcast where
    // the side fits, sort-merge above) beats a forced per-partition
    // hash build on this shape; left on the planner's choice.
    val co = pairs.select(col("c"), col("s").as("s_a"))
      .join(pairs.select(col("c"), col("s").as("s_b")), Seq("c"))
      .where(col("s_a") < col("s_b"))
      .groupBy(col("s_a"), col("s_b"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
    co.join(degree.select(col("s").as("s_a"), col("deg").as("deg_a")), Seq("s_a"))
      .join(degree.select(col("s").as("s_b"), col("deg").as("deg_b")), Seq("s_b"))
      .select(col("s_a"), col("s_b"), col("n_shared"),
        col("deg_a"), col("deg_b"),
        expr(s"(${Scale}L * n_shared) div (deg_a + deg_b - n_shared)")
          .as("jaccard_fp"))
  }

  /** q99: importance propagation over the bidirectional customer↔supplier
    * purchase graph (distinct trading pairs from orders × lineitem), 3
    * exact-integer PageRank iterations. Well-connected suppliers
    * accumulate rank from many low-degree customers — the structural
    * signal a one-pass degree count misses.
    */
  def q99PageRank(spark: SparkSession, dir: String): DataFrame = {
    // NARROW keys through the iterations (r21, guide §2.3): nodes ride
    // as collision-free longs (customer → 2k, supplier → 2k+1) through
    // the distinct, the edge shuffles, and every per-iteration join —
    // the "c<id>"/"s<id>" strings the contract outputs are rebuilt only
    // on the O(nodes) result, so the output (and its order) is
    // byte-identical while the hot joins hash/compare 8-byte keys
    // instead of strings.
    val pairs = Tables.orders(spark, dir)
      .join(Tables.lineitem(spark, dir),
        col("o_orderkey") === col("l_orderkey"))
      .select(
        (col("o_custkey").cast("long") * 2).as("c"),
        (col("l_suppkey").cast("long") * 2 + 1).as("s"))
      .distinct()
    val edges = pairs.select(col("c").as("src"), col("s").as("dst"))
      .unionByName(pairs.select(col("s").as("src"), col("c").as("dst")))
    pageRank(edges, iterations = 3)
      .select(
        when(col("node") % 2 === 0, concat(lit("c"), expr("node div 2")))
          .otherwise(concat(lit("s"), expr("(node - 1) div 2")))
          .as("node"),
        col("r").as("rank_scaled"))
      .orderBy(col("node"))
  }

  /** q117: triangle counting + local clustering coefficients over the
    * supplier co-purchase graph — the third classic distributed graph
    * primitive beside connected components (dedupGroups) and PageRank
    * (q99): a supplier's triangle count says whether its co-purchase
    * neighborhood is a CLIQUE-LIKE community or a hub-and-spoke star, the
    * structural signal degree and rank both miss. Edges are the
    * STRONG-TIE slice of q104's co-occurrence pairs — co-counts within
    * 80% of the corpus maximum. The relative rule is load-bearing twice:
    * this uniform synthetic corpus co-purchases EVERY supplier pair
    * (any absolute threshold yields the complete graph — C(n,3)
    * triangles, analytically meaningless), and an absolute cutoff
    * inverts across scales anyway (median co-count 168 at sf0.01 vs 25
    * at sf0.1); "within 80% of the strongest relationship" is the
    * scale-free community question, and its 1-row max broadcasts.
    *
    * The scale shape is the "forward" algorithm (Schank–Wagner, the
    * public standard): orient every edge toward the higher (degree, id)
    * endpoint, enumerate wedges as ordered pairs of out-neighbors, close
    * them with one more edge equi-join. Orientation is the whole trick —
    * max OUT-degree is O(√m) even when a hub's raw degree is huge, so the
    * wedge self-join is bounded by Σ out-deg² ≤ m·√m, never the Σ deg²
    * blowup the unoriented join pays. Each triangle materializes exactly
    * once (u ≺ v ≺ w under the orientation key). All counts and the
    * `floor(1e6·2·tri/(deg·(deg−1)))` coefficient are exact integers.
    */
  def q117Triangles(spark: SparkSession, dir: String): DataFrame = {
    // pin the co-occurrence result: the max aggregate and the edge filter
    // both read it (pair-sized); triangleStats checkpoints its output
    Using.resource(coOccurrence(
      Tables.orders(spark, dir)
        .join(Tables.lineitem(spark, dir),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"), col("l_suppkey").as("s")),
      minShared = 3)
      .persist()) { co =>
      val mx = co.agg(max(col("n_shared")).as("mx"))
      val edges = co.join(broadcast(mx))
        .where(col("n_shared") * 5 >= col("mx") * 4)
        .select(col("s_a"), col("s_b"))
      triangleStats(edges)
    }
  }

  /** Core of q117 over any undirected edge list (s_a < s_b, distinct). */
  private[graft] def triangleStats(edges: DataFrame): DataFrame = Using.Manager { use =>
    val deg = use(edges.select(col("s_a").as("s"))
      .unionByName(edges.select(col("s_b").as("s")))
      .groupBy(col("s")).agg(count(lit(1)).as("deg"))
      .persist())
    val withDeg = edges
      .join(deg.select(col("s").as("s_a"), col("deg").as("da")), Seq("s_a"))
      .join(deg.select(col("s").as("s_b"), col("deg").as("db")), Seq("s_b"))
    // orient toward the higher (degree, id); carry the head's degree so
    // the wedge ordering below uses the same key without another join.
    // PERSISTED: the oriented edge list feeds THREE join sides (both
    // wedge legs + the closing probe) — without the pin the upstream
    // edge pipeline (for q117 the whole q104 co-occurrence self-join)
    // executes once per side (measured 41.8 s vs 13.9 s at sf0.1)
    // r22 A/B: SHUFFLE_HASH hints on the wedge and closing joins
    // measured SLOWER (3.3 → 3.8 s isolated) — same finding as q104;
    // the planner's strategy mix stands.
    val oriented = use(withDeg.select(
      when(col("da") < col("db") ||
          (col("da") === col("db") && col("s_a") < col("s_b")),
        struct(col("s_a").as("u"), col("s_b").as("v"), col("db").as("dv")))
        .otherwise(
          struct(col("s_b").as("u"), col("s_a").as("v"), col("da").as("dv")))
        .as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"), col("e.dv").as("dv"))
      .repartition(col("u"))
      .persist())
    val wedges = oriented.as("e1").join(oriented.as("e2"),
      col("e1.u") === col("e2.u") &&
        (col("e1.dv") < col("e2.dv") ||
          (col("e1.dv") === col("e2.dv") && col("e1.v") < col("e2.v"))))
      .select(col("e1.u").as("u"), col("e1.v").as("v"), col("e2.v").as("w"))
    val tris = wedges
      .join(oriented.select(col("u").as("v"), col("v").as("w")), Seq("v", "w"))
      .select(col("u"), col("v"), col("w"))
    val perNode = tris
      .select(explode(array(col("u"), col("v"), col("w"))).as("s"))
      .groupBy(col("s")).agg(count(lit(1)).as("n_tri"))
    deg.join(perNode, Seq("s"), "left")
      .select(col("s"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .withColumn("cc_fp",
        when(col("deg") >= 2,
          expr(s"(${Scale}L * 2 * n_tri) div (deg * (deg - 1))"))
          .otherwise(lit(0L)))
      .orderBy(col("s"))
      .localCheckpoint() // materialize while the oriented edges are cached
  }.get
}
