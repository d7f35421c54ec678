package graft

/** Sub-timing channel for the bench: operators that amortize a one-time
  * cost inside a registered query (the fingerprint-cached index builds of
  * q38/q49/q68/q71) record the phase here, and `Bench` drains the
  * accumulator after each sample — so `BENCH.json` can report build vs
  * probe separately instead of conflating them in the cold sample (the
  * round-10 verdict's q49 watch item: 12.1 s cold was mostly index
  * construction, invisible to a reader of the one number).
  *
  * Deliberately global + additive: a query may build several index states
  * (q49 builds base, deltas and a fold); all of it lands in one "phase →
  * seconds" map. Outside the bench the records are drained by nobody and
  * simply overwritten per merge — no coupling, no cost.
  */
object BenchPhases {
  private val acc = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()

  def add(phase: String, sec: Double): Unit = {
    acc.merge(phase, Double.box(sec),
      (a: java.lang.Double, b: java.lang.Double) => Double.box(a + b))
    ()
  }

  /** Time `f` into `phase` (additive across calls). */
  def timed[T](phase: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f
    finally add(phase, (System.nanoTime() - t0) / 1e9)
  }

  /** Record that a standing artifact was REUSED rather than built this
    * sample — the self-describing twin of a timed build phase (round-17
    * verdict: q38's index_build whiplashed 1.77↔11.17 s across chains
    * because a sample that found the artifact warm recorded NOTHING,
    * indistinguishable from a cheap build). Counted as `<phase>_reused`
    * so the phases map stays all-numeric.
    */
  def reused(phase: String): Unit = add(phase + "_reused", 1.0)

  /** Return and clear everything recorded since the last drain. */
  def drain(): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    val out = acc.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
    acc.clear()
    out
  }
}
