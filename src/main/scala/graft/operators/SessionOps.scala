package graft.operators

import graft.CacheLifecycle.unpersistOnRelease
import graft.Tables
import graft.diff.DiffModel.CheckpointData
import graft.state.SessionMerge
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.Using

/** Session-merge operators: the stateful engine core (SURVEY §2.3 D2/D3/D11)
  * run as a distributed batch job over the event stream — the backfill (E2)
  * shape of the reference lifecycle.
  */
object SessionOps {

  /** Input row: one checkpoint event derived from the `events` table.
    * `signup` events model the reference's `__start__` task (append +
    * dedup-by-timestamp); every other event type is a replace-latest task.
    */
  private[graft] final case class EventRow(
      user_id: Long, task_id: String, event_id: Long, ts_us: Long, props: String)

  private[graft] final case class SessionRow(
      user_id: Long, task_id: String, event_id: Long, ts_us: Long, payload: String)

  private[graft] def toCheckpoint(e: EventRow): CheckpointData =
    CheckpointData(
      checkpoint = e.props.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      checkpointNs = e.ts_us,
      threadId = e.user_id.toString,
      // zero-padded so the engine's lexicographic tie-break == numeric order
      checkpointId = f"${e.event_id}%020d",
      taskId = e.task_id)

  /** q16: fold every session's events through the real merge engine
    * (one `SessionMerge.update` per event, in event-time order) and emit the
    * final per-task state. Distribution: one shuffle on the session key;
    * per-group work is bounded by session length (a conversation), so
    * `flatMapGroups` needs no secondary-sort machinery at 100 TB — sessions
    * are many, not large. Oracle-checkable: replace-latest ≡ window top-1,
    * `__start__` dedup ≡ first-per-(session,task,ts).
    */
  def q16SessionMerge(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val events = Tables.events(spark, dir)
      .select(
        col("user_id"),
        when(col("event_type") === "signup", lit("__start__"))
          .otherwise(col("event_type")).as("task_id"),
        col("event_id"),
        unix_micros(col("ts")).as("ts_us"),
        col("props"))
      .as[EventRow]

    events
      .groupByKey(_.user_id)
      .flatMapGroups { (userId: Long, it: Iterator[EventRow]) =>
        val ordered = it.toVector.sortBy(e => (e.ts_us, e.event_id))
        // mergeOnly, not update: this query emits final content only, so
        // paying JSON canonicalization + Myers per event would be pure
        // waste (the diff-emitting path lives in streaming/CheckpointStream)
        val finalState = ordered.foldLeft(
          SessionMerge.SessionState.empty(userId.toString)) { (state, ev) =>
          SessionMerge.mergeOnly(state, Seq(toCheckpoint(ev)))
        }
        finalState.content.iterator.flatMap { case (task, cds) =>
          cds.iterator.map { cd =>
            SessionRow(userId, task, cd.checkpointId.toLong, cd.checkpointNs,
              new String(cd.checkpoint, java.nio.charset.StandardCharsets.UTF_8))
          }
        }
      }
      .toDF()
      .select(col("user_id"), col("task_id"), col("event_id"), col("ts_us"),
        col("payload"))
      .orderBy(col("user_id"), col("task_id"), col("ts_us"), col("event_id"))
  }

  /** q17 lives in MessageOps; q-naming continues in SparkEntry. */

  /** q35: event-time AS-OF join — every `purchase` event matched to the
    * most recent `click` event of the same user at or before its
    * timestamp. Spark has no asof-join operator, and the naive encoding
    * (`a.user_id = b.user_id && b.ts <= a.ts` + per-row argmax) is an
    * inequality join whose candidate set is O(|purchases|·|clicks/user|)
    * BEFORE the argmax prunes it. This composition avoids that entirely:
    * tag both sides, UNION them, and take a per-user running
    * `last(click, ignoreNulls)` over event-time order — one shuffle+sort
    * on the session key, zero join. Tie discipline at equal timestamps:
    * clicks sort before purchases (tag 0 < 1) so a same-instant click is
    * visible (`<=` semantics), and among same-instant clicks the highest
    * event_id wins — both mirrored in the oracle's DESC/DESC pick.
    */
  def q35AsofJoin(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
    val tagged = ev.filter(col("event_type").isin("click", "purchase"))
      .withColumn("tag", when(col("event_type") === "click", 0).otherwise(1))
      .withColumn("click_ref",
        when(col("tag") === 0, struct(col("ts_us").as("c_ts_us"), col("event_id").as("c_event_id"))))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("tag"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("last_click", last(col("click_ref"), ignoreNulls = true).over(w))
      .filter(col("tag") === 1 && col("last_click").isNotNull)
      .select(col("event_id").as("p_event_id"), col("user_id"),
        col("ts_us").as("p_ts_us"),
        col("last_click.c_event_id").as("c_event_id"),
        col("last_click.c_ts_us").as("c_ts_us"))
      .orderBy(col("p_event_id"))
  }

  /** Gap of event-time inactivity that closes a session (24 h — sized so
    * the synthetic corpus groups ~8 events/session; a real deployment
    * tunes this per product).
    */
  val SessionGapUs: Long = 24L * 3600 * 1000000

  /** Shared gap-sessionization frame: per-user session numbers over
    * event-time order (a gap > `SessionGapUs` opens a new session),
    * returning `(user_id, session_no, event_type, ts_us, event_id)`.
    * `lag` and the running `sum` share ONE window spec, so both run off a
    * single shuffle+sort on (user_id; ts_us, event_id); per-user state is
    * partition-bounded — no global sort, so the shape holds at 100 TB.
    * This is the load-bearing session_no logic for q33 (rollups), q110
    * (paths), and q111 (baskets) — one definition, three consumers, so a
    * gap-rule change can never skew them apart.
    */
  private[graft] def sessionized(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    events
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
      .withColumn("prev_ts", lag(col("ts_us"), 1).over(w))
      .withColumn("brk",
        when(col("prev_ts").isNull || col("ts_us") - col("prev_ts") > SessionGapUs, 1)
          .otherwise(0))
      .withColumn("session_no",
        sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("user_id"), col("session_no"), col("event_type"),
        col("ts_us"), col("event_id"))
  }

  /** q33: gap-based sessionization — the classic event-analytics operator
    * over a CDC stream: a user's events split into sessions wherever the
    * event-time gap exceeds `SessionGapUs`, then per-session rollups.
    * The rollup is a second (narrower) shuffle on (user_id, session_no)
    * over the shared `sessionized` frame. (The STREAMING counterpart of
    * this operator is `EventWindows`' watermarked windows / Spark's
    * native session_window; this is the batch/backfill form.)
    */
  def q33Sessionize(spark: SparkSession, dir: String): DataFrame =
    sessionized(Tables.events(spark, dir))
      .groupBy(col("user_id"), col("session_no"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts_us")).as("session_start_us"),
        max(col("ts_us")).as("session_end_us"))
      .orderBy(col("user_id"), col("session_no"))

  /** q111: association rules over session baskets — market-basket
    * analysis where a "basket" is the set of event types a session
    * touched: every directed type pair a→b gets its support, confidence
    * `P(b | a)`, and lift `P(b|a)/P(b)`, all in 1e6-scaled exact integer
    * arithmetic (replayable; the float forms would drift). Lift > 1e6
    * reads "sessions doing a are MORE likely than baseline to also do
    * b" — the classic co-behavior signal.
    *
    * Scale: baskets are DISTINCT (session, type) rows, so the pair
    * self-join on the session key is bounded by (types-per-session)² ≤
    * |type-alphabet|² per session — the q104 co-occurrence bound with a
    * structurally tiny degree; everything else is partial-agg counts and
    * one broadcast of the 1-row basket total.
    */
  def q111AssociationRules(spark: SparkSession, dir: String): DataFrame =
    associationRulesFrom(
      sessionized(Tables.events(spark, dir))
        .select(col("user_id"), col("session_no"), col("event_type").as("t"))
        .distinct())

  /** q111's rule derivation over any DISTINCT (user_id, session_no, t)
    * basket frame — shared with the streaming sessionization lane, whose
    * finalized sessions carry the same baskets.
    */
  private[graft] def associationRulesFrom(baskets0: DataFrame): DataFrame = {
    // PIN the basket frame (r22, guide §5): it feeds the basket count,
    // the per-item counts, and BOTH sides of the pair self-join —
    // unpinned, each reference re-ran the event scan + sessionization
    // window + distinct. Baskets are distinct (session, type) rows —
    // orders of magnitude smaller than the event stream — and the
    // (rule-count-sized) result is checkpointed before its release.
    Using.resource(baskets0.persist()) { baskets =>
      // eager materialization: all four consumers run inside one action
      // and concurrent first reads would each recompute the pin
      baskets.count()
      val n = baskets.select(col("user_id"), col("session_no")).distinct()
        .agg(count(lit(1)).as("n_baskets"))
      val items = baskets.groupBy(col("t")).agg(count(lit(1)).as("n_item"))
      val pairs = baskets.select(col("user_id"), col("session_no"), col("t").as("a"))
        .join(baskets.select(col("user_id"), col("session_no"), col("t").as("b")),
          Seq("user_id", "session_no"))
        .where(col("a") =!= col("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_ab"))
      pairs
        .join(items.select(col("t").as("a"), col("n_item").as("n_a")), Seq("a"))
        .join(items.select(col("t").as("b"), col("n_item").as("n_b")), Seq("b"))
        .join(broadcast(n))
        .select(col("a"), col("b"), col("n_ab"),
          expr("(1000000 * n_ab) div n_baskets").as("support_fp"),
          expr("(1000000 * n_ab) div n_a").as("confidence_fp"),
          // int64 headroom: n_ab ≤ n_baskets, so the numerator is bounded
          // by 1e6 · n_baskets² — exact up to ~3.0e6 DISTINCT baskets
          // (sqrt(2^63/1e6)). Baskets are (user, session) pairs, not rows,
          // so 100 TB of events still sits under the bound for per-segment
          // runs; past it, drop Scale to 1e3 (headroom ~9.6e7) or widen to
          // decimal(38) — the q109 rescale discipline.
          expr("(1000000 * n_ab * n_baskets) div (n_a * n_b)").as("lift_fp"))
        .localCheckpoint()
        .orderBy(col("a"), col("b"))
    }
  }

  /** q110: sessionized path analysis — the most common 3-step event
    * sequences across all sessions (the "what do users actually DO"
    * product-analytics query): q33's gap-sessionization assigns the
    * sessions, each session's ordered event-type sequence yields its
    * consecutive 3-step paths (NOT distinct — a loop walked twice counts
    * twice), and the global top-20 comes off the `BoundedTopK` partial
    * aggregate (O(20) shuffled per map task, no Window, no global sort
    * of path counts).
    *
    * Scale: the per-user window is the q33 envelope (state bounded by a
    * user's events); path extraction is one `collect_list` per session —
    * bounded by session length, the operator's natural grain — and the
    * path-count aggregate is map-side partial over (path) keys.
    */
  def q110SessionPaths(spark: SparkSession, dir: String): DataFrame = {
    val sessions = sessionized(Tables.events(spark, dir))
      .groupBy(col("user_id"), col("session_no"))
      .agg(sort_array(collect_list(
        struct(col("ts_us"), col("event_id"), col("event_type")))).as("evs"))
      .select(expr("transform(evs, e -> e.event_type)").as("seq"))
    val paths = sessions
      .select(explode(expr(
        "filter(transform(sequence(1, size(seq)), i -> " +
          "CASE WHEN i + 2 <= size(seq) THEN " +
          "concat_ws('>', seq[i - 1], seq[i], seq[i + 1]) END), " +
          "p -> p IS NOT NULL)")).as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n"))
    paths
      .agg(graft.functions.BoundedTopK(
        struct(col("n").as("n"), col("path").as("path")), 20).as("top"))
      .select(posexplode(col("top")))
      .select((col("pos") + 1).cast("long").as("rank"),
        col("col.path").as("path"), col("col.n").as("n"))
      .orderBy(col("rank"))
  }
}
