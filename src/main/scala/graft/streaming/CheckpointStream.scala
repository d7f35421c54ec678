package graft.streaming

import graft.diff.DiffModel
import graft.diff.DiffModel.CheckpointData
import graft.state.SessionMerge
import graft.state.SessionMerge.SessionState
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

import java.nio.charset.StandardCharsets
import java.time.Duration

/** The streaming lifecycle (SURVEY §2.1 S1/S2/S4/S7, §3 E1/E2): a polling
  * micro-batch CDC feed over the event table, the keyed stateful merge as a
  * `flatMapGroupsWithState`, an idempotent keyed upsert sink, and an
  * append-only DIFF sink (D13 end-to-end — the reference's defining output,
  * `entity/CdcAgentsDataStream.java:56-60` accumulates a
  * `CheckpointDataDiff` per session update, appended at
  * `dao/CdcCheckpointDao.java:31-35`).
  *
  * Backfill-then-stream (reference `CdcSubscriberConfig.java:117-175`) is
  * realized by Structured Streaming's batch/stream unification: files that
  * exist when the query starts form the first micro-batch(es) — the same
  * state function processes backlog and live data, so E2 ≡ E1 by
  * construction rather than by a separate code path.
  */
object CheckpointStream {

  /** Input row shape (same derivation as SessionOps.q16SessionMerge). */
  final case class EventRow(
      user_id: Long, task_id: String, event_id: Long, ts_us: Long, props: String)

  /** Flattened session state emitted each time a session changes: the full
    * current content of the session plus its sequence number.
    */
  final case class SessionFlat(
      user_id: Long, task_id: String, event_id: Long, ts_us: Long,
      payload: String, seq: Int)

  /** Tagged union the state function emits: `kind` is "session" (a
    * SessionFlat-shaped row) or "diff" (payload = the diff's wire JSON via
    * `DiffModel.toJson`, seq = the diff's sequenceNumber, event_id/ts_us =
    * the event that produced it). One output type because
    * `flatMapGroupsWithState` has a single output encoder; `foreachBatch`
    * splits the two streams into their sinks.
    */
  final case class StreamOut(
      kind: String, user_id: Long, task_id: String, event_id: Long, ts_us: Long,
      payload: String, seq: Int)

  /** Feed schema; `ts` is TimestampType for micro-precision files or
    * LongType for raw nanosecond-INT64 files (the driver testdata's
    * physical type under `nanosAsLong`) — see `feedSchemaFor`.
    */
  def eventsSchema(tsType: org.apache.spark.sql.types.DataType = TimestampType): StructType =
    StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", tsType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))

  /** The IDE checkpoint feed's wire shape (SURVEY §2.1 S2) — a DIFFERENT
    * schema from the agents feed, mirrored from the reference's
    * `ide-schema.sql:1-16`: text ids, a TEXT `checkpoint_ts` the reference
    * casts per query (`timestamptz(c.checkpoint_ts)`,
    * `dao/IdeCheckpointDao.java:62,90`), a binary blob, and `task_path` as
    * the task key.
    */
  val ideSchema: StructType = StructType(Seq(
    StructField("thread_id", StringType),
    StructField("prompt_id", StringType),
    StructField("session_id", StringType),
    StructField("checkpoint_ts", StringType),
    StructField("checkpoint_id", StringType),
    StructField("blob", BinaryType),
    StructField("task_path", StringType)))

  /** Detect the feed's wire shape from the files already present (cheap
    * footer-only batch read): an `ide_checkpoints`-shaped feed is recognized
    * by its `thread_id` column; otherwise the agents event shape, with the
    * timestamp physical type sniffed (a stream's explicit schema must match
    * the parquet physical type or every read fails). Defaults to the agents
    * shape ONLY when the directory is still empty (narrow catch — any other
    * failure propagates); a caller that knows its feed's shape should pass
    * it to `run` via `schemaHint` instead of relying on sniffing, which
    * cannot see files that arrive after the query starts.
    */
  def feedSchemaFor(spark: SparkSession, sourceDir: String): StructType =
    try {
      val s = spark.read.parquet(sourceDir).schema
      if (s.fieldNames.contains("thread_id")) ideSchema
      else eventsSchema(s("ts").dataType)
    } catch { case _: org.apache.spark.sql.AnalysisException => eventsSchema() }

  private def toCheckpoint(e: EventRow): CheckpointData =
    CheckpointData(
      checkpoint = e.props.getBytes(StandardCharsets.UTF_8),
      checkpointNs = e.ts_us,
      threadId = e.user_id.toString,
      checkpointId = f"${e.event_id}%020d",
      taskId = e.task_id)

  private def flatten(userId: Long, st: SessionState): Iterator[StreamOut] =
    st.content.iterator.flatMap { case (task, cds) =>
      cds.iterator.map { cd =>
        StreamOut("session", userId, task, cd.checkpointId.toLong, cd.checkpointNs,
          new String(cd.checkpoint, StandardCharsets.UTF_8), st.sequenceNumber)
      }
    }

  /** Fold a key's batch of events (already event-time ordered) through the
    * engine, one `SessionMerge.update` per event — the identical cadence as
    * the batch backfill — collecting each emitted diff as a wire-JSON
    * StreamOut row. Shared by the streaming state function and the batch
    * backfill so E1 ≡ E2 extends to the diff stream.
    */
  private def foldEvents(
      userId: Long,
      st0: SessionState,
      ordered: Vector[EventRow]): (SessionState, Vector[StreamOut]) = {
    var st = st0
    val diffs = Vector.newBuilder[StreamOut]
    ordered.foreach { ev =>
      val (next, diff) = SessionMerge.update(st, Seq(toCheckpoint(ev)))
      diff.foreach { d =>
        diffs += StreamOut("diff", userId, "", ev.event_id, ev.ts_us,
          DiffModel.toJson(d), d.sequenceNumber)
      }
      st = next
    }
    (st, diffs.result())
  }

  /** The per-key state function (C1 single-writer-per-key is guaranteed by
    * construction: one invocation per key per micro-batch). Emits every diff
    * produced by the batch's events followed by the session's full
    * post-merge state.
    *
    * State is bounded (run under `GroupStateTimeout.EventTimeTimeout`): a
    * session idle past the TTL in EVENT time (watermark-driven, so a
    * stalled feed evicts nothing) is dropped from the state store — its
    * truth is not lost, because every state change was flattened and
    * upserted to the sink in the batch that made it. On a later event for
    * an absent key, `reload` reconstructs the
    * state from the sink (see `reloadSessionFromSink`): same content map,
    * same sequence number, so folding — and the diff stream — continue
    * exactly as if the state had never been evicted. This is the reference's
    * accumulate-forever semantic (`entity/CdcAgentsDataStream.java:28-60`
    * parks it in Postgres) done scale-correctly: state-store size is
    * O(sessions active within the TTL window), not O(sessions ever seen).
    */
  def statefulSessionFunc(reload: Long => Option[SessionState], idleTtlMs: Long)(
      userId: Long,
      events: Iterator[EventRow],
      state: GroupState[SessionState]): Iterator[StreamOut] = {
    if (state.hasTimedOut) {
      // idle eviction: the sink holds the session's full latest content
      state.remove()
      Iterator.empty
    } else {
      val st0 = state.getOption.orElse(reload(userId))
        .getOrElse(SessionState.empty(userId.toString))
      val ordered = events.toVector.sortBy(e => (e.ts_us, e.event_id))
      val (st1, diffs) = foldEvents(userId, st0, ordered)
      state.update(st1)
      // timeout fires when the WATERMARK passes last-event + TTL; clamp to
      // watermark+1 because Spark rejects a timeout at or below the
      // current watermark (a key fed only late data would otherwise throw)
      val lastEventMs =
        if (ordered.nonEmpty) ordered.iterator.map(_.ts_us).max / 1000L
        else state.getCurrentWatermarkMs()
      state.setTimeoutTimestamp(
        math.max(lastEventMs + idleTtlMs, state.getCurrentWatermarkMs() + 1L))
      if (ordered.isEmpty) Iterator.empty else diffs.iterator ++ flatten(userId, st1)
    }
  }

  /** Reconstruct an evicted session's `SessionState` from the upsert sink —
    * the revival half of idle eviction. Runs INSIDE the state function on an
    * executor, so it cannot issue a Spark job; instead it reads the one
    * bucket directory the session hashes to (`bucketOf` is a pure function
    * of the key) with a plain parquet reader, pushing a `user_id = key`
    * predicate down so non-matching row groups are skipped via statistics.
    * Cost per first-seen-or-revived key: one statistics-pruned bucket read —
    * the same I/O class as the upsert's own touched-bucket rewrite, and at
    * cluster scale a bucket is sink_size/buckets with thousands of buckets.
    *
    * Crash-window rule: a `.bak` bucket, when present, is the PRE-batch
    * truth (the upsert moves originals there before promoting its rewrite),
    * and a replayed batch's state function must fold from pre-batch state —
    * so `.bak` wins over the sink's possibly-half-promoted bucket.
    *
    * Faithfulness (parity-tested in StreamingEvictionSpec): `flatten`
    * emits the full content map on every change and the upsert replaces the
    * session's rows wholesale, so the sink rows ARE the state —
    * `checkpointId` round-trips through the zero-padded `event_id` format,
    * `seq` carries the session-level sequence number, and a `__start__`
    * vector's append order equals its (ns, id) sort order because
    * `skipStale` admits only monotone appends.
    */
  /** The six columns the reload needs with their REQUIRED primitive
    * encodings (`SessionFlat`'s Spark parquet mapping). The projection
    * requested from each sink file is built from the file's OWN footer
    * restricted to these names: extra columns (schema evolution) are
    * skipped without being decoded; a needed column that is missing,
    * renamed, or primitive-type-drifted fails the read LOUDLY here — the
    * silent-misread class a positional or full-schema read risks. Taking
    * each field's repetition from the footer (rather than pinning it)
    * matters because parquet demands an exact repetition match and
    * different legitimate writers disagree: a Dataset-encoded batch writes
    * `required` primitives with `optional` strings, while a sink
    * initialized from an explicit non-nullable schema writes `required`
    * strings too.
    */
  private val ReloadFields: Seq[(String,
      org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName)] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    Seq("user_id" -> INT64, "task_id" -> BINARY, "event_id" -> INT64,
      "ts_us" -> INT64, "payload" -> BINARY, "seq" -> INT32)
  }

  /** Build the per-file reload projection from its footer schema; throws
    * with a precise message on any missing/renamed/type-drifted column.
    */
  private[graft] def reloadProjectionFor(
      fileSchema: org.apache.parquet.schema.MessageType): org.apache.parquet.schema.MessageType = {
    val fields = ReloadFields.map { case (name, expected) =>
      if (!fileSchema.containsField(name))
        throw new IllegalStateException(
          s"session sink file lacks column '$name' — the sink schema has " +
            s"drifted from the engine's contract; revival would misread. " +
            s"File schema: $fileSchema")
      val t = fileSchema.getType(fileSchema.getFieldIndex(name))
      if (!t.isPrimitive || t.asPrimitiveType.getPrimitiveTypeName != expected)
        throw new IllegalStateException(
          s"session sink column '$name' has type $t, engine expects " +
            s"primitive $expected — revival would misread; migrate the sink")
      t
    }
    new org.apache.parquet.schema.MessageType("graft_reload", fields: _*)
  }

  private[graft] def reloadSessionFromSink(
      sinkDir: String, buckets: Int, conf: Broadcast[SerializableConfiguration])(
      userId: Long): Option[SessionState] = {
    import org.apache.parquet.filter2.compat.FilterCompat
    import org.apache.parquet.filter2.predicate.FilterApi
    val hconf = conf.value.value
    val b = java.lang.Math.floorMod(
      graft.operators.DedupOps.splitmix(userId), buckets.toLong).toInt
    def files(dir: Path): Seq[Path] = {
      val fs = dir.getFileSystem(hconf)
      if (!fs.exists(dir)) Seq.empty
      else fs.listStatus(dir).iterator.map(_.getPath)
        .filter { p => val n = p.getName; !n.startsWith("_") && !n.startsWith(".") }
        .toSeq
    }
    val bak = files(new Path(s"$sinkDir.bak/bucket=$b"))
    val toRead = if (bak.nonEmpty) bak else files(new Path(s"$sinkDir/bucket=$b"))
    if (toRead.isEmpty) return None
    val pred = FilterCompat.get(
      FilterApi.eq(FilterApi.longColumn("user_id"), java.lang.Long.valueOf(userId)))
    val opts = org.apache.parquet.HadoopReadOptions.builder(hconf)
      .withRecordFilter(pred).build()
    val rows = Vector.newBuilder[(String, Long, Long, String, Int)]
    toRead.foreach { f =>
      // one open per file: the footer read here both builds the projection
      // (each file's own repetitions, see ReloadFields) and drives the
      // statistics/dictionary pruning of its row groups
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, hconf), opts)
      try {
        val fileMeta = reader.getFooter.getFileMetaData
        val projection = reloadProjectionFor(fileMeta.getSchema)
        reader.setRequestedSchema(projection)
        val columnIO = new org.apache.parquet.io.ColumnIOFactory(fileMeta.getCreatedBy)
          .getColumnIO(projection, fileMeta.getSchema, true)
        var store = reader.readNextFilteredRowGroup()
        while (store != null) {
          val records = columnIO.getRecordReader(store,
            new org.apache.parquet.example.data.simple.convert.GroupRecordConverter(projection),
            pred)
          var i = 0L
          while (i < store.getRowCount) {
            // the record filter yields null (or a skip flag) for non-matches
            val g = records.read()
            if (g != null && !records.shouldSkipCurrentRecord &&
                g.getLong("user_id", 0) == userId)
              rows += ((g.getString("task_id", 0), g.getLong("event_id", 0),
                g.getLong("ts_us", 0), g.getString("payload", 0), g.getInteger("seq", 0)))
            i += 1
          }
          store = reader.readNextFilteredRowGroup()
        }
      } finally reader.close()
    }
    val all = rows.result()
    if (all.isEmpty) None
    else {
      val content = all.groupBy(_._1).map { case (task, rs) =>
        task -> rs.sortBy(r => (r._3, f"${r._2}%020d")).map { r =>
          CheckpointData(r._4.getBytes(StandardCharsets.UTF_8), r._3,
            userId.toString, f"${r._2}%020d", task)
        }
      }
      Some(SessionState(userId.toString, all.iterator.map(_._5).max, content))
    }
  }

  /** Normalize a raw events DataFrame (batch or streaming) to EventRow.
    * Handles both timestamp feeds and raw nanosecond-long feeds.
    *
    * Same malformed-row discipline as the IDE path: the parquet schema
    * declares every column nullable, and a null id/ts would NPE the
    * primitive-field decoder and kill the whole streaming query — one bad
    * row must not poison the feed. Drops are counted per micro-batch via
    * the `graft_events_feed` observed metric.
    */
  def toEventRows(df: DataFrame): Dataset[EventRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    // filter on the SHARED wire-level rules (agentsValidityRules) so the
    // drop filter, the counter, and the dead-letter quarantine can never
    // drift apart — same contract as the IDE path.
    // coalesce: sum() is NULL on an empty micro-batch, and a null Long
    // in an advertised metric NPEs getLong-style consumers
    val bad = agentsMalformed(df)
    df.observe("graft_events_feed",
        count(lit(1L)).as("rows_seen"),
        coalesce(sum(when(bad, lit(1L)).otherwise(lit(0L))), lit(0L)).as("rows_dropped"))
      .filter(!bad)
      .select(
        col("user_id"),
        when(col("event_type") === "signup", lit("__start__"))
          .otherwise(col("event_type")).as("task_id"),
        col("event_id"),
        graft.Tables.tsMicros(df).as("ts_us"), // one shared ts-shape dispatch
        col("props"))
      .as[EventRow]
  }

  /** Normalize an `ide_checkpoints`-shaped feed (see `ideSchema`) to
    * EventRow. The TEXT `checkpoint_ts` is cast to a timestamp exactly once
    * here — the reference repeats `timestamptz(...)` in every query and its
    * row mappers disagree on the column's name (wart W3,
    * `IdeCheckpointDao.java:135` reads `checkpoint_timestamp`); naming and
    * casting in one projection fixes that class of bug by construction.
    * Non-numeric thread/checkpoint ids are keyed by their 64-bit hash
    * (documented narrowing: the engine's session key is numeric). Ids must
    * land in non-negative space: `f"%020d"`-formatting a negative long
    * would yield `-000…n`, whose lexicographic order is inverted among
    * negatives, breaking the zero-pad ==> lexicographic == numeric
    * tie-break invariant `latestPerTask` relies on. So BOTH branches are
    * guarded — a hashed id is sign-masked, and a numeric wire id that
    * parses negative (e.g. checkpoint_id "-5") is treated like a
    * non-numeric id and hashed, rather than let its sign poison the
    * ordering. COMPATIBILITY: negative numeric ids previously keyed as
    * their parsed (negative) value; a sink/checkpoint that ever ingested
    * such out-of-contract ids holds their sessions under the old keys and
    * needs a backfill replay, or those sessions split across old and new
    * keys.
    *
    * Malformed rows (unparseable TEXT `checkpoint_ts`, null blob) are
    * FILTERED here rather than allowed to null a primitive field and kill
    * the whole streaming query — one bad row must not poison the feed, but
    * silent row loss in a CDC feed is only safe if surfaced: the drop count
    * is published per micro-batch as the `graft_ide_feed` observed metric
    * (`rows_seen` / `rows_dropped`, on `StreamingQueryProgress
    * .observedMetrics`; batch runs surface it via `QueryExecutionListener`).
    * At production scale the same predicate would also fork a dead-letter
    * sink; the filter is the load-bearing part.
    */
  def toEventRowsIde(df: DataFrame): Dataset[EventRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    def nonNegOrHash(textCol: String) = {
      val parsed = expr(s"try_cast($textCol AS long)")
      when(parsed.isNotNull && parsed >= 0, parsed)
        .otherwise(xxhash64(col(textCol)).bitwiseAND(lit(Long.MaxValue)))
    }
    // filter on the SHARED wire-level rules before projecting: the
    // surviving rows' ts/props/task are non-null by construction, and
    // null ids never reach the hash branch (IdeValidityRules drops
    // identity-less rows to the dead-letter path)
    // coalesce: sum() is NULL on an empty micro-batch (see graft_events_feed)
    df.observe("graft_ide_feed",
        count(lit(1L)).as("rows_seen"),
        coalesce(sum(when(ideMalformed, lit(1L)).otherwise(lit(0L))), lit(0L)).as("rows_dropped"))
      .filter(!ideMalformed)
      .select(
        nonNegOrHash("thread_id").as("user_id"),
        col("task_path").as("task_id"),
        nonNegOrHash("checkpoint_id").as("event_id"),
        unix_micros(expr("try_cast(checkpoint_ts AS timestamp)")).as("ts_us"),
        col("blob").cast(StringType).as("props"))
      .as[EventRow]
  }

  /** Shape-dispatch: map a raw feed DataFrame to EventRow by its schema. */
  def normalizeFeed(df: DataFrame): Dataset[EventRow] =
    if (df.schema.fieldNames.contains("thread_id")) toEventRowsIde(df)
    else toEventRows(df)

  /** IDE wire-row validity rules over the RAW columns — the SINGLE source
    * for the normalizer's drop filter, the dead-letter predicate, and the
    * quarantine reason tags, so the three can never drift apart: a rule
    * added here is simultaneously dropped, counted, and quarantined with
    * its label.
    */
  private[graft] val IdeValidityRules: Seq[(String, org.apache.spark.sql.Column)] = Seq(
    // null ids are identity-less rows: without these rules they would all
    // hash onto the single constant key xxhash64(null) and silently merge
    // into one synthetic session (checkpoints overwriting each other)
    // instead of being dropped, counted, and quarantined
    "null_thread_id" -> col("thread_id").isNull,
    "null_checkpoint_id" -> col("checkpoint_id").isNull,
    "bad_ts" -> expr("try_cast(checkpoint_ts AS timestamp)").isNull,
    "null_blob" -> col("blob").isNull,
    "null_task_path" -> col("task_path").isNull)

  /** Wire-level malformedness of an `ide_checkpoints` row. */
  private[graft] def ideMalformed =
    IdeValidityRules.map(_._2).reduce(_ || _)

  /** Agents wire-row validity rules over the RAW feed columns — the same
    * never-drift contract as `IdeValidityRules`: one rule list feeds the
    * normalizer's drop filter, the `graft_events_feed` drop counter, AND
    * the dead-letter quarantine's reason tags. Parameterized by the
    * DataFrame because the feed's physical ts type varies (TimestampType
    * vs raw nanosecond longs — see `eventsSchema`), so the `bad_ts` rule
    * must dispatch on the actual schema.
    */
  private[graft] def agentsValidityRules(
      df: DataFrame): Seq[(String, org.apache.spark.sql.Column)] = Seq(
    // null ids are identity-less rows: a null user_id would NPE the
    // primitive-field decoder of EventRow and kill the streaming query;
    // a null event_type has no task key to merge under
    "null_user_id" -> col("user_id").isNull,
    "null_event_id" -> col("event_id").isNull,
    "bad_ts" -> graft.Tables.tsMicros(df).isNull,
    "null_event_type" -> col("event_type").isNull,
    "null_props" -> col("props").isNull)

  /** Wire-level malformedness of an agents-feed row. */
  private[graft] def agentsMalformed(df: DataFrame) =
    agentsValidityRules(df).map(_._2).reduce(_ || _)

  /** Dead-letter sink: a parallel streaming query over the same source that
    * quarantines exactly the rows the feed normalizer drops — original wire
    * columns plus a `reason` tag — to an append-only parquet sink
    * (exactly-once via the file-sink commit log + its own checkpoint).
    * Shape-dispatched exactly like `run`: the IDE and agents wire shapes
    * each quarantine under their own validity rules — the SAME rule
    * objects their normalizers filter and count by, so for either feed
    * drop/count/quarantine cannot drift apart, and the per-batch
    * `graft_events_feed` / `graft_ide_feed` drop counts equal the
    * quarantined row counts (parity-tested in IdeFeedSpec for both
    * shapes). Silent row loss in a CDC feed is acceptable only as a
    * counted metric with the rows themselves recoverable from here.
    *
    * `schemaHint` as in `run`: sniffing cannot see files that arrive after
    * the query starts, so a caller that knows its feed's shape passes it.
    * `sourceFormat` as in `run` too ("parquet" or "json"), under the same
    * require-hint rule — JSON is precisely the format where wire-level
    * malformation is likeliest, so the quarantine path must read the feed
    * exactly as the main query does or malformed JSON rows would be
    * unrecoverable.
    *
    * Scale note: this re-reads the feed (quarantine volume is tiny but the
    * scan isn't). That is the standard trade of the two-query pattern —
    * Structured Streaming cannot fork one source into two sinks inside a
    * single stateful query — and the feed files are read from the page
    * cache in practice; a transactional-table feed would use one query
    * with a MERGE fan-out instead.
    */
  def runDeadLetter(
      spark: SparkSession,
      sourceDir: String,
      checkpointDir: String,
      quarantineDir: String,
      maxFilesPerTrigger: Int = 64,
      availableNow: Boolean = true,
      schemaHint: Option[StructType] = None,
      sourceFormat: String = "parquet"): StreamingQuery = {
    require(sourceFormat == "parquet" || schemaHint.isDefined,
      s"a $sourceFormat feed requires an explicit schemaHint — " +
        "JSON type inference cannot reconstruct the wire schema faithfully")
    val schema = schemaHint.getOrElse(feedSchemaFor(spark, sourceDir))
    val raw = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .format(sourceFormat)
      .load(sourceDir)
    val rules =
      if (schema.fieldNames.contains("thread_id")) IdeValidityRules
      else agentsValidityRules(raw)
    val bad = rules.map(_._2).reduce(_ || _)
    val reason = concat_ws(",",
      rules.map { case (label, b) => when(b, lit(label)) }: _*)
    FeedStream.startParquetSink(
      raw.filter(bad).withColumn("reason", reason),
      checkpointDir, quarantineDir, availableNow)
  }

  /** Number of hash partitions the session sink is laid out in. Sized so a
    * micro-batch's touched buckets (and their rewrite I/O) stay a small
    * fraction of the sink; at cluster scale this would be thousands.
    */
  val SinkBuckets = 64

  /** Bucket assignment for the sink layout. Deliberately NOT Spark's
    * builtin `hash()`: the sink's directory layout outlives any one engine
    * version, and if the builtin's algorithm ever shifted, existing
    * sessions would silently re-home to different buckets, stranding stale
    * duplicates in the old ones. `SplitMix64` is the engine's own
    * constant-specified mix (bit-for-bit pinned in this repo), so the
    * layout is a pure function of the key forever.
    */
  private[graft] def bucketOf(userId: org.apache.spark.sql.Column, buckets: Int) =
    pmod(graft.functions.SplitMix64(userId), lit(buckets.toLong)).cast("int")

  /** Name of the sink's self-describing layout manifest (underscore prefix
    * keeps it invisible to parquet directory readers).
    */
  private val ManifestName = "_bucketing.json"

  private def manifestJson(buckets: Int): String =
    s"""{"function":"splitmix64_pmod","buckets":$buckets}"""

  /** Stamp the layout manifest into a sink this engine is CREATING (also
    * used by `SchemaInit.ensureSinkTable`, which materializes the empty
    * bucketed layout and must declare it in the same breath — a bucketed
    * sink without a manifest is indistinguishable from a foreign layout
    * and is refused by `checkBucketManifest`). Crash-atomic: temp file +
    * checked rename, so a torn write can never leave a truncated manifest
    * that poisons every later open.
    */
  private[graft] def stampManifest(
      fs: FileSystem, sink: Path, buckets: Int = SinkBuckets): Unit = {
    fs.mkdirs(sink)
    val mf = new Path(sink, ManifestName)
    val tmp = new Path(sink, s".$ManifestName.tmp")
    val out = fs.create(tmp, true)
    try out.write(manifestJson(buckets).getBytes(StandardCharsets.UTF_8)) finally out.close()
    renameOrThrow(fs, tmp, mf)
  }

  /** Record the bucketing function + count in the sink on first write and
    * verify it on every later open: a sink written under a different layout
    * (different bucket count, or a future change of mix function) must fail
    * loudly instead of silently stranding rows in unread buckets.
    *
    * A sink that already holds `bucket=*` dirs but carries NO manifest is a
    * pre-manifest layout of unknown provenance; stamping today's manifest
    * over it would silently re-home its sessions (the upsert anti-join only
    * reads touched new-layout buckets, leaving stale duplicates behind) —
    * exactly the failure the manifest exists to prevent. That case throws
    * and demands an explicit migration; the manifest is auto-written only
    * when the sink is empty or absent. The write itself is crash-atomic
    * (temp file + checked rename): an in-place create could die mid-write
    * and leave a truncated manifest that fails every later open.
    */
  private def checkBucketManifest(fs: FileSystem, sink: Path, buckets: Int): Unit = {
    val mf = new Path(sink, ManifestName)
    val expected = manifestJson(buckets)
    if (fs.exists(mf)) {
      val buf = new Array[Byte](fs.getFileStatus(mf).getLen.toInt)
      val in = fs.open(mf)
      try in.readFully(buf) finally in.close()
      val found = new String(buf, StandardCharsets.UTF_8)
      if (found.trim != expected)
        throw new IllegalStateException(
          s"sink $sink bucketing manifest mismatch: found $found, engine expects $expected")
    } else {
      val hasBuckets = fs.exists(sink) &&
        fs.listStatus(sink).exists(_.getPath.getName.startsWith("bucket="))
      if (hasBuckets)
        throw new IllegalStateException(
          s"sink $sink holds bucket dirs but no $ManifestName manifest: its layout " +
            "is unknown and rows would silently strand under a new one. Migrate the " +
            s"sink explicitly (rewrite, or stamp the correct manifest by hand): $expected")
      stampManifest(fs, sink, buckets)
    }
  }

  /** Hadoop rename returns false instead of throwing on many failures
    * (dest exists, I/O error); in this promote protocol an unnoticed
    * failed rename means silent data loss, so every rename is checked.
    */
  private def renameOrThrow(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"rename failed: $src -> $dst")

  /** Restore any interrupted upsert: a leftover `.bak` dir holds original
    * bucket partitions whose replacement may not have completed. For each
    * backed-up bucket: if the sink is missing it, move it back (the new
    * version never landed); if the sink has it, the promote completed and
    * the backup is redundant. Idempotent — safe to re-run after a crash at
    * any point of this method itself; a failed restore rename throws
    * BEFORE the backup dir is dropped, so the data survives for the next
    * attempt.
    */
  private def recoverBackup(fs: FileSystem, sink: Path, bak: Path): Unit =
    if (fs.exists(bak)) {
      fs.listStatus(bak).foreach { st =>
        val dest = new Path(sink, st.getPath.getName)
        if (!fs.exists(dest)) { fs.mkdirs(sink); renameOrThrow(fs, st.getPath, dest) }
        else fs.delete(st.getPath, true)
      }
      fs.delete(bak, true)
      ()
    }

  /** S7 upsert sink: replace the sink's rows for every session present in
    * the micro-batch (find-or-create by sessionId, reference
    * `CdcAgentsDataStreamRepository.java:16-29`). Idempotent — replaying a
    * micro-batch rewrites the same rows — which with the streaming
    * checkpoint gives effectively-once.
    *
    * Scale shape: the sink is hash-partitioned on `user_id` into
    * `SinkBuckets` bucket dirs, and a batch rewrites ONLY the buckets its
    * sessions hash into — I/O is proportional to touched buckets, not sink
    * size. Crash-safe promote: merged buckets are written to a fresh `.tmp`
    * dir while the sink stays untouched, originals are renamed into `.bak`,
    * new partitions renamed in, then `.bak` dropped; `recoverBackup` makes
    * any interruption recoverable, and the streaming checkpoint replays the
    * batch on restart. (A transactional table format's MERGE is the
    * production-grade equivalent; this is the dependency-free stand-in.)
    */
  def upsert(batch: DataFrame, sinkDir: String, buckets: Int = SinkBuckets): Unit = {
    val spark = batch.sparkSession
    val sinkPath = new Path(sinkDir)
    val fs = sinkPath.getFileSystem(spark.sessionState.newHadoopConf())
    val bakPath = new Path(sinkDir + ".bak")
    val tmpPath = new Path(sinkDir + ".tmp")
    recoverBackup(fs, sinkPath, bakPath)
    checkBucketManifest(fs, sinkPath, buckets)
    fs.delete(tmpPath, true)

    val withBucket = batch.withColumn("bucket", bucketOf(col("user_id"), buckets))
    // ≤ `buckets` small ints — a driver-side collect that stays O(buckets)
    // at any data scale
    val touched = withBucket.select("bucket").distinct()
      .collect().map(_.getInt(0)).sorted.toSeq
    if (touched.isEmpty) return
    val touchedExisting =
      touched.filter(b => fs.exists(new Path(sinkPath, s"bucket=$b")))
    val merged =
      if (touchedExisting.isEmpty) withBucket
      else {
        // partition-pruned: only touched bucket dirs are read
        val existing = spark.read.parquet(sinkDir)
          .filter(col("bucket").isin(touched.map(Int.box): _*))
        existing
          .join(batch.select("user_id").distinct(), Seq("user_id"), "left_anti")
          .unionByName(withBucket)
      }
    // materialize to .tmp while the sink (the read side) is still in place
    merged.write.partitionBy("bucket").parquet(tmpPath.toString)
    fs.mkdirs(bakPath)
    touchedExisting.foreach { b =>
      renameOrThrow(fs, new Path(sinkPath, s"bucket=$b"), new Path(bakPath, s"bucket=$b"))
    }
    fs.mkdirs(sinkPath)
    touched.foreach { b =>
      val t = new Path(tmpPath, s"bucket=$b")
      if (fs.exists(t)) renameOrThrow(fs, t, new Path(sinkPath, s"bucket=$b"))
    }
    fs.delete(bakPath, true)
    fs.delete(tmpPath, true)
    ()
  }

  /** D13 diff sink: append-only, one partition dir per micro-batch so a
    * replayed batch touches exactly its own output (idempotent) and nothing
    * ever rewrites previous batches — I/O per batch is O(batch's diffs).
    * Read the whole dir back as parquet; `batch_id` appears as a partition
    * column.
    *
    * First-write-wins: if the batch dir already carries a `_SUCCESS` marker,
    * an earlier attempt of this (replayed) batch committed it and the write
    * is skipped. This matters under idle eviction: a crash AFTER the upsert
    * promoted but BEFORE the streaming checkpoint committed makes the replay
    * reload revived sessions from the post-batch sink, so the replay
    * recomputes an EMPTY diff for them — overwriting would lose the diffs
    * the first attempt already committed. A torn first attempt (no
    * `_SUCCESS`) is overwritten as before; its inputs are still pre-batch
    * (diffs are written before the upsert mutates the sink — see `run`), so
    * the rewrite is bit-identical.
    */
  def appendDiffs(diffs: DataFrame, diffDir: String, batchId: Long): Unit = {
    val dir = new Path(s"$diffDir/batch_id=$batchId")
    val fs = dir.getFileSystem(diffs.sparkSession.sessionState.newHadoopConf())
    if (fs.exists(new Path(dir, "_SUCCESS"))) return
    diffs.write.mode("overwrite").parquet(dir.toString)
  }

  /** Recover an interrupted `compactDiffs`: a leftover `.compact_bak` dir
    * means a swap may be half-done. Discriminator: if the consolidated
    * output still sits in `.compact_tmp`, the final rename never happened —
    * restore every original batch dir from the backup; if the tmp output is
    * gone, the rename landed and the backup is redundant. Either way both
    * work dirs are cleared. Idempotent.
    */
  private def recoverCompaction(fs: FileSystem, root: Path, tmp: Path, bak: Path): Unit = {
    if (fs.exists(bak)) {
      val tmpHasOutput = fs.exists(tmp) && fs.listStatus(tmp).nonEmpty
      if (tmpHasOutput) {
        fs.listStatus(bak).foreach { st =>
          val dest = new Path(root, st.getPath.getName)
          if (!fs.exists(dest)) renameOrThrow(fs, st.getPath, dest)
          else fs.delete(st.getPath, true)
        }
      }
      fs.delete(bak, true)
      ()
    }
    fs.delete(tmp, true)
    ()
  }

  /** Compact the diff sink's per-micro-batch partition dirs at or below
    * `watermark` into a single `batch_id=<watermark>` dir — the maintenance
    * counterpart of `appendDiffs`, which deliberately never rewrites old
    * batches and therefore accumulates one small dir per micro-batch
    * forever (the classic streaming small-files debt; at one batch per
    * second that is ~86k dirs/day).
    *
    * OFFLINE utility: run with no active writer, and `watermark` must not
    * exceed the last batch the stream's checkpoint has committed — a
    * replayed batch at or below the watermark would recreate its dir and
    * duplicate its rows. The consolidated dir is named
    * `batch_id=-(watermark+1)`: NEGATIVE, an id `appendDiffs` (driven by
    * Spark's non-negative batch ids) can never write, so even a
    * precondition violation can only ever DUPLICATE rows (the replayed
    * batch's own dir reappears) — never overwrite compacted history.
    * Negative dirs are ≤ any watermark, so later compactions fold earlier
    * consolidated dirs forward. `batch_id` is the sink's physical replay
    * token, not event data (diff ordering lives in `seq`/`event_id`), so
    * the re-homing loses nothing. Crash-safe: consolidated output is
    * written to `.compact_tmp` while the sink stays readable, originals
    * move to `.compact_bak`, one rename promotes the consolidated dir,
    * and `recoverCompaction` makes any interruption restorable.
    *
    * RETENTION GC (`retainRowsNewerThanUs`): prune diff rows whose event
    * time `ts_us` is strictly below the cutoff while folding — the
    * storage-side twin of the state store's idle eviction, and the last
    * unbounded-growth path in the engine without it (the reference
    * accumulates every diff forever in one jsonb document,
    * `entity/CdcAgentsDataStream.java:56-60` — the same semantic, the same
    * scale-wrongness; a year-long stream needs its diff history bounded by
    * a retention window the caller picks). The pruning runs under the
    * identical crash protocol: if every in-range row has expired, no
    * consolidated generation is written at all and the folded dirs are
    * simply removed (`recoverCompaction`'s discriminator — no tmp output —
    * then finalizes the removal on crash). Replay idempotence is
    * unchanged: only dirs at or below the watermark are folded/pruned, and
    * the precondition already demands those batches are committed, i.e.
    * never replayed; dirs above the watermark keep their `_SUCCESS`
    * first-write-wins protection. (A precondition violation could
    * resurrect pruned rows exactly as it could duplicate unpruned ones —
    * the same documented bound.)
    */
  def compactDiffs(
      spark: SparkSession, diffDir: String, watermark: Long,
      targetFiles: Int = 4,
      retainRowsNewerThanUs: Option[Long] = None): Unit = {
    val root = new Path(diffDir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val tmp = new Path(diffDir + ".compact_tmp")
    val bak = new Path(diffDir + ".compact_bak")
    recoverCompaction(fs, root, tmp, bak)
    if (!fs.exists(root)) return
    val batchDirs = fs.listStatus(root).map(_.getPath)
      .filter(_.getName.startsWith("batch_id="))
      .map(p => p.getName.stripPrefix("batch_id=").toLong -> p)
      .filter(_._1 <= watermark).sortBy(_._1)
    // with retention even a lone in-range dir is rewritten (its rows may
    // have aged out); without it a lone dir is already compact
    if (batchDirs.isEmpty ||
      (batchDirs.length <= 1 && retainRowsNewerThanUs.isEmpty)) return
    // ...but an already-consolidated sink where NOTHING has aged out must
    // not be rewritten on every maintenance run — min >= cutoff means the
    // retention filter keeps every row. Cost model, stated precisely: this
    // min(ts_us) is a single-column scan of the consolidated generation
    // (only ts_us decoded, every other column pruned), NOT a pure
    // parquet-footer read — Spark only answers aggregates from footer
    // statistics under the V2 aggregate-pushdown path
    // (spark.sql.parquet.aggregatePushdown, off by default). So the skip
    // check costs O(generation's ts_us column) per maintenance run; cheap
    // relative to the rewrite it avoids, but it does grow with sink size.
    for (cut <- retainRowsNewerThanUs if batchDirs.length <= 1) {
      val row = spark.read.parquet(batchDirs.head._2.toString)
        .agg(min(col("ts_us"))).head
      if (!row.isNullAt(0) && row.getLong(0) >= cut) return
    }
    val target = s"batch_id=${-(watermark + 1)}"
    val folded = retainRowsNewerThanUs.foldLeft(
      spark.read.parquet(batchDirs.map(_._2.toString): _*)) {
      (df, cut) => df.filter(col("ts_us") >= cut)
    }
    // an all-expired fold writes nothing: an empty parquet dir would break
    // directory readers, and absence is the correct representation
    val keepAny = retainRowsNewerThanUs.isEmpty || !folded.isEmpty
    if (keepAny)
      folded.coalesce(targetFiles).write.parquet(new Path(tmp, target).toString)
    fs.mkdirs(bak)
    batchDirs.foreach { case (_, p) => renameOrThrow(fs, p, new Path(bak, p.getName)) }
    if (keepAny) renameOrThrow(fs, new Path(tmp, target), new Path(root, target))
    fs.delete(bak, true)
    fs.delete(tmp, true)
    ()
  }

  /** E1: the live pipeline. File-source micro-batches over `sourceDir`
    * (pre-existing files = startup backfill), keyed stateful merge, upsert
    * sink + append-only diff sink. `maxFilesPerTrigger` bounds per-batch
    * work; AvailableNow drains the backlog then stops (tests / bounded
    * runs), ProcessingTime runs forever.
    *
    * `schemaHint`: the feed's wire shape when the caller knows it (Pipeline
    * does — each feed dir is agents- or IDE-shaped by contract). Without a
    * hint the shape is sniffed from files present at start, which guesses
    * the agents shape for a still-empty directory — wrong if an IDE feed's
    * first files arrive only after the query starts.
    *
    * `sourceFormat`: "parquet" (default) or "json" — CDC feeds commonly
    * arrive as JSON lines. A JSON feed REQUIRES `schemaHint`: JSON type
    * inference cannot reconstruct the wire schema faithfully (timestamps
    * arrive as strings, longs widen to doubles on sampling), and the
    * parquet-based sniffing obviously does not apply. Timestamps parse
    * from their ISO text under the hinted TimestampType; binary columns
    * (the IDE blob) ride base64, both per Spark's JSON datasource
    * contract. Everything downstream of the source is format-agnostic.
    *
    * `idleTtl` bounds the state store: a session idle past the TTL in event
    * time is evicted and transparently reloaded from the sink on its next
    * event (`statefulSessionFunc` / `reloadSessionFromSink`).
    *
    * LATE-ROW CONTRACT under eviction: `FlatMapGroupsWithStateExec` under
    * EventTimeTimeout carries a late-row filter that would drop input rows
    * at or below the watermark BEFORE the state function sees them — but
    * the filter only engages when a watermark-tagged column reaches the
    * exec's child output, and in this pipeline Catalyst prunes
    * `event_time` away below the exec (the state function consumes only
    * EventRow fields). Verified empirically on Spark 4.1.2: a micro-batch
    * whose watermark stood at +30min admitted and folded a +20min event
    * (StreamingEvictionSpec's out-of-order tests). So TODAY no input row
    * is ever dropped for lateness, and the engine's skip-if-stale (D3)
    * remains the sole late-data semantic — but that is
    * an optimizer artifact, not a Spark contract. Defense-in-depth for the
    * day the column survives pruning: the allowance DEFAULTS TO THE IDLE
    * TTL, so even an engaged filter would discard only events more than a
    * full TTL behind the global frontier — the horizon at which an idle
    * session is already eviction-eligible. StreamingEvictionSpec pins the
    * admission behavior under an explicit "0 seconds" allowance; if that
    * sentinel ever fails, Spark started filtering and this contract needs
    * re-deriving. The watermark's live job is EVICTION ONLY (the timeout
    * clock); eviction under the TTL-wide allowance fires at
    * frontier > lastEvent + 2·TTL — still O(active window) state.
    *
    * foreachBatch ordering is load-bearing: diffs are committed BEFORE the
    * upsert mutates the sink, so any replay attempt that recomputes diffs
    * did so from pre-batch state, and `appendDiffs`'s first-write-wins can
    * trust an existing `_SUCCESS`-marked dir (see `appendDiffs`).
    */
  def run(
      spark: SparkSession,
      sourceDir: String,
      checkpointDir: String,
      sinkDir: String,
      maxFilesPerTrigger: Int = 1,
      availableNow: Boolean = true,
      diffDir: Option[String] = None,
      schemaHint: Option[StructType] = None,
      idleTtl: Duration = Duration.ofDays(30),
      watermarkDelay: Option[String] = None,
      sourceFormat: String = "parquet"): StreamingQuery = {
    import spark.implicits._
    val diffSink = diffDir.getOrElse(sinkDir + "_diffs")
    require(sourceFormat == "parquet" || schemaHint.isDefined,
      s"a $sourceFormat feed requires an explicit schemaHint — " +
        "JSON type inference cannot reconstruct the wire schema faithfully")
    val raw = spark.readStream
      .schema(schemaHint.getOrElse(feedSchemaFor(spark, sourceDir)))
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .format(sourceFormat)
      .load(sourceDir)
    // broadcast, not captured: a captured conf is decoded again by every
    // state-operator task, a broadcast once per executor
    val hconf = spark.sparkContext.broadcast(
      new SerializableConfiguration(spark.sparkContext.hadoopConfiguration))
    // allowance defaults to the TTL: see the late-row contract above
    val delay = watermarkDelay.getOrElse(s"${idleTtl.toMillis} milliseconds")
    val outs = normalizeFeed(raw)
      .withColumn("event_time", timestamp_micros(col("ts_us")))
      .withWatermark("event_time", delay)
      .as[EventRow]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        statefulSessionFunc(
          reloadSessionFromSink(sinkDir, SinkBuckets, hconf), idleTtl.toMillis))
    val writer = outs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[StreamOut], batchId: Long) =>
        val df = batch.toDF().persist()
        try {
          val diffs = df.filter(col("kind") === "diff")
            .select(col("user_id"), col("seq"), col("event_id"), col("ts_us"),
              col("payload").as("diff_json"))
          // skip empty batches: a schema-less empty dir would break readers
          if (!diffs.isEmpty) appendDiffs(diffs, diffSink, batchId)
          upsert(
            df.filter(col("kind") === "session")
              .select("user_id", "task_id", "event_id", "ts_us", "payload", "seq"),
            sinkDir)
        } finally { df.unpersist(); () }
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow())
     else writer.trigger(Trigger.ProcessingTime("1 second"))).start()
  }

  /** E2 as a standalone batch job (same engine path as `run`, no streaming
    * machinery): replay every session's full history and emit the flattened
    * final states AND every diff along the way, as tagged StreamOut rows.
    * Accepts both wire shapes, exactly like the streaming path (E1 ≡ E2
    * must hold per feed shape).
    */
  def backfillAll(spark: SparkSession, events: DataFrame): Dataset[StreamOut] = {
    import spark.implicits._
    normalizeFeed(events)
      .groupByKey(_.user_id)
      .flatMapGroups { (userId: Long, it: Iterator[EventRow]) =>
        val ordered = it.toVector.sortBy(e => (e.ts_us, e.event_id))
        val (st, diffs) = foldEvents(userId, SessionState.empty(userId.toString), ordered)
        diffs.iterator ++ flatten(userId, st)
      }
  }

  /** E2 restricted to final session states (the round-2 API, kept). */
  def backfill(spark: SparkSession, events: DataFrame): Dataset[SessionFlat] = {
    import spark.implicits._
    backfillAll(spark, events)
      .filter(_.kind == "session")
      .map(o => SessionFlat(o.user_id, o.task_id, o.event_id, o.ts_us, o.payload, o.seq))
  }
}
