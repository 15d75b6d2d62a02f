package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.checkpointing.CommitLog
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import graft.{Q, Tables}
import graft.operators.MergeOps

/** Structured Streaming layer (SURVEY §2.8 ST1–ST7).
  *
  * The reference IS a polling stream: an infinite loop with
  * `sleep(resttime)` (run.py:98-121) issuing per-route incremental fetches
  * `t=lastTime` (route.py:151-170), keeping a per-route offset dict
  * (agency.py:282-300) and writing each poll's rows through dedup + conflict
  * clauses so re-delivery is harmless (agency.py:316-322). The Spark-native
  * form of each piece:
  *
  *   - poll cadence        → `Trigger.ProcessingTime` (ST1)
  *   - offset dict         → the checkpointed offset log (ST2/ST3); offsets
  *                           are also derivable from data as max(event-time)
  *                           per partition — see `stream_offsets`
  *   - event-time + dedup  → `withWatermark(...).dropDuplicates(...)` (ST4/ST5)
  *   - ON CONFLICT sink    → `foreachBatch` + `MergeOps.upsert` (S7) — an
  *                           idempotent merge, so at-least-once delivery
  *                           yields exactly-once table state
  *   - daily dim refresh   → stream-static join; the static side is re-read
  *                           every micro-batch by `foreachBatch` (ST6)
  *   - retry envelope      → `withRetries`: bounded re-start from the
  *                           checkpoint (ST7; run.py:69-77,114-121)
  *   - durable table       → `ParquetTableSink`: versioned-parquet merge
  *                           target with an atomic version-pointer commit
  *                           (the Postgres boundary, connect.py:8-14)
  *
  * Scale design: the only stateful operator is the watermarked dedup, whose
  * state is bounded by the watermark horizon and partitioned by the dedup
  * key. The merge sink joins each (small) micro-batch against the target on
  * the merge key — with a bucketed target this co-locates and never
  * re-shuffles the target (see MergeOps scale note).
  *
  * Streaming queries can't be hash-compared against DuckDB directly, so the
  * graded queries below express the layer's *semantics* in batch form
  * (re-delivery idempotence; offset-log derivation), and the ScalaTest
  * streaming spec drives the real `readStream`/`writeStream` path with
  * `MemoryStream` + checkpoints.
  */
/** Per-key session accumulator for `StreamingOps.sessionize` — top-level so
  * Spark's encoder codegen can instantiate it. Times are epoch MICROS:
  * `Timestamp.getTime` is millisecond-truncated, and a sessionizer that
  * rounds its boundaries to ms cannot hash-match a µs-precision oracle. */
case class SessionBuf(start: Long, last: Long, n: Long)

object StreamingOps {

  /** ST4+ST5: event-time watermark + cross-batch dedup on the event key.
    * Works on both batch and streaming frames (the streaming plan keeps a
    * state store keyed by `keys`, expired by the watermark).
    */
  def dedupByKey(events: DataFrame, eventTimeCol: String, horizon: String,
                 keys: Seq[String]): DataFrame =
    events.withWatermark(eventTimeCol, horizon)
      .dropDuplicates(keys :+ eventTimeCol)

  /** ST6: stream-static dimension enrichment. `dims` is a plain batch frame;
    * Spark re-resolves it each micro-batch, so a daily-refreshed parquet dim
    * is picked up automatically — the reference's midnight re-snapshot
    * (run.py:103-111) without any custom plumbing.
    */
  def enrich(stream: DataFrame, dims: DataFrame, key: String): DataFrame =
    stream.join(broadcast(dims), Seq(key), "left")

  /** ST1-ST3 + S7: start the micro-batch merge sink. Each batch is upserted
    * into `sink` (idempotent — re-delivered rows merge to the same state),
    * offsets live in `checkpointDir`.
    */
  def startMergeSink(src: DataFrame, sink: TableSink, checkpointDir: String,
                     trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    src.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[Row], _: Long) => sink.merge(batch) }
      .start()

  /** Persistent variant of the merge sink: each micro-batch is upserted into
    * a parquet-directory table that survives process restart (the durable
    * half the reference gets from Postgres — see ParquetTableSink).
    */
  def startPersistentMergeSink(src: DataFrame, sink: ParquetTableSink,
                               checkpointDir: String,
                               trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    src.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[Row], id: Long) => sink.merge(batch, id) }
      .start()

  /** JDBC variant of the merge sink: each micro-batch crosses a real JDBC
    * driver into a database table (staging load + transactional MERGE —
    * see JdbcUpsertSink). The reference's actual boundary shape.
    */
  def startJdbcMergeSink(src: DataFrame, sink: JdbcUpsertSink,
                         checkpointDir: String,
                         trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    src.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[Row], id: Long) => sink.merge(batch, id) }
      .start()

  /** Stream-stream INNER interval join — the two-moving-sides shape
    * stream-static `enrich` cannot express (both inputs are unbounded; the
    * reference never needs it because its second side is always a static
    * dim, but any click→conversion / request→response correlation does).
    *
    * Both sides get an event-time watermark, and the caller passes a RANGE
    * condition tying the two event times together. Those two pieces are what
    * bound the join state at scale: each side's state store holds only rows
    * newer than `watermark horizon + range width`, keyed by the equi-join
    * key, so state is O(arrival rate × window), never O(stream). Without the
    * range condition Spark would have to keep every row forever — this
    * helper makes the bounded contract part of the signature.
    *
    * Inner joins emit a match as soon as both rows have arrived (no
    * watermark wait), so results stream out incrementally; the watermark
    * only governs state EVICTION — a row arriving later than the horizon
    * past its partner finds the partner gone (the graded at-scale trade:
    * bounded state for bounded lateness).
    *
    * `joinType` also admits the outer variants ("left_outer" etc.): an
    * unmatched outer-side row emits null-extended only once the watermark
    * proves no partner can still arrive — so outer results are delayed by
    * the horizon, the price of a correct "no match" at scale.
    */
  def streamIntervalJoin(left: DataFrame, leftTime: String,
                         right: DataFrame, rightTime: String,
                         horizon: String, equiKeys: org.apache.spark.sql.Column,
                         timeRange: org.apache.spark.sql.Column,
                         joinType: String = "inner"): DataFrame =
    left.withWatermark(leftTime, horizon)
      .join(right.withWatermark(rightTime, horizon), equiKeys && timeRange, joinType)

  /** ST7: the bounded restart/retry envelope around a streaming pipeline —
    * the reference's swallow-and-retry poll loop (`run.py:114-121`) and its
    * ≤10-attempt config-refresh loop (`run.py:69-77`), Spark-shaped: on a
    * transient failure the query is RE-STARTED FROM ITS CHECKPOINT (offsets
    * + idempotent merge make the re-run exactly-once), at most `maxAttempts`
    * times; the last failure propagates so a persistent fault is loud, not
    * swallowed forever.
    *
    * Returns the number of attempts used (for tests/telemetry).
    */
  def withRetries(maxAttempts: Int)(start: () => StreamingQuery): Int = {
    require(maxAttempts >= 1, s"maxAttempts must be >= 1, got $maxAttempts")
    var attempt = 0
    var done = false
    while (!done) {
      attempt += 1
      try {
        start().awaitTermination()
        done = true
      } catch {
        // NonFatal only: an OutOfMemoryError / InterruptedException must
        // propagate, not trigger a checkpoint restart with the JVM already
        // compromised.
        case scala.util.control.NonFatal(e) if attempt < maxAttempts =>
          System.err.println(
            s"[graft.retry] attempt $attempt/$maxAttempts failed " +
              s"(${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString}); " +
              "restarting from checkpoint")
      }
    }
    attempt
  }

  /** Start a query that runs no watermark-only ("no-data") micro-batches,
    * leaving the session's own setting as it was.
    *
    * By default, after a batch that moves the watermark Spark runs one more
    * batch with no input, only to evict state and emit what the new
    * watermark closes. A dedup-only drain emits nothing on eviction, and
    * the advanced watermark is already in the commit log
    * (`commits/<n>` → `nextBatchWatermarkMs`), which a restarted query
    * restores before its next batch. So for an `AvailableNow` poll that
    * extra batch is pure cost: a full empty pass through the sink.
    *
    * `start()` clones the session's conf into the query, so setting the
    * flag around `start` scopes it to this one query. Do NOT use this for
    * stream-stream outer joins or append-mode aggregations: they need the
    * no-data batch to emit.
    *
    * One thing the skipped batch did carry: Spark drops late rows in batch
    * n against the watermark of batch n-1's offset entry, and without the
    * no-data batch that entry holds the watermark from one drain earlier.
    * A deduplicating query therefore pairs this with
    * [[dropBehindCommittedWatermark]], which restores the late filter.
    */
  def startWithoutNoDataBatches(spark: SparkSession)(start: => StreamingQuery): StreamingQuery = {
    val prev = spark.conf.getAll.get(NoDataBatchesConf) // explicitly set only, not the default
    spark.conf.set(NoDataBatchesConf, "false")
    try start
    finally prev match {
      case Some(v) => spark.conf.set(NoDataBatchesConf, v)
      case None => spark.conf.unset(NoDataBatchesConf)
    }
  }

  val NoDataBatchesConf = "spark.sql.streaming.noDataMicroBatches.enabled"

  /** Drop the rows of `events` at or behind the watermark the query
    * checkpointed at `checkpointDir` last committed (`nextBatchWatermarkMs`
    * of the latest `commits/` entry) — the late-row filter a query run by
    * [[startWithoutNoDataBatches]] would otherwise apply one drain late.
    * With no commit yet there is nothing to filter. The test is Spark's own
    * (`eventTime <= watermark` is late; a NULL event time is not), so the
    * rows that pass are exactly those a query with no-data batches admits.
    */
  def dropBehindCommittedWatermark(events: DataFrame, eventTimeCol: String,
                                   checkpointDir: String): DataFrame =
    new CommitLog(events.sparkSession, s"$checkpointDir/commits").getLatest() match {
      case Some((_, commit)) =>
        val watermark = java.time.Instant.ofEpochMilli(commit.nextBatchWatermarkMs)
        // a UDF, not a literal: the watermark rides into the generated code
        // as a reference object, so the code is the same every drain and the
        // compiled class is reused instead of recompiled per poll
        val onTime = udf((t: java.time.Instant) => t == null || t.isAfter(watermark))
        events.filter(onTime(col(eventTimeCol)))
      case None => events
    }

  /** The JDBC-table stand-in for tests: a named in-memory target maintained
    * through MergeOps.upsert, exactly what a `foreachBatch` JDBC MERGE would
    * hold. Thread-safe: foreachBatch calls arrive serially per query, but a
    * test may also read `current` concurrently.
    */
  final class TableSink(spark: SparkSession, zero: DataFrame, keys: Seq[String]) {
    @volatile private var state: DataFrame = zero.localCheckpoint()
    @volatile private var merged: Long = 0L
    /** Rows that have arrived through merge() — lets tests distinguish
      * "offsets skipped re-processing" from "dedup absorbed re-delivery". */
    def rowsMerged: Long = merged
    def merge(batch: DataFrame): Unit = synchronized {
      // Detach the micro-batch from its streaming lineage (otherwise merging
      // two batches of the same source trips the ambiguous-self-join check),
      // then materialize the merged state so the plan doesn't grow per batch
      // — the in-memory analogue of the reference's committed INSERT. The
      // rdd handoff stays distributed; nothing is collected to the driver.
      val session = batch.sparkSession
      val detached = session.createDataFrame(batch.rdd, batch.schema).localCheckpoint()
      merged += detached.count()
      state = MergeOps.upsert(state, detached, keys).localCheckpoint()
    }
    def current: DataFrame = state
  }

  // ---- stateful processing (ST8 extension surface) ----

  /** One per-user event on the stream (the vehicle-report shape). */
  case class SEvent(user_id: Long, ts: java.sql.Timestamp)

  /** A closed session: emitted when the gap elapses (event-time timeout). */
  case class Session(user_id: Long, start: java.sql.Timestamp,
                     end: java.sql.Timestamp, n_events: Long)


  /** Custom-state sessionization via `flatMapGroupsWithState` — the shape
    * `session_window` can't express when per-session logic is needed
    * (counters, custom close conditions). State is one small buffer per
    * active key, expired by event-time timeout against the watermark, so
    * state size is bounded by the number of concurrently-active keys —
    * the 100 TB-safe property.
    *
    * Sessions close two ways: a same-key event lands beyond the gap (closed
    * inline), or the watermark passes last+gap (timeout fires with no new
    * event). Both emit exactly one Session row.
    */
  /** Timestamp ↔ epoch-micros, exact: `getTime` alone is ms-truncated, the
    * nanos field carries the rest. */
  private def tsMicros(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
  private def microTs(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  def sessionize(events: Dataset[SEvent], gapMillis: Long,
                 watermarkDelay: String): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, GroupState}
    val gapMicros = gapMillis * 1000L
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionBuf, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, evs: Iterator[SEvent], state: GroupState[SessionBuf]) =>
          if (state.hasTimedOut) {
            val b = state.get
            state.remove()
            Iterator.single(Session(uid, microTs(b.start), microTs(b.last), b.n))
          } else {
            val times = evs.map(e => tsMicros(e.ts)).toSeq.sorted
            var closed = List.empty[Session]
            var cur = state.getOption
            times.foreach { t =>
              cur = cur match {
                case Some(b) if t - b.last <= gapMicros =>
                  // a late in-gap event may precede the buffered start —
                  // extend the session backwards too
                  Some(SessionBuf(math.min(b.start, t), math.max(b.last, t), b.n + 1))
                case Some(b) =>
                  closed ::= Session(uid, microTs(b.start), microTs(b.last), b.n)
                  Some(SessionBuf(t, t, 1))
                case None => Some(SessionBuf(t, t, 1))
              }
            }
            cur.foreach { b =>
              state.update(b)
              // A late event can put last+gap behind the current watermark;
              // Spark rejects a timeout at-or-before the watermark, so clamp
              // forward (the session then closes at the next watermark tick
              // instead of crashing the query). Timeout is a MILLIS api:
              // round the µs deadline UP so it never fires a hair early.
              state.setTimeoutTimestamp(
                math.max(Math.floorDiv(b.last + gapMicros + 999, 1000L),
                  state.getCurrentWatermarkMs() + 1))
            }
            closed.reverseIterator
          }
      }
  }

  // ---- graded batch mirrors ----

  /** ST3/ST5 semantics: offset loss re-delivers a window; key dedup restores
    * exactly-once output. Union(events, re-delivered slice) must equal the
    * single-delivery table after dedup.
    */
  private val streamDedupReplay: Q = (s, dir) => {
    val ev = Tables(s, dir, "events")
    val redelivered = ev.filter(
      col("ts") >= lit("2024-01-10 00:00:00").cast("timestamp") &&
        col("ts") < lit("2024-01-20 00:00:00").cast("timestamp"))
    ev.union(redelivered)
      .dropDuplicates("event_id")
      .orderBy(col("event_id").asc_nulls_first)
  }

  /** ST2: the offset log derived from data — per-partition high-water mark
    * (≙ per-route `lastTime`, agency.py:296-300) plus rows-per-partition.
    */
  private val streamOffsets: Q = (s, dir) =>
    Tables(s, dir, "events")
      .groupBy((col("user_id") % 8).as("route"))
      .agg(max(col("ts")).as("last_time"), count(lit(1)).as("n_events"))
      .orderBy(col("route").asc_nulls_first)

  /** The REAL streaming path, graded: two overlapping file drops (an
    * at-least-once re-delivery) drain through `readStream` → watermark dedup
    * → the bucket-pruned persistent merge sink (AvailableNow ≙ one poll
    * pass), and the query returns the COMMITTED on-disk table. Deterministic
    * because each drop's unique rows are newer than the watermark any
    * earlier batch can set, and the merge is idempotent on the key — so the
    * table always equals the distinct single-delivery union, whatever the
    * micro-batch split. The oracle is that union.
    */
  private val streamSinkTable: Q = (s, dir) => {
    // Right-size the stateful shuffle for micro-batch-scale data: the state
    // partition count is pinned from this conf at FIRST start and kept for
    // the checkpoint's lifetime. Micro-batches are poll payloads (O(100k)
    // rows), not table scans — 8 state stores means 4× fewer per-batch state
    // checkpoint files than the session's scan-sized default of 32. The
    // override lives on a CLONED session (own SQLConf, shared SparkContext),
    // so a concurrent query on the outer session can never observe it.
    val local = s.newSession()
    local.conf.set("spark.sql.shuffle.partitions", "8")
    val ev = Tables(local, dir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val t0 = lit("2024-01-10 00:00:00").cast("timestamp")
    val t1 = lit("2024-01-20 00:00:00").cast("timestamp")
    val t2 = lit("2024-01-28 00:00:00").cast("timestamp")
    val work = graft.Scratch.dir("graft-stream-sink")
    val src = work.resolve("drops")
    // repartition(1), not coalesce(1): each drop is one file (the same
    // single-file poll payload the reference's fetcher would hand over), but
    // the scan+filter still runs on all cores — coalesce(1) would pull the
    // whole upstream plan into a single task.
    ev.filter(col("ts") < t1).repartition(1).write.parquet(s"$src/d1")
    ev.filter(col("ts") >= t0 && col("ts") < t2).repartition(1).write.parquet(s"$src/d2")
    val sink = new ParquetTableSink(local, work.resolve("table").toString,
      ev.limit(0), Seq("event_id"), buckets = 8)
    val stream = local.readStream.schema(ev.schema).parquet(s"$src/*")
    startPersistentMergeSink(
      dedupByKey(stream, "ts", "10 minutes", Seq("event_id")),
      sink, work.resolve("ckpt").toString, Trigger.AvailableNow()
    ).awaitTermination()
    sink.current.orderBy(col("event_id").asc_nulls_first)
  }

  /** The reference's EXACT end-to-end shape, graded: the same two-drop
    * at-least-once stream as `stream_sink_table`, but drained through the
    * REAL JDBC boundary (`JdbcUpsertSink` — executor staging INSERTs + one
    * MERGE transaction per micro-batch, the psycopg2/`ON CONFLICT` path of
    * run.py/agency.py) and read back through Spark's JDBC SOURCE. ts stays
    * internal (watermark + Derby storage); the graded columns are the
    * deterministic payload. Derby reports names upper-case → re-alias.
    * The window is a WEEK of polls (vs the parquet sink's month): the graded
    * property is the protocol, and embedded Derby's per-row INSERT cost is
    * the poll-payload realism bound, not a plan property — a warehouse-grade
    * JDBC target bulk-loads the same staging frame.
    */
  private val streamJdbcTable: Q = (s, dir) => {
    // same cloned-session scoping as stream_sink_table (see note there)
    val local = s.newSession()
    local.conf.set("spark.sql.shuffle.partitions", "8")
    val ev = Tables(local, dir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val t0 = lit("2024-01-03 00:00:00").cast("timestamp")
    val t1 = lit("2024-01-05 00:00:00").cast("timestamp")
    val t2 = lit("2024-01-08 00:00:00").cast("timestamp")
    val work = graft.Scratch.dir("graft-stream-jdbc")
    val src = work.resolve("drops")
    ev.filter(col("ts") < t1).repartition(1).write.parquet(s"$src/d1")
    ev.filter(col("ts") >= t0 && col("ts") < t2).repartition(1).write.parquet(s"$src/d2")
    val url = s"jdbc:derby:$work/db;create=true"
    val sink = new JdbcUpsertSink(url, "events_stream", Seq("event_id"), ev.schema)
    val stream = local.readStream.schema(ev.schema).parquet(s"$src/*")
    startJdbcMergeSink(
      dedupByKey(stream, "ts", "10 minutes", Seq("event_id")),
      sink, work.resolve("ckpt").toString, Trigger.AvailableNow()
    ).awaitTermination()
    val cols = Seq("event_id", "user_id", "event_type", "value")
    local.read.format("jdbc")
      .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      .option("url", url).option("dbtable", "events_stream").load()
      .select(cols.map(c => col(c).as(c)): _*)
      .orderBy(col("event_id").asc_nulls_first)
  }

  /** CDC deletes through the REAL JDBC boundary, graded: the same change
    * batch as `sink_merge_delete` (upserts + tombstones incl. same-batch
    * delete-wins and absent-key no-ops), but applied to the Derby table via
    * `MERGE … WHEN MATCHED AND deleted THEN DELETE` and read back through
    * Spark's JDBC source. ts stays internal (Derby storage precision is not
    * a graded property — see stream_jdbc_table); the graded columns are the
    * deterministic payload.
    */
  private val jdbcMergeDelete: Q = (s, dir) => {
    val ev = Tables(s, dir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val t1 = lit("2024-01-10 00:00:00").cast("timestamp")
    val t2 = lit("2024-01-20 00:00:00").cast("timestamp")
    val work = graft.Scratch.dir("graft-jdbc-delete")
    val url = s"jdbc:derby:$work/db;create=true"
    val sink = new JdbcUpsertSink(url, "events_cdc", Seq("event_id"), ev.schema)
    sink.merge(ev.filter(col("ts") < t1), 0L)
    val ups = ev.filter(col("ts") >= t1 && col("ts") < t2)
      .withColumn(ParquetTableSink.DeleteCol, lit(false))
    val dels = ev.filter(col("user_id") % 10 === 3)
      .withColumn(ParquetTableSink.DeleteCol, lit(true))
    sink.merge(ups.unionByName(dels), 1L)
    val cols = Seq("event_id", "user_id", "event_type", "value")
    // partitioned read-back: the key range comes from the SOURCE's parquet
    // stats (one footer-only min/max agg — a superset of the table's range
    // is valid for JDBC range partitioning), so 16 executor connections
    // stream disjoint key slices instead of one connection pulling ~2M rows
    val bounds = ev.agg(min("event_id"), max("event_id")).head()
    val reader = s.read.format("jdbc")
      .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      .option("url", url).option("dbtable", "events_cdc")
    // min/max over ZERO rows are NULL — an empty source means an empty
    // table, so fall back to the unpartitioned read instead of NPEing on
    // getLong (one connection streaming zero rows is fine).
    val partitioned =
      if (bounds.isNullAt(0)) reader
      else reader
        .option("partitionColumn", "event_id")
        .option("lowerBound", bounds.getLong(0))
        .option("upperBound", bounds.getLong(1) + 1)
        .option("numPartitions", 16)
    partitioned.load()
      .select(cols.map(c => col(c).as(c)): _*)
      .orderBy(col("event_id").asc_nulls_first)
  }

  /** Time travel on the versioned table, graded: two merges advance the
    * sink to v1; the query returns the v0 SNAPSHOT (the state the table
    * held after the first commit) tagged beside the CURRENT state. The
    * oracle reproduces both from the raw events — if `snapshotAt` leaked
    * post-v0 rows (or `current` lost any), the hash breaks. `changesSince`
    * is bucket-granular (Spark-hash-defined) so it stays spec-tested;
    * snapshots are exact row sets, so they grade.
    */
  private val sinkTimeTravel: Q = (s, dir) => {
    val ev = Tables(s, dir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val t1 = lit("2024-01-10 00:00:00").cast("timestamp")
    val t2 = lit("2024-01-20 00:00:00").cast("timestamp")
    val work = graft.Scratch.dir("graft-time-travel")
    val sink = new ParquetTableSink(s, work.resolve("table").toString,
      ev.limit(0), Seq("event_id"), buckets = 8, retain = 4)
    sink.merge(ev.filter(col("ts") < t1), 0L)
    sink.merge(ev.filter(col("ts") >= t1 && col("ts") < t2), 1L)
    sink.snapshotAt(0).withColumn("snap", lit("v0"))
      .unionByName(sink.current.withColumn("snap", lit("cur")))
      .orderBy(col("snap").asc_nulls_first, col("event_id").asc_nulls_first)
  }

  /** VACUUM on the versioned table, graded: three merges advance the sink
    * to v2 under a generous retain window, then `vacuum(1)` expires all
    * history — and the CURRENT snapshot must be byte-identical to what the
    * three merges committed (the oracle rebuilds it from raw events). A
    * vacuum that deleted a data dir the live manifest still references
    * breaks the hash loudly here; the history-side effects (versions list
    * shrinks, expired `snapshotAt` fails, orphaned dirs leave the disk) are
    * pinned in PersistentSinkSpec where a row-set oracle can't see them.
    */
  private val sinkVacuum: Q = (s, dir) => {
    val ev = Tables(s, dir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val t1 = lit("2024-01-10 00:00:00").cast("timestamp")
    val t2 = lit("2024-01-20 00:00:00").cast("timestamp")
    val t3 = lit("2024-01-28 00:00:00").cast("timestamp")
    val work = graft.Scratch.dir("graft-vacuum")
    val sink = new ParquetTableSink(s, work.resolve("table").toString,
      ev.limit(0), Seq("event_id"), buckets = 8, retain = 4)
    sink.merge(ev.filter(col("ts") < t1), 0L)
    sink.merge(ev.filter(col("ts") >= t1 && col("ts") < t2), 1L)
    sink.merge(ev.filter(col("ts") >= t2 && col("ts") < t3), 2L)
    sink.vacuum(keep = 1)
    sink.current.orderBy(col("event_id").asc_nulls_first)
  }

  /** CDC apply on the versioned table, graded: v0 loads a month of events,
    * then ONE change batch upserts the next window and tombstones every row
    * of a user cohort — including keys inside the same batch's upserts
    * (delete wins) and keys never loaded (a no-op). The final table must
    * equal the set algebra the oracle states; a tombstone that leaked into
    * storage, a delete that missed a bucket, or an upsert the anti-join
    * swallowed all break the hash.
    */
  private val sinkMergeDelete: Q = (s, dir) => {
    val ev = Tables(s, dir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val t1 = lit("2024-01-10 00:00:00").cast("timestamp")
    val t2 = lit("2024-01-20 00:00:00").cast("timestamp")
    val work = graft.Scratch.dir("graft-merge-delete")
    val sink = new ParquetTableSink(s, work.resolve("table").toString,
      ev.limit(0), Seq("event_id"), buckets = 8)
    sink.merge(ev.filter(col("ts") < t1), 0L)
    val ups = ev.filter(col("ts") >= t1 && col("ts") < t2)
      .withColumn(ParquetTableSink.DeleteCol, lit(false))
    // tombstones span BOTH eras (v0 rows and same-batch upserts) plus a
    // window never loaded at all ([t2, ∞) keys — absent, so no-ops)
    val dels = ev.filter(col("user_id") % 10 === 3)
      .withColumn(ParquetTableSink.DeleteCol, lit(true))
    sink.merge(ups.unionByName(dels), 1L)
    sink.current.orderBy(col("event_id").asc_nulls_first)
  }

  /** Bucket-pruned point lookup on the versioned table, graded: load a
    * month of events, then fetch a sparse id set through `lookupKeys` —
    * the read lists only the buckets the probed keys hash to (O(1/B) of
    * the table), never a full scan (PersistentSinkSpec pins the pruning;
    * this grades the returned rows). Probes include ids past the loaded
    * window, so a lookup that ignored the table's actual contents (e.g.
    * echoed probe keys) breaks the hash.
    */
  private val sinkPointLookup: Q = (s, dir) => {
    val ev = Tables(s, dir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val t1 = lit("2024-01-20 00:00:00").cast("timestamp")
    val work = graft.Scratch.dir("graft-point-lookup")
    val sink = new ParquetTableSink(s, work.resolve("table").toString,
      ev.limit(0), Seq("event_id"), buckets = 8)
    sink.merge(ev.filter(col("ts") < t1), 0L)
    // a sparse probe set over ALL event ids: those loaded (hit) and not (miss)
    val probe = ev.filter(col("event_id") % 97 === 13).select("event_id")
    sink.lookupKeys(probe).orderBy(col("event_id").asc_nulls_first)
  }

  /** Zonemap-skipped RANGE scan on the versioned table, graded: a month of
    * events lands in a RANGE-routed layout — merge key (day, event_id),
    * bucket id `(dayofmonth(day)-1) div 4` (30 days → 8 buckets of ≤ 4
    * days, no wraparound), per-bucket ts min/max committed in the manifest
    * zonemap at merge time. The four-day probe window is then a PLAIN
    * `.filter` over `sink.table()` — the optimizer (plans.ZonemapRouteRule)
    * derives the 2-of-8 keep set from the predicate itself, no
    * `scanRange` route call in sight (ZonemapSpec pins the executed scan's
    * pruned file set and its correctness against an unpruned filter) — the
    * range-predicate complement of sink_point_lookup's key-hash pruning.
    * The window is deliberately NOT aligned to the 4-day bucket grid, so a
    * correct result needs both the zonemap keep-set and the residual
    * in-bucket filter; the oracle is the plain declarative range select.
    */
  private val sinkZonemapScan: Q = (s, dir) => {
    val ev = Tables(s, dir, "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), to_date(col("ts")).as("day"))
    val work = graft.Scratch.dir("graft-zonemap")
    val sink = new ParquetTableSink(s, work.resolve("table").toString,
      ev.limit(0), keys = Seq("day", "event_id"), buckets = 8,
      route = (dayofmonth(col("day")) - 1).divide(4).cast("int"),
      zonemapCols = Seq("ts"))
    // the full-month merge commits zones for all 8 buckets; the second
    // merge rewrites only the first two buckets (days < 9), so the probed
    // buckets' zonemap entries are CARRIED OVER, not recomputed — a stale
    // or dropped carry would visibly break the scan
    sink.merge(ev.filter(col("event_id") % 2 === 0), 0L)
    sink.merge(ev.filter(col("event_id") % 2 === 1 && dayofmonth(col("day")) < 9), 1L)
    sink.table()
      .filter(col("ts") >= lit("2024-01-10 00:00:00").cast("timestamp") &&
        col("ts") < lit("2024-01-14 00:00:00").cast("timestamp"))
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .orderBy(col("event_id").asc_nulls_first)
  }

  /** Zonemap JOIN routing (the DPP-analog), graded: a dim-filtered equi-join
    * where the dim side's surviving buckets bound the fact scan. The fact
    * table routes events into 8 four-day buckets with a `day` zonemap; the
    * day dimension routes by week with `day`+`week` zonemaps. Filtering the
    * dim to week 2 prunes it to one bucket, whose day zone [Jan 15, Jan 21]
    * then drops every fact bucket outside days 13–24 — ZonemapRouteRule's
    * Join case reads 3 of 8 fact buckets (pinned by ZonemapJoinSpec) with
    * zero Spark jobs spent deriving the bound. The residual join still
    * verifies row-wise, so kept false-positive days (13, 14, 22–24) filter
    * exactly like a scanRange over-read. */
  private val sinkZonemapJoin: Q = (s, dir) => {
    val ev = Tables(s, dir, "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), to_date(col("ts")).as("day"))
    val work = graft.Scratch.dir("graft-zonejoin")
    val fact = new ParquetTableSink(s, work.resolve("fact").toString,
      ev.limit(0), keys = Seq("day", "event_id"), buckets = 8,
      route = (dayofmonth(col("day")) - 1).divide(4).cast("int"),
      zonemapCols = Seq("day"))
    fact.merge(ev, 0L)
    val days = ev.select(col("day")).distinct()
      .withColumn("week", floor((dayofmonth(col("day")) - 1) / 7).cast("int"))
    val dim = new ParquetTableSink(s, work.resolve("dim").toString,
      days.limit(0), keys = Seq("day"), buckets = 5,
      route = col("week"), zonemapCols = Seq("day", "week"))
    dim.merge(days, 0L)
    fact.table()
      .join(dim.table().filter(col("week") === 2), Seq("day"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_events"),
        graft.Micro.dsumMicro(col("value")).as("sum_value"))
      .orderBy(col("day").asc_nulls_first)
  }

  /** The OUTER-join face of the zonemap DPP-analog: the fact side carries
    * the day-range filter (pruning its own buckets through the zonemap),
    * and the surviving fact buckets' day zones then prune the DIM side of
    * a fact-preserving LEFT OUTER join — sound because an outer join's
    * non-preserved side only contributes through matches, so dim buckets
    * provably outside the fact's key interval pad the same NULLs their
    * absence pads. The dim table is deliberately INCOMPLETE (weeks 0-1
    * only) so the outer join's NULL-extension lane is value-graded too. */
  private val sinkZonemapJoinOuter: Q = (s, dir) => {
    val ev = Tables(s, dir, "events")
      .select(col("event_id"), col("value"), to_date(col("ts")).as("day"))
    val work = graft.Scratch.dir("graft-zonejoin-outer")
    val fact = new ParquetTableSink(s, work.resolve("fact").toString,
      ev.limit(0), keys = Seq("day", "event_id"), buckets = 8,
      route = (dayofmonth(col("day")) - 1).divide(4).cast("int"),
      zonemapCols = Seq("day"))
    fact.merge(ev, 0L)
    val days = ev.select(col("day")).distinct()
      .filter(dayofmonth(col("day")) <= 14)
      .withColumn("week", floor((dayofmonth(col("day")) - 1) / 7).cast("int"))
    val dim = new ParquetTableSink(s, work.resolve("dim").toString,
      days.limit(0), keys = Seq("day"), buckets = 5,
      route = col("week"), zonemapCols = Seq("day", "week"))
    dim.merge(days, 0L)
    fact.table()
      .filter(col("day") >= lit("2024-01-10").cast("date") &&
        col("day") <= lit("2024-01-17").cast("date"))
      .join(dim.table(), Seq("day"), "left_outer")
      .groupBy(col("day"), col("week"))
      .agg(count(lit(1)).as("n_events"),
        graft.Micro.dsumMicro(col("value")).as("sum_value"))
      .orderBy(col("day").asc_nulls_first)
  }

  /** The streaming MATERIALIZED VIEW, graded: the same overlapping two-drop
    * at-least-once stream as `stream_sink_table`, but each micro-batch is
    * pre-aggregated to a per-(cohort, event_type) partial state and folded
    * into the versioned sink through `IncrementalAgg.mergeStates` as the
    * sink's combiner — groups ACCUMULATE across batches instead of
    * overwriting. Per batch the sink rewrites only the buckets whose groups
    * the delta touched: a 100 TB rollup refreshes in O(delta + touched
    * buckets). Deterministic under any micro-batch split because watermark
    * dedup delivers each event exactly once into some batch and the state
    * merge is associative over exact accumulators (long counts,
    * micro-unit DECIMAL(38,0) sums — graft.Micro, timestamp max). The oracle is the from-scratch
    * aggregate over the union window — the invariant of incremental view
    * maintenance.
    */
  private val streamRollupTable: Q = (s, dir) => {
    val local = s.newSession()
    local.conf.set("spark.sql.shuffle.partitions", "8")
    val ev = Tables(local, dir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val t0 = lit("2024-01-10 00:00:00").cast("timestamp")
    val t1 = lit("2024-01-20 00:00:00").cast("timestamp")
    val t2 = lit("2024-01-28 00:00:00").cast("timestamp")
    val work = graft.Scratch.dir("graft-stream-rollup")
    val src = work.resolve("drops")
    ev.filter(col("ts") < t1).repartition(1).write.parquet(s"$src/d1")
    ev.filter(col("ts") >= t0 && col("ts") < t2).repartition(1).write.parquet(s"$src/d2")

    def partial(df: DataFrame): DataFrame =
      df.groupBy((col("user_id") % 100).as("cohort"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          graft.Micro.microSum(col("value")).cast("decimal(38,0)").as("sum_value"),
          max(col("ts")).as("last_ts"))

    val viewKeys = Seq("cohort", "event_type")
    val combine: ParquetTableSink.Combiner = (target, staged) =>
      graft.operators.IncrementalAgg.mergeStates(target, staged, viewKeys,
        add = Seq("n_events", "sum_value"), maxCols = Seq("last_ts"))
        .select(col("cohort"), col("event_type"), col("n_events"),
          // decimal addition widens the type per merge; pin the declared one
          col("sum_value").cast("decimal(38,0)").as("sum_value"), col("last_ts"))

    val sink = new ParquetTableSink(local, work.resolve("table").toString,
      partial(ev).limit(0), viewKeys, buckets = 8, combine = combine)
    local.readStream.schema(ev.schema).parquet(s"$src/*")
      .transform(st => dedupByKey(st, "ts", "10 minutes", Seq("event_id")))
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", work.resolve("ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: Dataset[Row], id: Long) => sink.merge(partial(b), id) }
      .start()
      .awaitTermination()
    sink.current
      .select(col("cohort"), col("event_type"), col("n_events"),
        graft.Micro.fromMicro(col("sum_value")).as("sum_value"), col("last_ts"))
      .orderBy(col("cohort").asc_nulls_first, col("event_type").asc_nulls_first)
  }

  /** The distinct-count MATERIALIZED VIEW — the aggregate `IncrementalAgg`'s
    * additive partials cannot maintain (distinct doesn't decompose into
    * add/max), and the reason sketches exist: per micro-batch the view
    * stores an HLL SKETCH per group, merged by `hll_union_agg` in the sink
    * combiner. Two scale properties are graded at once:
    *
    *   - incremental maintenance: refresh cost is O(batch + touched
    *     groups × sketch size), never a re-scan of history — the ONLY way
    *     distinct counts stay maintainable at 100 TB;
    *   - value idempotence: inserting a user already in the sketch is a
    *     no-op, so the at-least-once overlap between the two drops flows
    *     UNDEDUPED into the view and still cannot inflate it (stronger than
    *     the batch-id replay guard, which only de-dupes whole batches).
    *
    * Graded output: the exact per-type distinct count (which the oracle
    * reproduces) plus a boolean asserting the sketch estimate landed within
    * HLL's documented tolerance — the approx_distinct grading recipe, so a
    * sketch gone wrong fails the hash.
    */
  private val streamDistinctMv: Q = (s, dir) => {
    val local = s.newSession()
    local.conf.set("spark.sql.shuffle.partitions", "8")
    val ev = Tables(local, dir, "events").select("event_id", "ts", "user_id", "event_type")
    val t0 = lit("2024-01-10 00:00:00").cast("timestamp")
    val t1 = lit("2024-01-20 00:00:00").cast("timestamp")
    val t2 = lit("2024-01-28 00:00:00").cast("timestamp")
    val work = graft.Scratch.dir("graft-stream-hll")
    val src = work.resolve("drops")
    ev.filter(col("ts") < t1).repartition(1).write.parquet(s"$src/d1")
    ev.filter(col("ts") >= t0 && col("ts") < t2).repartition(1).write.parquet(s"$src/d2")

    def partial(df: DataFrame): DataFrame =
      df.groupBy(col("event_type"))
        .agg(hll_sketch_agg(col("user_id")).as("sketch"))

    val combine: ParquetTableSink.Combiner = (target, staged) =>
      target.select(col("event_type"), col("sketch"))
        .unionByName(staged.select(col("event_type"), col("sketch")))
        .groupBy(col("event_type"))
        .agg(hll_union_agg(col("sketch")).as("sketch"))

    val sink = new ParquetTableSink(local, work.resolve("table").toString,
      partial(ev).limit(0), Seq("event_type"), buckets = 8, combine = combine)
    // deliberately NO dedupByKey: the overlap is absorbed by the sketch
    local.readStream.schema(ev.schema).parquet(s"$src/*")
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", work.resolve("ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: Dataset[Row], id: Long) => sink.merge(partial(b), id) }
      .start()
      .awaitTermination()
    val exact = Tables(local, dir, "events").filter(col("ts") < t2)
      .groupBy(col("event_type"))
      .agg(count_distinct(col("user_id")).as("n_exact"))
    sink.current
      .withColumn("est", hll_sketch_estimate(col("sketch")))
      .join(exact, Seq("event_type"))
      .select(col("event_type"), col("n_exact"),
        (abs(col("est") - col("n_exact")) <= col("n_exact") * 0.05).as("within_tol"))
      .orderBy(col("event_type").asc_nulls_first)
  }

  /** Mergeable QUANTILE materialized view, graded: per-event-type fixed-bin
    * value histograms maintained incrementally in the versioned sink — the
    * percentile companion to `stream_distinct_mv`'s HLL. Histogram counts
    * are mergeable (bin-wise SUM combiner) but NOT replay-absorbing the way
    * a sketch union is, so exactly-once is layered: watermark dedup whose
    * horizon covers the re-delivery window upstream (the overlapping drop
    * is dropped by state, not absorbed), the batch-id guard at the sink.
    * Estimator contract: with B equi-width bins over the DECLARED value
    * domain [0, QMAX), the first bin whose cumulative count reaches q·n
    * provably CONTAINS the discrete q-percentile (the ceil(q·n)-th order
    * statistic), so the bin-midpoint estimate is within width/2 of it —
    * graded as that deterministic tolerance boolean beside the exact
    * discrete percentile (the approx_distinct recipe). The INTERPOLATED
    * percentile carries no such bound on sparse data: it sits between two
    * order statistics that can be many bins apart.
    * At 100 TB the MV is O(types × B) rows however large the stream; the
    * read is one windowed cumsum over it.
    */
  private val streamQuantileMv: Q = (s, dir) => {
    val local = s.newSession()
    local.conf.set("spark.sql.shuffle.partitions", "8")
    val ev = Tables(local, dir, "events").select("event_id", "ts", "event_type", "value")
    val t0 = lit("2024-01-10 00:00:00").cast("timestamp")
    val t1 = lit("2024-01-20 00:00:00").cast("timestamp")
    val t2 = lit("2024-01-28 00:00:00").cast("timestamp")
    val Bins = 500
    val QMax = 500.0
    val width = QMax / Bins
    val work = graft.Scratch.dir("graft-stream-quant")
    val src = work.resolve("drops")
    ev.filter(col("ts") < t1).repartition(1).write.parquet(s"$src/d1")
    ev.filter(col("ts") >= t0 && col("ts") < t2).repartition(1).write.parquet(s"$src/d2")

    def partial(df: DataFrame): DataFrame =
      df.groupBy(col("event_type"),
          least(floor(col("value") / width), lit(Bins - 1)).cast("int").as("bin"))
        .agg(count(lit(1)).as("cnt"))

    val combine: ParquetTableSink.Combiner = (target, staged) =>
      target.select(col("event_type"), col("bin"), col("cnt"))
        .unionByName(staged.select(col("event_type"), col("bin"), col("cnt")))
        .groupBy(col("event_type"), col("bin"))
        .agg(sum(col("cnt")).as("cnt"))

    val sink = new ParquetTableSink(local, work.resolve("table").toString,
      partial(ev).limit(0), Seq("event_type", "bin"), buckets = 8, combine = combine)
    // the dedup rides the STREAMING frame (cross-batch state store), horizon
    // covering the whole re-delivery window: histogram counts need TRUE
    // exactly-once delivery — the overlapping drop must be dropped by
    // state, not absorbed (at scale: horizon = max re-delivery lag)
    dedupByKey(local.readStream.schema(ev.schema).parquet(s"$src/*"),
        "ts", "30 days", Seq("event_id"))
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", work.resolve("ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: Dataset[Row], id: Long) => sink.merge(partial(b.toDF()), id) }
      .start()
      .awaitTermination()

    // read: one cumsum window over the O(types × B) MV
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("bin")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wTot = org.apache.spark.sql.expressions.Window.partitionBy("event_type")
    val hist = sink.current
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("total", sum(col("cnt")).over(wTot))
    def estOf(q: Double) =
      min(when(col("cum") >= lit(q) * col("total"), col("bin"))) * width + width / 2
    val est = hist.groupBy("event_type")
      .agg(estOf(0.5).as("e50"), estOf(0.95).as("e95"))
    val exact = Tables(local, dir, "events").filter(col("ts") < t2)
      .groupBy("event_type")
      .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").as("p50"),
        expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY value)").as("p95"))
    est.join(exact, Seq("event_type"))
      .select(col("event_type"),
        round(col("p50"), 6).as("p50"), round(col("p95"), 6).as("p95"),
        (abs(col("e50") - col("p50")) <= width / 2).as("t50"),
        (abs(col("e95") - col("p95")) <= width / 2).as("t95"))
      .orderBy(col("event_type").asc_nulls_first)
  }

  /** Heavy-hitters materialized view, graded: per-event-type Misra-Gries
    * sketches maintained incrementally in the sink — the third mergeable-MV
    * family member beside the HLL distinct view and the histogram quantile
    * view. The combiner is the Agarwal et al. "Mergeable Summaries" MG
    * merge, stated declaratively: union both sketches' counters, sum per
    * item, subtract the (k+1)-th largest combined count from every item,
    * keep the positive top-k — which preserves the three MG guarantees the
    * read side gates on (any item with n·(k+1) > total is COVERED; the
    * sketch never overcounts; undercount ≤ total/(k+1)). Exactly-once rows
    * via the wide-horizon watermark dedup + batch guard (the quantile MV's
    * layering — counters are mergeable but not replay-absorbing). The MV
    * is O(types × k) rows at any stream size; each batch contributes one
    * partial-aggregated sketch row per type.
    */
  private val streamTopkMv: Q = (s, dir) => {
    val local = s.newSession()
    local.conf.set("spark.sql.shuffle.partitions", "8")
    val HHK = 16
    val ev = Tables(local, dir, "events").select("event_id", "ts", "event_type")
    val t0 = lit("2024-01-10 00:00:00").cast("timestamp")
    val t1 = lit("2024-01-20 00:00:00").cast("timestamp")
    val t2 = lit("2024-01-28 00:00:00").cast("timestamp")
    val work = graft.Scratch.dir("graft-stream-topk")
    val src = work.resolve("drops")
    ev.filter(col("ts") < t1).repartition(1).write.parquet(s"$src/d1")
    ev.filter(col("ts") >= t0 && col("ts") < t2).repartition(1).write.parquet(s"$src/d2")

    // the planted skew of agg_heavy_hitters: one hot key, one warm, a cold tail
    def keyed(df: DataFrame): DataFrame = df.select(col("event_type"),
      when((col("event_id") % 4).isin(0, 2), lit("hot"))
        .when(col("event_id") % 4 === 1, lit("warm"))
        .otherwise(concat(lit("cold"), col("event_id"))).as("k"))

    // the parquet all-nullable convention (the DedupIndex memberType
    // lesson): both the per-batch sketch (valueContainsNull=false from the
    // aggregate) and the combiner's rebuilt map cast to ONE nullable type,
    // because the sink's additive schema check compares inner nullability
    val mapT = org.apache.spark.sql.types.MapType(
      org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.LongType,
      valueContainsNull = true)
    def partial(df: DataFrame): DataFrame =
      keyed(df).groupBy("event_type")
        .agg(expr(s"graft_topk_freq(k, $HHK)").cast(mapT).as("sketch"))

    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy(col("cnt").desc, col("k").asc)
    val wType = org.apache.spark.sql.expressions.Window.partitionBy("event_type")
    val combine: ParquetTableSink.Combiner = (target, staged) =>
      target.select(col("event_type"), col("sketch"))
        .unionByName(staged.select(col("event_type"), col("sketch")))
        .select(col("event_type"), explode(col("sketch")).as(Seq("k", "cnt")))
        .groupBy(col("event_type"), col("k")).agg(sum(col("cnt")).as("cnt"))
        .withColumn("rn", row_number().over(wRank))
        .withColumn("sub", max(when(col("rn") === HHK + 1, col("cnt"))).over(wType))
        .withColumn("cnt2", col("cnt") - coalesce(col("sub"), lit(0L)))
        .filter(col("rn") <= HHK && col("cnt2") > 0)
        .groupBy("event_type")
        .agg(map_from_entries(collect_list(struct(col("k"), col("cnt2"))))
          .cast(mapT).as("sketch"))

    val sink = new ParquetTableSink(local, work.resolve("table").toString,
      partial(ev).limit(0), Seq("event_type"), buckets = 8, combine = combine)
    dedupByKey(local.readStream.schema(ev.schema).parquet(s"$src/*"),
        "ts", "30 days", Seq("event_id"))
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", work.resolve("ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: Dataset[Row], id: Long) => sink.merge(partial(b.toDF()), id) }
      .start()
      .awaitTermination()

    val window = keyed(ev.filter(col("ts") < t2))
    val exact = window.groupBy("event_type", "k").agg(count(lit(1)).as("n"))
    val tot = window.groupBy("event_type").agg(count(lit(1)).as("total"))
    val est = coalesce(element_at(col("sketch"), col("k")), lit(0L))
    exact.join(tot, Seq("event_type"))
      .filter(col("n") * (HHK + 1) > col("total"))
      .join(sink.current, Seq("event_type"))
      .select(col("event_type"), col("k").as("hot_key"), col("n"),
        map_contains_key(col("sketch"), col("k")).as("covered"),
        (est <= col("n")).as("no_overcount"),
        ((col("n") - est) * (HHK + 1) <= col("total")).as("bounded_err"))
      .orderBy(col("event_type").asc_nulls_first, col("hot_key").asc_nulls_first)
  }

  /** The REAL stream-stream join path, graded: clicks and purchases drain as
    * two independent file-source streams through a watermarked interval join
    * (purchase within one hour of a same-user click) into a file sink; the
    * query returns the COMMITTED join output. Deterministic because each
    * side is a single file → AvailableNow processes both sides' full data in
    * the first micro-batch, so no match can straddle a state-eviction
    * boundary — the output is exactly the batch inner join, which is the
    * oracle. Cross-batch matching and watermark eviction are the
    * StreamingSpec tests (they're arrival-order-dependent by nature, so they
    * assert semantics, not hashes).
    */
  private val streamStreamJoin: Q = (s, dir) => {
    // same cloned-session scoping as stream_sink_table (see note there)
    val local = s.newSession()
    local.conf.set("spark.sql.shuffle.partitions", "8")
    val ev = Tables(local, dir, "events")
    val work = graft.Scratch.dir("graft-stream-join")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("ts").as("click_ts"), col("user_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("ts").as("purchase_ts"),
        col("user_id").as("p_user"))
    clicks.repartition(1).write.parquet(s"$work/clicks")
    purchases.repartition(1).write.parquet(s"$work/purchases")
    val joined = streamIntervalJoin(
      local.readStream.schema(clicks.schema).parquet(s"$work/clicks"), "click_ts",
      local.readStream.schema(purchases.schema).parquet(s"$work/purchases"), "purchase_ts",
      horizon = "1 hour",
      equiKeys = col("user_id") === col("p_user"),
      timeRange = col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      .select("click_id", "purchase_id", "user_id", "click_ts", "purchase_ts")
    joined.writeStream.format("parquet")
      .option("path", s"$work/out")
      .option("checkpointLocation", s"$work/ckpt")
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination()
    local.read.parquet(s"$work/out")
      .orderBy(col("click_id").asc_nulls_first, col("purchase_id").asc_nulls_first)
  }

  /** Shallow clone, graded: two merges build the source table; `cloneTo`
    * forks it zero-copy (hard links — PersistentSinkSpec pins the shared
    * inodes); then the two sides DIVERGE — a third window merges into the
    * source only, a user cohort is deleted from the clone only. The query
    * returns both sides tagged; the oracle restates each side's set algebra
    * from raw events. Any copy-on-write isolation leak (clone delete
    * touching a shared file, source merge bleeding into the fork) breaks
    * the hash. The clone's delete commits at batchId 2 because the fork
    * CARRIES the source's replay guard (committed = 1).
    */
  private val sinkClone: Q = (s, dir) => {
    val ev = Tables(s, dir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val t1 = lit("2024-01-10 00:00:00").cast("timestamp")
    val t2 = lit("2024-01-20 00:00:00").cast("timestamp")
    val t3 = lit("2024-01-25 00:00:00").cast("timestamp")
    val work = graft.Scratch.dir("graft-sink-clone")
    val src = new ParquetTableSink(s, work.resolve("table").toString,
      ev.limit(0), Seq("event_id"), buckets = 8)
    src.merge(ev.filter(col("ts") < t1), 0L)
    src.merge(ev.filter(col("ts") >= t1 && col("ts") < t2), 1L)
    val fork = src.cloneTo(work.resolve("fork").toString)
    src.merge(ev.filter(col("ts") >= t2 && col("ts") < t3), 2L)
    fork.deleteKeys(ev.filter(col("user_id") % 10 === 3).select("event_id"), 2L)
    fork.current.withColumn("side", lit("clone"))
      .unionByName(src.current.withColumn("side", lit("src")))
      .orderBy(col("side").asc_nulls_first, col("event_id").asc_nulls_first)
  }

  /** Rebucketing, graded: the table outlives its bucket count (B is pinned
    * into the layout at first commit), so `rebucket` rewrites it once at the
    * new B — and the serving stream RESUMES against the new layout: a replay
    * of the last pre-rebucket batch is skipped by the carried guard, the
    * next batch applies. The final table must equal the full delivered
    * window; a rebucket that lost rows, double-applied the replayed batch,
    * or mis-hashed a bucket all break the hash.
    */
  private val sinkRebucket: Q = (s, dir) => {
    val ev = Tables(s, dir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val t1 = lit("2024-01-10 00:00:00").cast("timestamp")
    val t2 = lit("2024-01-20 00:00:00").cast("timestamp")
    val t3 = lit("2024-01-25 00:00:00").cast("timestamp")
    val work = graft.Scratch.dir("graft-sink-rebucket")
    val narrow = new ParquetTableSink(s, work.resolve("b4").toString,
      ev.limit(0), Seq("event_id"), buckets = 4)
    narrow.merge(ev.filter(col("ts") < t1), 0L)
    narrow.merge(ev.filter(col("ts") >= t1 && col("ts") < t2), 1L)
    val wide = narrow.rebucket(work.resolve("b16").toString, newBuckets = 16)
    // the stream resumes: batch 1 re-delivered (must no-op), batch 2 new
    wide.merge(ev.filter(col("ts") >= t1 && col("ts") < t2), 1L)
    wide.merge(ev.filter(col("ts") >= t2 && col("ts") < t3), 2L)
    wide.current.orderBy(col("event_id").asc_nulls_first)
  }

  /** Row-level change data feed, graded: v0 loads a window, one CDC batch
    * then updates a cohort (value shifted), inserts the next window, and
    * tombstones a user cohort — `changeFeed(0)` must classify every row
    * (insert / update with new values / delete with old values) and emit
    * NOTHING for keys rewritten with identical content (the co-bucketed
    * unchanged rows). The oracle restates the three sets from raw events;
    * a misclassified op, a leaked unchanged row, or delete-wins violated
    * in-batch all break the hash.
    */
  private val sinkChangeFeed: Q = (s, dir) => {
    val ev = Tables(s, dir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val t1 = lit("2024-01-10 00:00:00").cast("timestamp")
    val t2 = lit("2024-01-20 00:00:00").cast("timestamp")
    val work = graft.Scratch.dir("graft-change-feed")
    val sink = new ParquetTableSink(s, work.resolve("table").toString,
      ev.limit(0), Seq("event_id"), buckets = 8)
    sink.merge(ev.filter(col("ts") < t1), 0L)
    val updates = ev.filter(col("ts") < t1 && col("user_id") % 5 === 0)
      .withColumn("value", col("value") + 1000.0)
      .withColumn(ParquetTableSink.DeleteCol, lit(false))
    val inserts = ev.filter(col("ts") >= t1 && col("ts") < t2)
      .withColumn(ParquetTableSink.DeleteCol, lit(false))
    val dels = ev.filter(col("user_id") % 10 === 3)
      .withColumn(ParquetTableSink.DeleteCol, lit(true))
    sink.merge(updates.unionByName(inserts).unionByName(dels), 1L)
    sink.changeFeed(0L)
      .orderBy(col("_op").asc_nulls_first, col("event_id").asc_nulls_first)
  }

  /** Change-feed CONSUMPTION, graded: a downstream mirror table is
    * maintained PURELY from the upstream's row-level change feed — it never
    * reads upstream data files — and its final state must hash-equal
    * recomputing the upstream from raw events. The loop is the real CDC
    * consumer shape: upstream commits version v, the consumer calls
    * `changeFeed(lastSynced)` and merges the classified rows into the
    * mirror as a CDC batch (`_op == 'delete'` → the sink's `_deleted`
    * tombstone; insert/update carry new values → upsert), with the
    * upstream version as the mirror's batch id — so sync replay inherits
    * the sink's exactly-once guard (re-applied here and required to no-op).
    * Upstream version 0 is an EMPTY commit, so even the initial load
    * arrives through the feed. Cost per sync: O(churned upstream buckets)
    * read (the changeFeed pruning argument) + the mirror's own
    * bucket-pruned merge — never O(table) on either side.
    */
  private val cdfApply: Q = (s, dir) => {
    val ev = Tables(s, dir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val t1 = lit("2024-01-10 00:00:00").cast("timestamp")
    val t2 = lit("2024-01-20 00:00:00").cast("timestamp")
    val work = graft.Scratch.dir("graft-cdf-apply")
    val src = new ParquetTableSink(s, work.resolve("src").toString,
      ev.limit(0), Seq("event_id"), buckets = 8)
    val mirror = new ParquetTableSink(s, work.resolve("mirror").toString,
      ev.limit(0), Seq("event_id"), buckets = 8)
    def sync(sinceVersion: Long): Unit = mirror.merge(
      src.changeFeed(sinceVersion)
        .withColumn(ParquetTableSink.DeleteCol, col("_op") === "delete")
        .drop("_op"),
      sinceVersion + 1)
    src.merge(ev.limit(0), 0L)                     // v0: empty initial commit
    src.merge(ev.filter(col("ts") < t1), 1L)       // v1: initial load
    sync(0L)                                       // mirror catches up to v1
    src.merge(                                     // v2: one CDC batch
      ev.filter(col("ts") < t1 && col("user_id") % 5 === 0)
        .withColumn("value", col("value") + 1000.0)
        .withColumn(ParquetTableSink.DeleteCol, lit(false))
        .unionByName(ev.filter(col("ts") >= t1 && col("ts") < t2)
          .withColumn(ParquetTableSink.DeleteCol, lit(false)))
        .unionByName(ev.filter(col("user_id") % 10 === 3)
          .withColumn(ParquetTableSink.DeleteCol, lit(true))), 2L)
    sync(1L)                                       // mirror catches up to v2
    sync(1L)                                       // replayed sync must no-op
    mirror.current.orderBy(col("event_id").asc_nulls_first)
  }

  /** GRADED custom-state sessionization: a real file-source stream drains
    * through `sessionize` (flatMapGroupsWithState + event-time timeout) into
    * a parquet file sink, and the closed sessions are graded against the
    * declarative gaps-and-islands oracle. Three poll drops
    * (maxFilesPerTrigger=1 → three micro-batches, sessions straddle the
    * batch boundary through the state store); the third drop is a sentinel
    * key far in the future whose only job is to push the watermark past
    * every real session's timeout — AvailableNow then runs the trailing
    * no-data batch that fires the timeouts (the standard end-of-stream
    * flush for event-time state). The sentinel's own (never-closable)
    * session stays in state and is excluded from the read-back.
    */
  private val streamSessions: Q = (s, dir) => {
    // same cloned-session scoping as stream_sink_table (see note there)
    val local = s.newSession()
    local.conf.set("spark.sql.shuffle.partitions", "8")
    import local.implicits._
    val t0 = lit("2024-01-03 00:00:00").cast("timestamp")
    val tm = lit("2024-01-05 00:00:00").cast("timestamp")
    val t1 = lit("2024-01-07 00:00:00").cast("timestamp")
    val week = Tables(local, dir, "events")
      .select(col("user_id"), col("ts"))
      .filter(col("ts") >= t0 && col("ts") < t1)
    val work = graft.Scratch.dir("graft-stream-sessions")
    val src = work.resolve("drops")
    week.filter(col("ts") < tm).repartition(1).write.parquet(s"$src/d1")
    week.filter(col("ts") >= tm).repartition(1).write.parquet(s"$src/d2")
    Seq((-1L, java.sql.Timestamp.valueOf("2024-02-15 00:00:00")),
        (-1L, java.sql.Timestamp.valueOf("2024-02-16 00:00:00")))
      .toDF("user_id", "ts").repartition(1).write.parquet(s"$src/d3")
    // the file source orders batches by file mtime: pin strictly increasing
    // times so d1 < d2 < d3 is deterministic — two drops written within one
    // clock tick would otherwise race, and processing d2 first advances the
    // watermark past d1's events (nondeterministic late-drop)
    Seq("d1", "d2", "d3").zipWithIndex.foreach { case (d, i) =>
      val t = java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L)
      java.nio.file.Files.walk(src.resolve(d)).forEach(p =>
        java.nio.file.Files.setLastModifiedTime(p, t))
    }
    val stream = local.readStream.schema(week.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$src/*").as[SEvent]
    val out = work.resolve("sessions")
    sessionize(stream, gapMillis = 6L * 3600 * 1000, watermarkDelay = "10 minutes")
      .toDF()
      .writeStream.outputMode("append")
      .option("checkpointLocation", work.resolve("ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .format("parquet").option("path", out.toString)
      .start().awaitTermination()
    local.read.schema(org.apache.spark.sql.Encoders.product[Session].schema)
      .parquet(out.toString)
      .filter(col("user_id") >= 0)
      .select(col("user_id"), col("start").as("s_start"), col("end").as("s_end"),
        col("n_events"))
      .orderBy(col("user_id").asc_nulls_first, col("s_start").asc_nulls_first)
  }

  val queries: Map[String, Q] = Map(
    "stream_sessions" -> streamSessions,
    "sink_change_feed" -> sinkChangeFeed,
    "cdf_apply" -> cdfApply,
    "sink_clone" -> sinkClone,
    "sink_rebucket" -> sinkRebucket,
    "stream_stream_join" -> streamStreamJoin,
    "sink_merge_delete" -> sinkMergeDelete,
    "jdbc_merge_delete" -> jdbcMergeDelete,
    "sink_point_lookup" -> sinkPointLookup,
    "sink_zonemap_scan" -> sinkZonemapScan,
    "sink_zonemap_join" -> sinkZonemapJoin,
    "sink_zonemap_join_outer" -> sinkZonemapJoinOuter,
    "stream_rollup_table" -> streamRollupTable,
    "stream_distinct_mv" -> streamDistinctMv,
    "stream_quantile_mv" -> streamQuantileMv,
    "stream_topk_mv" -> streamTopkMv,
    "stream_dedup_replay" -> streamDedupReplay,
    "stream_offsets" -> streamOffsets,
    "stream_sink_table" -> streamSinkTable,
    "stream_jdbc_table" -> streamJdbcTable,
    "sink_time_travel" -> sinkTimeTravel,
    "sink_vacuum" -> sinkVacuum
  )

  val oracle: Map[String, String] = Map(
    // the MV's union of drops is ts < t2; the sketch's estimate is graded
    // as a tolerance boolean beside the exact count (approx_distinct recipe)
    "stream_distinct_mv" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_exact, TRUE AS within_tol
        |FROM events WHERE ts < TIMESTAMP '2024-01-28 00:00:00'
        |GROUP BY event_type
        |ORDER BY event_type ASC NULLS FIRST""".stripMargin,
    // the MG guarantees as gates: covered / no-overcount / bounded undercount
    "stream_topk_mv" ->
      """WITH keyed AS (
        |  SELECT event_type,
        |    CASE WHEN event_id % 4 IN (0, 2) THEN 'hot'
        |         WHEN event_id % 4 = 1 THEN 'warm'
        |         ELSE 'cold' || event_id END AS k
        |  FROM events WHERE ts < TIMESTAMP '2024-01-28 00:00:00'),
        |exact AS (SELECT event_type, k, count(*) AS n FROM keyed GROUP BY 1, 2),
        |tot AS (SELECT event_type, count(*) AS total FROM keyed GROUP BY 1)
        |SELECT event_type, k AS hot_key, n,
        |  true AS covered, true AS no_overcount, true AS bounded_err
        |FROM exact JOIN tot USING (event_type)
        |WHERE n * 17 > total
        |ORDER BY event_type ASC NULLS FIRST, hot_key ASC NULLS FIRST""".stripMargin,
    // the histogram MV's estimates are graded as deterministic half-bin-width
    // tolerance booleans beside the exact DISCRETE percentiles (the chosen
    // bin provably contains the order statistic; interpolation has no such
    // bound on sparse data)
    "stream_quantile_mv" ->
      """SELECT event_type,
        |  round(quantile_disc(value, 0.5), 6) AS p50,
        |  round(quantile_disc(value, 0.95), 6) AS p95,
        |  TRUE AS t50, TRUE AS t95
        |FROM events WHERE ts < TIMESTAMP '2024-01-28 00:00:00'
        |GROUP BY event_type
        |ORDER BY event_type ASC NULLS FIRST""".stripMargin,
    // the declarative form of the stateful sessionizer: gaps-and-islands
    // with the same 6-hour gap (continue iff ts - prev <= gap, same <=)
    "stream_sessions" ->
      """WITH e AS (
        |  SELECT user_id, ts FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-03 00:00:00'
        |    AND ts <  TIMESTAMP '2024-01-07 00:00:00'),
        |x AS (
        |  SELECT user_id, ts,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC)
        |              <= INTERVAL 6 HOUR THEN 0 ELSE 1 END AS brk
        |  FROM e),
        |g AS (
        |  SELECT user_id, ts,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM x)
        |SELECT user_id, min(ts) AS s_start, max(ts) AS s_end, count(*) AS n_events
        |FROM g GROUP BY user_id, sid
        |ORDER BY user_id ASC NULLS FIRST, s_start ASC NULLS FIRST""".stripMargin,
    // Re-delivered rows are exact copies, so dedup on the key restores the
    // original table — the oracle is simply the single-delivery scan.
    "stream_dedup_replay" ->
      """SELECT event_id, ts, user_id, event_type, value, props
        |FROM events ORDER BY event_id ASC NULLS FIRST""".stripMargin,
    "stream_offsets" ->
      """SELECT user_id % 8 AS route, max(ts) AS last_time, count(*) AS n_events
        |FROM events GROUP BY 1 ORDER BY route ASC NULLS FIRST""".stripMargin,
    // the two drops cover ts < t1 and [t0, t2) with t0 < t1 < t2: their
    // distinct union is simply ts < t2
    "stream_sink_table" ->
      """SELECT event_id, ts, user_id, event_type, value
        |FROM events WHERE ts < TIMESTAMP '2024-01-28 00:00:00'
        |ORDER BY event_id ASC NULLS FIRST""".stripMargin,
    // same distinct-union argument as stream_sink_table; ts is the dedup/
    // storage column, not a graded output
    "stream_jdbc_table" ->
      """SELECT event_id, user_id, event_type, value
        |FROM events WHERE ts < TIMESTAMP '2024-01-08 00:00:00'
        |ORDER BY event_id ASC NULLS FIRST""".stripMargin,
    // incremental view maintenance invariant: the maintained table must be
    // indistinguishable from the from-scratch aggregate over everything
    // delivered (the two drops' union = ts < t2)
    "stream_rollup_table" ->
      """SELECT user_id % 100 AS cohort, event_type, count(*) AS n_events,
        |  CAST(sum(CAST(floor((value) * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sum_value,
        |  max(ts) AS last_ts
        |FROM events WHERE ts < TIMESTAMP '2024-01-28 00:00:00'
        |GROUP BY 1, 2
        |ORDER BY cohort ASC NULLS FIRST, event_type ASC NULLS FIRST""".stripMargin,
    // same change algebra as sink_merge_delete, minus the internal ts column
    "jdbc_merge_delete" ->
      """SELECT event_id, user_id, event_type, value
        |FROM events
        |WHERE ts < TIMESTAMP '2024-01-20 00:00:00' AND user_id % 10 <> 3
        |ORDER BY event_id ASC NULLS FIRST""".stripMargin,
    // table = even ids (whole month) ∪ odd ids (days < 9); the scanned
    // window [Jan 10, Jan 14) therefore holds only even ids — the zonemap
    // keep-set and residual filter must reproduce exactly the declarative
    // range select
    "sink_zonemap_scan" ->
      """SELECT event_id, ts, user_id, event_type, value
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-14 00:00:00'
        |  AND event_id % 2 = 0
        |ORDER BY event_id ASC NULLS FIRST""".stripMargin,
    // the join-routed fact scan must reproduce the declarative dim-filtered
    // join exactly — week 2 is days 15..21 of January
    "sink_zonemap_join" ->
      """WITH ev AS (
        |  SELECT event_id, value, CAST(ts AS DATE) AS day FROM events),
        |dim AS (
        |  SELECT DISTINCT day,
        |    CAST(floor((day(day) - 1) / 7) AS INT) AS week
        |  FROM ev)
        |SELECT ev.day, count(*) AS n_events,
        |  CAST(sum(CAST(floor((ev.value) * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sum_value
        |FROM ev JOIN dim ON ev.day = dim.day
        |WHERE dim.week = 2
        |GROUP BY ev.day
        |ORDER BY ev.day ASC NULLS FIRST""".stripMargin,
    // the outer-routed scan: dim is weeks 0-1 only, so days 15-17 of the
    // fact window NULL-extend; the dim prune must not eat day-8..14 matches
    "sink_zonemap_join_outer" ->
      """WITH ev AS (
        |  SELECT event_id, value, CAST(ts AS DATE) AS day FROM events),
        |dim AS (
        |  SELECT DISTINCT day,
        |    CAST(floor((day(day) - 1) / 7) AS INT) AS week
        |  FROM ev WHERE day(day) <= 14)
        |SELECT ev.day, dim.week, count(*) AS n_events,
        |  CAST(sum(CAST(floor((ev.value) * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sum_value
        |FROM ev LEFT JOIN dim ON ev.day = dim.day
        |WHERE ev.day >= DATE '2024-01-10' AND ev.day <= DATE '2024-01-17'
        |GROUP BY ev.day, dim.week
        |ORDER BY ev.day ASC NULLS FIRST""".stripMargin,
    // lookup hits = loaded window ∩ probe ids; probes past the window miss
    "sink_point_lookup" ->
      """SELECT event_id, ts, user_id, event_type, value
        |FROM events
        |WHERE ts < TIMESTAMP '2024-01-20 00:00:00' AND event_id % 97 = 13
        |ORDER BY event_id ASC NULLS FIRST""".stripMargin,
    // loaded = ts < t2 (v0 ∪ upserts); deleted = user_id % 10 = 3 (absent
    // keys no-op, so the extra tombstones past t2 don't change the algebra)
    "sink_merge_delete" ->
      """SELECT event_id, ts, user_id, event_type, value
        |FROM events
        |WHERE ts < TIMESTAMP '2024-01-20 00:00:00' AND user_id % 10 <> 3
        |ORDER BY event_id ASC NULLS FIRST""".stripMargin,
    // single-batch AvailableNow drain ⇒ the committed file-sink output is
    // exactly the batch inner interval join
    "stream_stream_join" ->
      """SELECT a.event_id AS click_id, b.event_id AS purchase_id, a.user_id,
        |  a.ts AS click_ts, b.ts AS purchase_ts
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
        |WHERE a.event_type = 'click' AND b.event_type = 'purchase'
        |ORDER BY click_id ASC NULLS FIRST, purchase_id ASC NULLS FIRST""".stripMargin,
    // deletes carry OLD values (the retracted state); updates carry the
    // shifted value; inserts exclude keys tombstoned in the same batch
    // (delete wins); %10=3 and %5=0 cohorts are disjoint (3 mod 5 != 0)
    "sink_change_feed" ->
      """SELECT 'delete' AS _op, event_id, ts, user_id, event_type, value
        |FROM events WHERE ts < TIMESTAMP '2024-01-10 00:00:00' AND user_id % 10 = 3
        |UNION ALL
        |SELECT 'insert', event_id, ts, user_id, event_type, value
        |FROM events WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-20 00:00:00' AND user_id % 10 <> 3
        |UNION ALL
        |SELECT 'update', event_id, ts, user_id, event_type, value + 1000.0
        |FROM events WHERE ts < TIMESTAMP '2024-01-10 00:00:00' AND user_id % 5 = 0
        |ORDER BY _op ASC NULLS FIRST, event_id ASC NULLS FIRST""".stripMargin,
    // the mirror's final state = replaying the upstream's two commits
    // declaratively: initial window with the update applied, minus the
    // deleted cohort, plus the inserted window (delete-wins in-batch; the
    // %5=0 and %10=3 cohorts are disjoint)
    "cdf_apply" ->
      """SELECT event_id, ts, user_id, event_type,
        |  CASE WHEN user_id % 5 = 0 THEN value + 1000.0 ELSE value END AS value
        |FROM events
        |WHERE ts < TIMESTAMP '2024-01-10 00:00:00' AND user_id % 10 <> 3
        |UNION ALL
        |SELECT event_id, ts, user_id, event_type, value
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-20 00:00:00' AND user_id % 10 <> 3
        |ORDER BY event_id ASC NULLS FIRST""".stripMargin,
    // clone side = fork at t2 minus the deleted cohort; src side = all three
    // windows (the fork's delete never reaches it)
    "sink_clone" ->
      """SELECT 'clone' AS side, event_id, ts, user_id, event_type, value
        |FROM events
        |WHERE ts < TIMESTAMP '2024-01-20 00:00:00' AND user_id % 10 <> 3
        |UNION ALL
        |SELECT 'src' AS side, event_id, ts, user_id, event_type, value
        |FROM events WHERE ts < TIMESTAMP '2024-01-25 00:00:00'
        |ORDER BY side ASC NULLS FIRST, event_id ASC NULLS FIRST""".stripMargin,
    // delivered = ts < t3, with the replayed [t1, t2) batch applied once
    "sink_rebucket" ->
      """SELECT event_id, ts, user_id, event_type, value
        |FROM events WHERE ts < TIMESTAMP '2024-01-25 00:00:00'
        |ORDER BY event_id ASC NULLS FIRST""".stripMargin,
    // v0 snapshot = first merge's rows (ts < t1); current = both merges
    "sink_time_travel" ->
      """SELECT 'v0' AS snap, event_id, ts, user_id, event_type, value
        |FROM events WHERE ts < TIMESTAMP '2024-01-10 00:00:00'
        |UNION ALL
        |SELECT 'cur' AS snap, event_id, ts, user_id, event_type, value
        |FROM events WHERE ts < TIMESTAMP '2024-01-20 00:00:00'
        |ORDER BY snap ASC NULLS FIRST, event_id ASC NULLS FIRST""".stripMargin,
    // the vacuumed table's CURRENT snapshot = the three merged windows
    "sink_vacuum" ->
      """SELECT event_id, ts, user_id, event_type, value
        |FROM events WHERE ts < TIMESTAMP '2024-01-28 00:00:00'
        |ORDER BY event_id ASC NULLS FIRST""".stripMargin
  )
}
