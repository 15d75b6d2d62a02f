package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.time.LocalDate
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.{GraftApp, SparkTestBase, Tables}

/** The assembled system (reference `run.py:50-121`) driven end-to-end over
  * two simulated days: startup snapshot, FK-ordered daily dimension
  * refreshes, fact polls accumulating exactly-once across a mid-day kill,
  * and per-batch dimension visibility (ST6).
  */
class GraftMainSpec extends SparkTestBase {

  System.setProperty("derby.stream.error.file", "/tmp/derby.log")

  private val sf = "/root/testdata/sf0.001"

  private def events = Tables(spark, sf, "events")
    .select("event_id", "ts", "user_id", "value")

  test("two simulated days: dims refresh twice in FK order; facts land exactly-once across a mid-day kill") {
    val work = Files.createTempDirectory("graft-app").toString
    val incoming = s"$work/incoming"
    var today = LocalDate.of(2024, 3, 1)
    val app = new GraftApp(spark, sf, incoming, s"$work/state", () => today)

    def drop(name: String, pred: org.apache.spark.sql.Column): Unit =
      events.filter(pred).write.parquet(s"$incoming/$name")

    // ---- day 1 ----
    app.tick() // startup tick = initial snapshot (run.py:84-96)
    assert(app.refreshLog.map(_._2) == Seq("region", "nation", "customer"),
      "startup must run the full dimension chain in FK order")
    assert(app.customerSink.current.count() ==
      Tables(spark, sf, "customer").count())

    drop("d1", col("event_id") < 400)
    app.tick() // poll
    assert(app.factTable.count() == 400)

    // mid-day kill: the next poll dies inside foreachBatch before the fact
    // merge; withRetries must restart it from the checkpoint and the
    // re-delivered drop (overlapping d1) must still land exactly-once.
    val injected = new AtomicBoolean(false)
    app.preMergeHook = _ =>
      if (injected.compareAndSet(false, true))
        throw new RuntimeException("injected mid-day kill")
    drop("d2", col("event_id") >= 300 && col("event_id") < 700) // overlaps d1
    app.tick() // poll: attempt 1 dies, attempt 2 lands
    assert(injected.get, "the kill must actually have fired")
    app.preMergeHook = _ => ()
    assert(app.factTable.count() == 700,
      "overlapping re-delivery + kill/retry must still produce exactly-once facts")

    // ---- day 2 ----
    today = today.plusDays(1)
    app.tick() // rollover tick: refresh chain again, no poll
    assert(app.refreshLog.map(_._2) ==
      Seq("region", "nation", "customer", "region", "nation", "customer"),
      "each date change must re-run the whole chain in FK order")
    assert(app.refreshLog.map(_._1).distinct ==
      Seq(LocalDate.of(2024, 3, 1), LocalDate.of(2024, 3, 2)))

    drop("d3", col("event_id") >= 700 && col("event_id") < 900)
    app.tick() // poll on day 2
    assert(app.factTable.count() == 900)

    // enrichment correctness: every fact row carries the dim attribute the
    // customer table resolves for its user_id (left join: unmatched stay null)
    val session = spark
    import session.implicits._
    val got = app.factTable
      .select(col("EVENT_ID").cast("long"), col("C_MKTSEGMENT"))
      .as[(Long, String)].collect().toMap
    val expected = events.filter(col("event_id") < 900)
      .join(Tables(spark, sf, "customer")
        .select(col("c_custkey"), col("c_mktsegment")),
        col("user_id") === col("c_custkey"), "left")
      .select(col("event_id"), col("c_mktsegment"))
      .as[(Long, String)].collect().toMap
    assert(got.size == 900 && got == expected,
      "fact rows must carry the dimension attribute resolved per batch")

    // an event whose user_id matches no customer: the LEFT-join enrichment
    // yields NULL c_mktsegment, which must cross the JDBC boundary (typed
    // setNull) instead of crashing the poll — the ADVICE r6 data-dependent
    // crash, now exercised end-to-end. Its ts must sit past the persisted
    // watermark (which has advanced across the previous polls) or the
    // dedup drops it as late.
    events.orderBy(col("ts").desc).limit(1)
      .select(lit(990L).as("event_id"),
        (col("ts") + expr("INTERVAL 1 HOUR")).as("ts"),
        lit(999999999L).as("user_id"), lit(1.5).as("value"))
      .write.parquet(s"$incoming/d4")
    app.tick()
    assert(app.factTable.count() == 901)
    assert(app.factTable.filter(col("C_MKTSEGMENT").isNull)
      .select(col("EVENT_ID")).first().getLong(0) == 990L,
      "the unmatched event must land with a NULL dimension attribute")
  }

  /** A fresh app on day 1 with its startup snapshot done, and its work dir:
    * drops land in `work/incoming`, the poll checkpoint is `work/state/ckpt`. */
  private def startedApp(): (GraftApp, String) = {
    val work = Files.createTempDirectory("graft-app-poll").toString
    val app = new GraftApp(spark, sf, s"$work/incoming", s"$work/state",
      () => LocalDate.of(2024, 3, 1))
    app.tick() // startup snapshot: no poll
    (app, work)
  }

  private def drop(work: String, name: String, pred: org.apache.spark.sql.Column): Unit =
    events.filter(pred).write.parquet(s"$work/incoming/$name")

  /** Batch ids present in one of the poll checkpoint's logs (`offsets`, `commits`). */
  private def logIds(work: String, log: String): Seq[Long] =
    Option(new java.io.File(s"$work/state/ckpt/$log").listFiles).toSeq.flatten
      .map(_.getName).filter(n => n.nonEmpty && n.forall(_.isDigit))
      .map(_.toLong).sorted

  /** A numeric field of one checkpoint log entry's JSON metadata. */
  private def logField(work: String, log: String, id: Long, field: String): Long = {
    val text = new String(Files.readAllBytes(Paths.get(s"$work/state/ckpt/$log/$id")), UTF_8)
    s""""$field":(-?\\d+)""".r.findFirstMatchIn(text)
      .getOrElse(sys.error(s"$log/$id has no $field: $text")).group(1).toLong
  }

  test("a poll tick is one micro-batch; the next tick starts at the watermark the last one committed") {
    val (app, work) = startedApp()

    drop(work, "d1", col("event_id") < 400)
    app.tick()
    assert(logIds(work, "commits") == Seq(0L),
      "a tick over a fresh drop must commit exactly one batch (no trailing no-data batch)")
    val wm0 = logField(work, "commits", 0, "nextBatchWatermarkMs")
    assert(wm0 > 0L, "the data batch must advance the watermark it commits")

    drop(work, "d2", col("event_id") >= 300 && col("event_id") < 700)
    app.tick()
    assert(logIds(work, "commits") == Seq(0L, 1L))
    assert(logIds(work, "offsets") == Seq(0L, 1L))
    assert(logField(work, "offsets", 1, "batchWatermarkMs") == wm0,
      "the next tick's batch must run at the watermark the previous tick committed")
    assert(logField(work, "commits", 1, "nextBatchWatermarkMs") >= wm0)
    assert(app.factTable.count() == 700)

    app.tick() // nothing new landed: no batch at all
    assert(logIds(work, "commits") == Seq(0L, 1L))
  }

  test("late rows still drop: a new event behind the committed watermark stays out of the fact table") {
    val (app, work) = startedApp()
    drop(work, "d1", col("event_id") < 400)
    app.tick()
    val wm = logField(work, "commits", 0, "nextBatchWatermarkMs")

    // two event ids no drop has carried: one a minute behind the watermark
    // the previous tick committed, one an hour ahead of it
    val session = spark
    import session.implicits._
    Seq((1000001L, new Timestamp(wm - 60000L), 1L, 1.0),
      (1000002L, new Timestamp(wm + 3600000L), 1L, 2.0))
      .toDF("event_id", "ts", "user_id", "value")
      .write.parquet(s"$work/incoming/late")
    app.tick()

    val ids = app.factTable.select(col("EVENT_ID").cast("long")).as[Long].collect().toSet
    assert(ids.contains(1000002L), "the on-time row must land")
    assert(!ids.contains(1000001L), "the row behind the committed watermark must be dropped as late")
    assert(ids.size == 401)
  }

  test("the no-data switch is scoped to the poll query, through a kill/retry tick too") {
    val key = StreamingOps.NoDataBatchesConf
    def setting = spark.conf.getAll.get(key)
    val before = setting
    val (app, work) = startedApp()

    drop(work, "d1", col("event_id") < 400)
    app.tick()
    assert(setting == before, "a plain poll tick must leave the session setting as it was")

    val injected = new AtomicBoolean(false)
    app.preMergeHook = _ =>
      if (injected.compareAndSet(false, true))
        throw new RuntimeException("injected mid-day kill")
    drop(work, "d2", col("event_id") >= 300 && col("event_id") < 700)
    app.tick() // attempt 1 dies inside the batch, attempt 2 lands
    assert(injected.get, "the kill must actually have fired")
    assert(app.factTable.count() == 700)
    assert(setting == before, "a killed and retried poll must leave the session setting as it was")

    // a stream lane started next on the same session still gets its no-data
    // batches: an append-mode window aggregate emits a closed window only
    // in the watermark-only batch after the data that closes it
    val session = spark
    import session.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = session.sqlContext
    val in = MemoryStream[(Long, Timestamp)]
    val q = in.toDF().toDF("id", "ts")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes")).count()
      .writeStream.format("memory").queryName("poll_scope_windows").outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("graft-poll-scope").toString)
      .trigger(Trigger.ProcessingTime("0 seconds"))
      .start()
    try {
      in.addData((1L, Timestamp.valueOf("2024-01-01 10:00:00")))
      q.processAllAvailable()
      in.addData((2L, Timestamp.valueOf("2024-01-01 11:00:00")))
      q.processAllAvailable()
      assert(spark.table("poll_scope_windows").count() == 1,
        "the 10:00 window closes only through a no-data batch")
    } finally q.stop()
  }

  test("-z: the rollover boundary is the user zone's midnight, not UTC's") {
    val work = Files.createTempDirectory("graft-app-tz").toString
    // UTC-8 in winter: UTC midnight falls mid-afternoon Pacific
    val zone = java.time.ZoneId.of("America/Los_Angeles")
    var utcNow = java.time.Instant.parse("2024-02-29T23:00:00Z") // LA: Feb 29, 15:00
    val app = new GraftApp(spark, sf, s"$work/incoming", s"$work/state",
      graft.GraftMain.zonedClock(() => utcNow, zone))

    app.tick() // startup refresh, dated Feb 29 in LA
    assert(app.refreshLog.map(_._1).distinct == Seq(LocalDate.of(2024, 2, 29)))

    // cross UTC midnight but NOT LA midnight: still the same LA day, so the
    // tick must POLL, not refresh (run.py:104 uses the user zone's date)
    utcNow = java.time.Instant.parse("2024-03-01T01:00:00Z") // LA: Feb 29, 17:00
    app.tick()
    assert(app.refreshLog.size == 3, "no refresh while the LA date is unchanged")

    // cross LA midnight: now the chain re-runs, dated Mar 1
    utcNow = java.time.Instant.parse("2024-03-01T09:00:00Z") // LA: Mar 1, 01:00
    app.tick()
    assert(app.refreshLog.map(_._1).distinct ==
      Seq(LocalDate.of(2024, 2, 29), LocalDate.of(2024, 3, 1)),
      "the LA midnight crossing must trigger the refresh chain")
  }

  test("getopts: '-flag value' pairs parse anywhere; bare args stay positional") {
    val (opts, pos) = graft.GraftMain.parseArgs(
      Array("/data/sf1", "-z", "America/Los_Angeles", "/tmp/w", "-r", "2.5"))
    assert(opts == Map("-z" -> "America/Los_Angeles", "-r" -> "2.5"))
    assert(pos == Seq("/data/sf1", "/tmp/w"))
  }
}
