package graft

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.streaming.{DailyRollover, JdbcUpsertSink, ParquetTableSink, StreamingOps}

/** The assembled system — the reference's one CLI main (`run.py:50-121`)
  * re-expressed over the library's proven parts:
  *
  *   - connect (`run.py:56-60`, `connect.py:8-14`)  → a Derby-backed
  *     [[graft.streaming.JdbcUpsertSink]] for the fact table plus versioned
  *     [[graft.streaming.ParquetTableSink]]s for the dimensions;
  *   - initial snapshot (`run.py:84-96`)            → the first scheduler
  *     tick runs the full dimension chain (DailyRollover counts startup as
  *     a date change);
  *   - daily loop (`run.py:98-113`)                 → DailyRollover re-runs
  *     the chain IN FK ORDER on every date change: region → nation →
  *     customer (children resolve parents, order is load-bearing — the
  *     agencies → routes → services → stops analogue);
  *   - poll loop + retry (`run.py:114-121`)         → each poll drains the
  *     incoming file-source stream (AvailableNow ≙ one poll pass) through
  *     watermark dedup, enriches per micro-batch against the CURRENT
  *     committed dimension version (ST6 — foreachBatch re-resolves the dim
  *     sink, so a mid-day refresh is picked up automatically), and merges
  *     into the JDBC fact table under `withRetries`.
  *
  * A poll tick over a fresh drop is ONE micro-batch. The drain runs without
  * the watermark-only "no-data" batch Spark would otherwise add after it
  * (`StreamingOps.startWithoutNoDataBatches`, scoped to this query): the
  * dedup emits nothing on eviction, and the watermark the batch advances is
  * already in the checkpoint's commit log (`commits/<n>` →
  * `nextBatchWatermarkMs`), which the next tick's restart restores before
  * its batch. Spark's late-row filter would still lag one tick (it reads the
  * previous batch's offset entry), so the poll filters at that committed
  * watermark itself (`StreamingOps.dropBehindCommittedWatermark`): late
  * rows drop exactly as before. Expired dedup state is evicted one tick
  * later; its keys carry `ts` at or behind the watermark, so it can never
  * match a row that passed the late filter.
  *
  * Exactly-once across a mid-day kill follows from the composition already
  * proven piecewise: checkpointed offsets (re-entry skips committed
  * batches), the JDBC sink's transactional merge + batch-id guard, and the
  * idempotent upsert for the at-least-once edge.
  *
  * The clock is injected: tests (GraftMainSpec) drive simulated days
  * deterministically; the runnable `GraftMain` below drives two days of the
  * testdata feed the same way a human would smoke-test the reference.
  */
final class GraftApp(spark: SparkSession, sfDir: String, incomingDir: String,
                     workDir: String, clock: () => LocalDate,
                     maxAttempts: Int = 3) {

  // the poll stream globs incomingDir/* — the dir must exist before the
  // first drop lands
  java.nio.file.Files.createDirectories(java.nio.file.Paths.get(incomingDir))

  private def dimZero(table: String) = Tables(spark, sfDir, table).limit(0)

  // FK-ordered dimension targets (region ← nation ← customer)
  val regionSink = new ParquetTableSink(spark, s"$workDir/dims/region",
    dimZero("region"), Seq("r_regionkey"), buckets = 4)
  val nationSink = new ParquetTableSink(spark, s"$workDir/dims/nation",
    dimZero("nation"), Seq("n_nationkey"), buckets = 4)
  val customerSink = new ParquetTableSink(spark, s"$workDir/dims/customer",
    dimZero("customer"), Seq("c_custkey"), buckets = 8)

  /** Fact-table schema: deduped event + the dimension attribute resolved at
    * merge time (the vehicle_locations shape, sql/create_tables.sql:116-125). */
  val factSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("value", DoubleType),
    StructField("c_mktsegment", StringType)))

  val factSink = new JdbcUpsertSink(s"jdbc:derby:$workDir/db;create=true",
    "fact_events", Seq("event_id"), factSchema)

  /** Test seam: runs inside foreachBatch just before the fact merge, so a
    * spec can kill the pipeline mid-batch and watch the retry land
    * exactly-once. */
  @volatile var preMergeHook: Long => Unit = _ => ()

  /** One dimension refresh: re-snapshot the source table (the reference's
    * config re-parse) and upsert it. The batch id is the day number, so a
    * same-day re-run after a crash skips steps that already committed. */
  private def refreshDim(sink: ParquetTableSink, table: String): Unit =
    sink.merge(Tables(spark, sfDir, table), clock().toEpochDay)

  private val refreshChain: Seq[(String, () => Unit)] = Seq(
    "region" -> (() => refreshDim(regionSink, "region")),
    "nation" -> (() => refreshDim(nationSink, "nation")),
    "customer" -> (() => refreshDim(customerSink, "customer")))

  private val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("value", DoubleType)))

  private val checkpoint = s"$workDir/ckpt"

  /** One poll pass: drain whatever landed in the incoming directory through
    * dedup → per-batch dim enrich → transactional JDBC merge, restarting
    * from the checkpoint on transient failure (bounded). */
  private def poll(): Unit = {
    StreamingOps.withRetries(maxAttempts) { () =>
      val stream = StreamingOps.dropBehindCommittedWatermark(
        spark.readStream.schema(eventSchema).parquet(s"$incomingDir/*"), "ts", checkpoint)
      StreamingOps.startWithoutNoDataBatches(spark) {
        StreamingOps.dedupByKey(stream, "ts", "10 minutes", Seq("event_id"))
          .writeStream
          .outputMode("update")
          .option("checkpointLocation", checkpoint)
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: Dataset[Row], id: Long) =>
            // ST6: the dim is re-resolved HERE, per micro-batch — a refresh
            // committed since the last batch is visible to this one.
            val cust = customerSink.current
              .select(col("c_custkey"), col("c_mktsegment"))
            val enriched = batch
              .join(broadcast(cust), batch("user_id") === cust("c_custkey"), "left")
              .select(col("event_id"), col("ts"), col("user_id"), col("value"),
                col("c_mktsegment"))
            preMergeHook(id)
            factSink.merge(enriched, id)
          }
          .start()
      }
    }
    ()
  }

  private val rollover =
    new DailyRollover(clock, refreshChain, () => poll(), maxAttempts)

  /** One scheduler tick: dimension chain on a date change, else one poll. */
  def tick(): Unit = rollover.tick()

  /** (date, stepName) history of completed dimension refreshes. */
  def refreshLog: Seq[(LocalDate, String)] = rollover.refreshLog

  /** The committed fact table, read back through the JDBC source. */
  def factTable: DataFrame =
    spark.read.format("jdbc")
      .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      .option("url", s"jdbc:derby:$workDir/db")
      .option("dbtable", "fact_events").load()
}

/** Runnable smoke-main: two simulated days of the testdata feed.
  * `runMain graft.GraftMain [sfDir workDir] [-z tz] [-r resttime]` — prints
  * the refresh log and the final fact-table count.
  *
  * The reference's two operational knobs (run.py:50-62) are wired through:
  * `-z` names the user timezone whose MIDNIGHT is the dimension-refresh
  * rollover boundary (run.py:104,111 — `utc_now.astimezone(user_tz)
  * .date()`), and `-r` is the rest interval in seconds slept between poll
  * ticks (run.py:113, fractional allowed).
  */
object GraftMain {

  /** run.py's date recipe: the rollover calendar is the USER zone's, not
    * UTC's — a pipeline run for a Pacific transit agency rolls its dims at
    * Pacific midnight. The UTC instant source is injected so tests advance
    * simulated time deterministically. */
  def zonedClock(utcNow: () => java.time.Instant,
                 zone: java.time.ZoneId): () => LocalDate =
    () => utcNow().atZone(zone).toLocalDate

  /** run.py:30-46 getopts: "-flag value" pairs anywhere in argv; everything
    * else stays positional (sfDir, workDir). */
  private[graft] def parseArgs(args: Array[String]): (Map[String, String], Seq[String]) = {
    var opts = Map.empty[String, String]
    val positional = Seq.newBuilder[String]
    var i = 0
    while (i < args.length) {
      if (args(i).startsWith("-") && i + 1 < args.length) {
        opts += (args(i) -> args(i + 1)); i += 2
      } else { positional += args(i); i += 1 }
    }
    (opts, positional.result())
  }

  def main(args: Array[String]): Unit = {
    val (opts, positional) = parseArgs(args)
    val sfDir = positional.headOption.getOrElse("/root/testdata/sf0.001")
    val work = positional.lift(1).getOrElse(
      java.nio.file.Files.createTempDirectory("graft-main").toString)
    val zone = java.time.ZoneId.of(opts.getOrElse("-z", "UTC"))
    val restMillis = (opts.getOrElse("-r", "0").toDouble * 1000).toLong
    require(restMillis >= 0, s"-r must be non-negative seconds, got ${opts("-r")}")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config(Tables.nanosConf._1, Tables.nanosConf._2)
      .config(Tables.ntzConf._1, Tables.ntzConf._2)
      .config(Tables.codegenCacheConf._1, Tables.codegenCacheConf._2)
      .config(Tables.artifactIsolationConf._1, Tables.artifactIsolationConf._2)
      .config(Tables.codegenClassNameConf._1, Tables.codegenClassNameConf._2)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // simulated UTC clock, viewed through -z (mid-day start, so the one-day
    // advance crosses midnight in every timezone)
    var utcNow = java.time.Instant.parse("2024-01-01T12:00:00Z")
    val incoming = s"$work/incoming"
    val app = new GraftApp(spark, sfDir, incoming, s"$work/state",
      zonedClock(() => utcNow, zone))

    def drop(name: String, pred: org.apache.spark.sql.Column): Unit =
      Tables(spark, sfDir, "events")
        .select("event_id", "ts", "user_id", "value")
        .filter(pred).write.parquet(s"$incoming/$name")

    // -r: the reference's sleep(resttime) between polls (run.py:113)
    def rest(): Unit = if (restMillis > 0) Thread.sleep(restMillis)

    app.tick()                                   // day-1 startup: dim snapshot
    drop("d1", col("event_id") < 400); rest(); app.tick() // poll 1
    drop("d2", col("event_id") >= 300 && col("event_id") < 700); rest(); app.tick()
    utcNow = utcNow.plus(java.time.Duration.ofDays(1))
    app.tick()                                   // day-2 rollover: dim refresh
    drop("d3", col("event_id") >= 700 && col("event_id") < 900); rest(); app.tick()

    println(s"refresh log: ${app.refreshLog.mkString(", ")}")
    println(s"fact rows: ${app.factTable.count()} (expect 900 distinct events)")
    spark.stop()
  }
}
