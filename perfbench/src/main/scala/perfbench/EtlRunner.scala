package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.LocalDate

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** The feed plan of `etl_poll`: a pure function of the seed.
  *
  * One simulated day is `SmallPerDay` small delta polls, each re-delivering
  * up to `MaxOverlap` rows of the previous drop, with one large catch-up
  * drop before the last of them, then a date rollover. Drops are cut from the feed's
  * `events` in `event_id` order; `ts` is monotone in `event_id`, so the
  * watermark drops nothing new.
  */
object Feed {
  val SmallPerDay = 2
  val SmallRows: (Int, Int) = (1500, 2500)
  val CatchUpRows: (Int, Int) = (15000, 20000)
  val MaxOverlap = 200

  sealed trait Step
  final case class Poll(kind: String, rows: Int, overlap: Int) extends Step
  case object Rollover extends Step

  private def between(r: Random, lo: Int, hi: Int): Int = lo + r.nextInt(hi - lo + 1)

  /** The steps of one day, drawn from `r`. */
  def day(r: Random): Seq[Step] = {
    def small = Poll("poll", between(r, SmallRows._1, SmallRows._2), r.nextInt(MaxOverlap + 1))
    val polls = Seq.fill(SmallPerDay)(small)
    val catchUp = Poll("catch_up", between(r, CatchUpRows._1, CatchUpRows._2), r.nextInt(MaxOverlap + 1))
    (polls.take(SmallPerDay - 1) :+ catchUp) ++ polls.drop(SmallPerDay - 1) :+ Rollover
  }

  def plan(seed: Int, days: Int): Seq[Step] = {
    val r = new Random(seed)
    Seq.fill(days)(day(r)).flatten
  }
}

/** `etl_poll`: drives the assembled program (`GraftApp`, the reference's
  * poll loop) tick by tick. The load generator writes each drop outside
  * the op's time; a poll op is one `tick()` that drains it, a rollover op
  * is the `tick()` after the injected clock moves a day. After every poll
  * the fact table's row count must equal the distinct events delivered so
  * far; at the end the table is dumped for the replay check in `run.py`.
  */
final class EtlRunner(spark: SparkSession, feed: Path, work: Path, seed: Int) extends Runner {
  private val incoming = work.resolve("incoming")
  private val state = work.resolve("state")
  private var today = LocalDate.of(2024, 1, 1)
  private val app = new graft.GraftApp(spark, feed.toString, incoming.toString,
    state.toString, () => today)
  private val events = graft.Tables(spark, feed.toString, "events")
    .select("event_id", "ts", "user_id", "value")
  private val feedRows = events.count()
  private val rng = new Random(seed)
  private var cursor = 0L
  private var drops = 0
  private var exhausted = false
  /** A day takes about 7 s on 4 cores. */
  def passes(seconds: Double): Int = (seconds / 7.5).round.toInt.max(2)

  /** Writes events [lo, hi) into staging and moves them into the incoming
    * dir in one rename, so the stream never sees a partial drop. */
  private def writeDrop(root: Path, name: String, lo: Long, hi: Long): Unit = {
    events.filter(col("event_id") >= lo && col("event_id") < hi)
      .write.parquet(root.resolve("staging").resolve(name).toString)
    Files.createDirectories(root.resolve("incoming"))
    Files.move(root.resolve("staging").resolve(name), root.resolve("incoming").resolve(name),
      StandardCopyOption.ATOMIC_MOVE)
  }

  private def deliver(p: Feed.Poll): (Double, Long) = {
    val t0 = System.nanoTime()
    val lo = (cursor - p.overlap).max(0L)
    val hi = (cursor + p.rows).min(feedRows)
    writeDrop(work, f"drop$drops%05d", lo, hi)
    drops += 1
    cursor = hi
    ((System.nanoTime() - t0) / 1e6, hi - lo)
  }

  /** Rows in the fact table; 0 until the first poll creates it. */
  private def factRows: Long =
    if (!Files.exists(state.resolve("db"))) 0L else {
      val c = java.sql.DriverManager.getConnection(s"jdbc:derby:$state/db")
      try {
        val rs = c.createStatement().executeQuery("SELECT COUNT(*) FROM fact_events")
        rs.next(); rs.getLong(1)
      } finally c.close()
    }

  private def dimsWritten(sinceMs: Long): (Double, Double) = {
    val dims = state.resolve("dims")
    if (!Files.exists(dims)) (0.0, 0.0) else {
      val fresh = Files.walk(dims).iterator().asScala
        .filter(f => Files.isRegularFile(f) && Files.getLastModifiedTime(f).toMillis >= sinceMs).toSeq
      (fresh.map(Files.size(_).toDouble).sum, fresh.size.toDouble)
    }
  }

  private def step(s: Feed.Step, pass: Int, traced: Boolean, trace: Trace): Op = {
    val (kind, gen) = s match {
      case p: Feed.Poll => (p.kind, Some(deliver(p)))
      case Feed.Rollover => today = today.plusDays(1); ("rollover", None)
    }
    val before = if (gen.isDefined) factRows else 0L
    val compiles0 = if (traced) trace.compiles else 0L
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val error = try { app.tick(); None } catch { case e: Throwable => Some(Main.errText(e)) }
    val wallMs = (System.nanoTime() - t0) / 1e6
    val endMs = System.currentTimeMillis()
    val after = if (gen.isDefined) factRows else 0L
    val mismatch =
      if (gen.isDefined && after != cursor) Some(s"fact rows $after != $cursor distinct delivered") else None
    val extra = gen.map { case (ms, rows) => Map("gen_ms" -> ms, "gen_rows" -> rows.toDouble) }
      .getOrElse(Map.empty) ++ (if (!traced) Map.empty else {
        val (bytes, files) = dimsWritten(startMs)
        Map("compiles" -> (trace.compiles - compiles0).toDouble,
          "sink_bytes" -> bytes, "sink_files" -> files)
      })
    Op(kind, kind, pass, traced, startMs, endMs, wallMs, 0.0, 0.0, after - before,
      error, mismatch, extra)
  }

  private val warmFailures = Seq.newBuilder[String]

  /** The startup snapshot and one whole day, untimed: every tick kind
    * runs before the window opens (with only a poll and a rollover, the
    * first timed day ran about 30% slower than the second). A second
    * warm-up day is traded for run length; the medians over the timed days
    * absorb one slow day. */
  def warmUp(): Unit = {
    app.tick()
    Feed.day(rng).map(step(_, -1, traced = false, null)).foreach { op =>
      (op.error ++ op.mismatch).foreach(m => warmFailures += s"${op.key}: $m")
    }
  }

  /** One pass is one simulated day. The feed is sized so a run never
    * drains it; if it does, the pass stops short and says so. */
  def pass(index: Int, traced: Boolean, trace: Trace): Seq[Op] = {
    val steps = Feed.day(rng)
    val need = steps.collect { case p: Feed.Poll => p.rows.toLong }.sum
    if (cursor + need > feedRows) { exhausted = true; Seq.empty }
    else steps.map(step(_, index, traced, trace))
  }

  override def done: Boolean = exhausted

  override def layers(ops: Seq[Op], passes: Int): Map[String, Double] = {
    val gen = ops.flatMap(_.extra.get("gen_ms")).sorted
    Map("gen.drop_write_ms" -> (if (gen.isEmpty) 0.0 else gen(gen.size / 2)),
      "gen.drop_rows" -> ops.flatMap(_.extra.get("gen_rows")).sum / passes.max(1))
  }

  override def finish(): Unit =
    app.factTable.write.mode("overwrite").parquet(work.resolve("fact_final").toString)

  override def summary: Map[String, Any] = Map(
    "warmup_failures" -> warmFailures.result(),
    "feed_exhausted" -> exhausted,
    "delivered_events" -> cursor,
    "incoming_dir" -> incoming.toString,
    "fact_dir" -> work.resolve("fact_final").toString,
    "refresh_log" -> app.refreshLog.size)
}
