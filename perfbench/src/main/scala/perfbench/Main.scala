package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The benchmark's JVM side: runs one workload for one seed and writes
  * every timed op, the set-up time, the per-layer metrics of a traced
  * run and the run's stamps to one JSON file. `run.py` builds this,
  * generates the inputs, launches it and turns the file into metrics.
  *
  *   Main --workload <w> --seed <n> --seconds <s> --trace <0|1>
  *        --data <lane tables> --feed <etl tables> --work <dir> --out <json>
  *        --expected <fingerprints.json>
  *   Main --fingerprints <verify dump dir> <out json>
  *   Main --selftest
  */
object Main {
  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def int(k: String): Int = apply(k).toInt
  }

  private def parse(args: Array[String]): Args =
    Args(args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap)

  val cores: Int = Runtime.getRuntime.availableProcessors

  /** The same session `graft.Bench` builds, at local[nproc]. Local and
    * warehouse dirs live under the run's work dir. */
  def session(work: Path): SparkSession = {
    import graft.Tables._
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config(nanosConf._1, nanosConf._2)
      .config(ntzConf._1, ntzConf._2)
      .config(codegenCacheConf._1, codegenCacheConf._2)
      .config(artifactIsolationConf._1, artifactIsolationConf._2)
      .config(codegenClassNameConf._1, codegenClassNameConf._2)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private[perfbench] def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))

  private[perfbench] def treeStats(p: Path): (Double, Double) =
    if (!Files.exists(p)) (0.0, 0.0) else {
      val files = Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      (files.map(Files.size(_).toDouble).sum, files.size.toDouble)
    }

  private[perfbench] def errText(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString.take(300)}"

  private def heapPeakMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed.toDouble).sum / (1024.0 * 1024.0)

  private def gcMs: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.toDouble).sum

  def main(argv: Array[String]): Unit = argv.headOption match {
    case Some("--selftest") =>
      val work = Files.createTempDirectory("perfbench-selftest")
      val spark = session(work)
      val failures = SelfTest.static() ++ SelfTest.runtime(spark)
      spark.stop()
      deleteTree(work)
      failures.foreach(f => System.err.println(s"[selftest] FAIL $f"))
      println(if (failures.isEmpty) "selftest ok" else s"selftest: ${failures.size} failures")
      sys.exit(if (failures.isEmpty) 0 else 1)
    case Some("--fingerprints") =>
      fingerprints(Paths.get(argv(1)), Paths.get(argv(2)))
    case _ =>
      run(parse(argv))
  }

  /** Expected fingerprints from a `graft.Verify` dump that passed
    * `tools/check.py`: one entry per lane directory. */
  private def fingerprints(dump: Path, out: Path): Unit = {
    val work = Files.createTempDirectory("perfbench-fp")
    val spark = session(work)
    val fps = Files.list(dump).iterator().asScala.filter(Files.isDirectory(_)).toSeq
      .map(_.getFileName.toString).sorted
      .map(n => n -> Fingerprint.of(spark.read.parquet(dump.resolve(n).toString)))
    Files.writeString(out, Json(fps.toMap) + "\n")
    spark.stop()
    deleteTree(work)
  }

  /** Untimed isolation between lane ops: drop cached frames, shut Derby
    * down, stop the state store, forget registered materialized views and
    * delete what the op left in the temp dir (the lanes' `Scratch` dirs
    * live there until JVM exit otherwise). The MV registry keeps one entry
    * per invocation, each pointing into that invocation's scratch dir, so
    * it must go with the dirs. */
  private[perfbench] def isolate(spark: SparkSession, tmp: Path, before: Set[Path]): Unit = {
    spark.sharedState.cacheManager.clearCache()
    graft.plans.MvRewriteRule.clear()
    try java.sql.DriverManager.getConnection("jdbc:derby:;shutdown=true")
    catch { case _: java.sql.SQLException => () } // XJ015 = clean shutdown
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case _: Throwable => () }
    Files.list(tmp).iterator().asScala.filterNot(before).foreach(p =>
      try deleteTree(p) catch { case _: Throwable => () })
  }

  private def run(a: Args): Unit = {
    val workload = a("workload")
    val seed = a.int("seed")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    val tmp = Paths.get(System.getProperty("java.io.tmpdir")).toAbsolutePath
    Files.createDirectories(work)
    Files.createDirectories(tmp)

    def uptime = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val selfTest = SelfTest.static()
    val spark = session(work)
    val sessionAt = uptime
    val trace = new Trace(spark)
    val runner: Runner = workload match {
      case "etl_poll" => new EtlRunner(spark, Paths.get(a("feed")).toAbsolutePath, work, seed)
      case "query_lanes" =>
        new LaneRunner(spark, workload, Lanes.querySubset, a("data"), seed, tmp,
          Json.readStringMap(Paths.get(a("expected"))))
      case w => sys.error(s"unknown workload $w")
    }
    val preparedAt = uptime
    runner.warmUp()
    val setupS = uptime
    val setupPhases = Map("jvm_session_s" -> sessionAt, "prep_s" -> (preparedAt - sessionAt),
      "warmup_s" -> (setupS - preparedAt))

    // timed window: a fixed number of passes sized to fill `seconds` on a
    // quiet 4-core host, so every run's statistics rest on the same samples
    // (a time-boxed window ran fewer, less warm passes on a contended host).
    // A traced run interleaves untraced and traced passes, U T T U (four
    // passes at least), so whatever warm-up is left in the run weighs on
    // both alike and traced minus untraced `pass_s` is the tracing overhead.
    val passes = if (traced) (runner.passes(seconds) + 3) / 4 * 4 else runner.passes(seconds)
    def isTraced(i: Int) = traced && (i % 4 == 1 || i % 4 == 2)
    val ops = Seq.newBuilder[Op]
    var pass = 0
    var tracedPasses = 0
    var tracedGcMs = 0.0
    if (traced) ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    while (pass < passes && !runner.done) {
      val t = isTraced(pass)
      val gc0 = gcMs
      if (t) trace.start()
      val got = runner.pass(pass, t, trace)
      if (t) { trace.stop(); tracedGcMs += gcMs - gc0 }
      if (got.nonEmpty) { ops ++= got; pass += 1; if (t) tracedPasses += 1 }
    }
    var layers = Map.empty[String, Double]
    if (traced) {
      val tracedOps = ops.result().filter(_.traced)
      layers = Layers.compute(tracedOps, trace.spans.asScala.toSeq, tracedPasses, cores) ++
        runner.layers(tracedOps, tracedPasses) ++ Map(
          "jvm.heap_peak_mb" -> heapPeakMb,
          "jvm.driver_gc_ms" -> tracedGcMs / tracedPasses.max(1))
    }
    val allOps = ops.result()
    runner.finish()
    val (scratchBytes, _) = treeStats(tmp)
    val result = Map(
      "workload" -> workload, "seed" -> seed, "traced" -> traced,
      "setup_s" -> setupS, "setup_phases" -> setupPhases, "passes" -> pass, "traced_passes" -> tracedPasses,
      "cores" -> cores, "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "java_version" -> System.getProperty("java.version"), "spark_version" -> spark.version,
      "selftest_failures" -> selfTest,
      "ops" -> allOps.map(o => Map(
        "key" -> o.key, "kind" -> o.kind, "pass" -> o.pass, "traced" -> o.traced,
        "wall_ms" -> o.wallMs, "construct_ms" -> o.constructMs,
        "materialize_ms" -> o.materializeMs, "rows" -> o.rows,
        "error" -> o.error.orNull, "mismatch" -> o.mismatch.orNull)),
      "layers" -> (layers ++ (if (traced) Map("scratch.mb_end" -> scratchBytes / (1024.0 * 1024.0)) else Map())),
      "spans" -> (if (traced) trace.spans.asScala.toSeq.map(s => Map(
        "kind" -> s.kind, "name" -> s.name, "start" -> s.start, "end" -> s.end, "attrs" -> s.attrs))
        else Seq.empty)
    ) ++ runner.summary
    Files.writeString(Paths.get(a("out")), Json(result) + "\n")
    spark.stop()
  }
}

/** One workload: untimed warm-up, then passes of timed ops. */
trait Runner {
  /** Passes that fill a window of `seconds` on a quiet 4-core host. */
  def passes(seconds: Double): Int
  def warmUp(): Unit
  def pass(index: Int, traced: Boolean, trace: Trace): Seq[Op]
  /** True once the workload has no more input to drive. */
  def done: Boolean = false
  /** Workload-specific per-layer metrics of the traced ops; by default
    * there is no load generator. */
  def layers(ops: Seq[Op], passes: Int): Map[String, Double] =
    Map("gen.drop_write_ms" -> 0.0, "gen.drop_rows" -> 0.0)
  def finish(): Unit = ()
  def summary: Map[String, Any] = Map.empty
}

/** `query_lanes`: each op constructs one lane's frame
  * (`q(spark, dir)`, where eager merges, trains and stream drives run) and
  * materializes every output column through the `noop` sink, fingerprinting
  * the rows on the way. */
final class LaneRunner(spark: SparkSession, workload: String, lanes: Seq[String], data: String,
                       seed: Int, tmp: Path, expected: Map[String, String]) extends Runner {
  private val rng = new Random(seed)
  private val observations = new java.util.concurrent.atomic.AtomicInteger()
  /** A warm pass of the fixed subset takes 7.5-10 s on 4 cores, with the
    * host's load, so `seconds / 10` passes fill the window. */
  def passes(seconds: Double): Int = (seconds / 10).toInt.max(3)

  private def runLane(lane: String, pass: Int, traced: Boolean, trace: Trace,
                      isolated: Boolean = true): Op = {
    val before = Files.list(tmp).iterator().asScala.toSet
    val compiles0 = if (traced) trace.compiles else 0L
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var t1 = t0
    var rows = 0L
    var fp: Option[String] = None
    val error = try {
      val df: DataFrame = Lanes.registry(lane)(spark, data)
      t1 = System.nanoTime()
      val (out, obs) = Fingerprint.observed(df, s"perfbench_fp_${observations.incrementAndGet()}")
      out.write.format("noop").mode("overwrite").save()
      fp = Some(Fingerprint.of(obs))
      rows = fp.get.takeWhile(_ != ':').toLong
      None
    } catch { case e: Throwable => Some(Main.errText(e)) }
    val t2 = System.nanoTime()
    val endMs = System.currentTimeMillis()
    val extra = if (!traced) Map.empty[String, Double] else {
      val made = Files.list(tmp).iterator().asScala.filterNot(before).map(Main.treeStats).toSeq
      Map("compiles" -> (trace.compiles - compiles0).toDouble,
        "sink_bytes" -> made.map(_._1).sum, "sink_files" -> made.map(_._2).sum)
    }
    if (isolated) Main.isolate(spark, tmp, before)
    val mismatch = fp.flatMap { f =>
      expected.get(lane) match {
        case Some(e) if e == f => None
        case Some(e) => Some(s"fingerprint $f != expected $e")
        case None => Some(s"no expected fingerprint (got $f)")
      }
    }
    Op(lane, workload, pass, traced, startMs, endMs, (t2 - t0) / 1e6,
      (t1 - t0) / 1e6, (t2 - t1) / 1e6, rows, error, mismatch, extra)
  }

  private val warmFailures = Seq.newBuilder[String]
  private var warmPassS = Seq.empty[Double]

  /** Sequential warm-up passes. After the concurrent pass, sequential
    * passes got faster for two to three passes (11.8, 10.6, 8.5 s, then
    * 8.9, 8.9, 9.5 s timed, on 4 cores). One runs before the window, for
    * run length; `pass_s`, a sum of per-lane medians over at least three
    * passes, then discards one residual slow pass. */
  private val WarmPasses = 1

  /** Untimed, checked passes: one with the lanes run `cores` at a time
    * (cold cost, class loading, codegen and JIT, is mostly single-threaded
    * driver work, so this keeps set-up short), then `WarmPasses` sequential
    * passes on the path the timed passes take, so the timed passes start
    * where the JIT's warm-up has flattened. */
  def warmUp(): Unit = {
    def timed(ops: => Seq[Op]): Seq[Op] = {
      val t0 = System.nanoTime()
      val got = ops
      warmPassS :+= (System.nanoTime() - t0) / 1e9
      got
    }
    val before = Files.list(tmp).iterator().asScala.toSet
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Main.cores)
    val ec = scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val cold = timed(lanes.map(l => scala.concurrent.Future(
      runLane(l, -1, traced = false, null, isolated = false))(ec))
      .map(scala.concurrent.Await.result(_, scala.concurrent.duration.Duration.Inf)))
    pool.shutdown()
    Main.isolate(spark, tmp, before)
    val warm = (1 to WarmPasses).flatMap(i =>
      timed(rng.shuffle(lanes).map(runLane(_, -1 - i, traced = false, null))))
    (cold ++ warm).foreach(op => (op.error ++ op.mismatch).foreach(m => warmFailures += s"${op.key}: $m"))
  }

  def pass(index: Int, traced: Boolean, trace: Trace): Seq[Op] =
    rng.shuffle(lanes).map(runLane(_, index, traced, trace))

  override def summary: Map[String, Any] =
    Map("warmup_failures" -> warmFailures.result(), "warm_pass_s" -> warmPassS)
}
