package perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark's own checks. The static ones run at the start of every
  * run (a failure marks the run incorrect); `run.py --selftest` runs all. */
object SelfTest {

  /** Checks that need no session. */
  def static(): Seq[String] = coverage() ++ feedDeterminism()

  /** Every registry lane is read-only, a state lane or excluded with a
    * reason, exactly one of these; the `query_lanes` subset lies in the
    * read-only lanes, repeats no lane and has a lane of every module that
    * has a read-only lane, except the modules `Lanes.unsampled` names. */
  def coverage(): Seq[String] = {
    val all = Lanes.registry.keySet
    val q = Lanes.readOnly.toSet
    val s = Lanes.state.toSet
    val placed = all.toSeq.flatMap { l =>
      val n = Seq(q(l), s(l), Lanes.excluded.contains(l)).count(identity)
      if (n == 1) None else Some(s"lane $l is placed $n times (read-only, state, excluded)")
    }
    val reasons = Lanes.excluded.collect { case (l, r) if r.trim.isEmpty => s"excluded lane $l has no reason" }
    val stale = Lanes.excluded.keys.filterNot(all).map(l => s"excluded lane $l is not in the registry")
    val sub = Lanes.querySubset
    val subset = sub.diff(sub.distinct).map(l => s"query_lanes subset repeats $l") ++
      sub.filterNot(q).map(l => s"query_lanes subset lane $l is not read-only") ++
      q.toSeq.flatMap(Lanes.moduleOf.get).distinct
        .filterNot(m => Lanes.unsampled.contains(m) || sub.exists(l => Lanes.moduleOf.get(l).contains(m)))
        .sorted.map(m => s"query_lanes subset has no lane of module $m")
    val modules = all.filterNot(Lanes.moduleOf.contains).map(l => s"lane $l has no module")
    placed ++ reasons ++ stale ++ subset ++ modules
  }

  /** The feed plan is a pure function of the seed, and the seed matters. */
  def feedDeterminism(): Seq[String] = {
    val a = Feed.plan(7, 4)
    Seq(
      if (a == Feed.plan(7, 4)) None else Some("feed plan differs for the same seed"),
      if (a != Feed.plan(8, 4)) None else Some("feed plan ignores the seed")
    ).flatten
  }

  /** The fingerprint ignores row order and partitioning, and sees a
    * changed, dropped or duplicated row. */
  def runtime(spark: SparkSession): Seq[String] = {
    import spark.implicits._
    val rows = Seq((1L, "a", Seq(1.5, 2.0)), (2L, null, Seq.empty[Double]), (2L, null, Seq.empty[Double]),
      (3L, "c", null), (4L, "d", Seq(-0.5)))
    val df = rows.toDF("k", "s", "xs")
    val fp = Fingerprint.of(df)
    val same = Seq(df.orderBy($"k".desc), df.repartition(3), rows.reverse.toDF("k", "s", "xs"))
    val differ = Seq(
      rows.updated(0, (1L, "b", Seq(1.5, 2.0))).toDF("k", "s", "xs"),
      rows.tail.toDF("k", "s", "xs"),
      (rows :+ rows.head).toDF("k", "s", "xs"),
      rows.distinct.toDF("k", "s", "xs"))
    val (obsDf, obs) = Fingerprint.observed(df.orderBy($"s"), "perfbench_selftest")
    obsDf.write.format("noop").mode("overwrite").save()
    Seq(
      if (same.forall(d => Fingerprint.of(d) == fp)) None else Some("fingerprint depends on row order"),
      if (differ.forall(d => Fingerprint.of(d) != fp)) None else Some("fingerprint misses a row change"),
      if (Fingerprint.of(obs) == fp) None else Some("observed fingerprint differs from the aggregate")
    ).flatten
  }
}
