package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Row-order-independent fingerprint of a frame: row count, the sum of a
  * 64-bit hash of every column reduced mod 2^31-1, and the XOR of the same
  * hashes. The sum keeps duplicate rows apart (XOR alone cancels them); the
  * XOR catches what the modular sum folds together.
  *
  * It rides the timed materialization as an observed metric, so checking
  * every op costs no second execution of the lane.
  */
object Fingerprint {
  private val Mod = 2147483647L

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** The frame with positional column names (lane outputs may repeat a
    * name), map-typed columns as JSON (maps are not hashable). */
  private def positional(df: DataFrame): DataFrame = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    named.select(named.schema.fields.toSeq.map { f =>
      if (hasMap(f.dataType)) to_json(struct(col(f.name))).as(f.name) else col(f.name)
    }: _*)
  }

  private def aggregates(df: DataFrame): Seq[Column] = {
    val h = xxhash64(df.columns.map(col).toSeq: _*)
    Seq(count(lit(1)).as("n"), sum(pmod(h, lit(Mod))).as("s"), bit_xor(h).as("x"))
  }

  private def render(n: Any, s: Any, x: Any): String = s"$n:$s:$x"

  /** The frame to materialize, plus the observation that holds its
    * fingerprint once an action has run over it. */
  def observed(df: DataFrame, name: String): (DataFrame, Observation) = {
    val p = positional(df)
    val obs = Observation(name)
    val a = aggregates(p)
    (p.observe(obs, a.head, a.tail: _*), obs)
  }

  def of(obs: Observation): String = {
    val m = obs.get
    render(m("n"), m("s"), m("x"))
  }

  /** Fingerprint by a plain aggregate (for stored outputs). */
  def of(df: DataFrame): String = {
    val p = positional(df)
    val a = aggregates(p)
    val r: Row = p.agg(a.head, a.tail: _*).head()
    render(r.get(0), r.get(1), r.get(2))
  }
}
