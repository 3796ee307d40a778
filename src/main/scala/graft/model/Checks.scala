package graft.model

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer
import scala.concurrent.Await
import scala.concurrent.duration._

/** Data-validation helpers for pre/post build checks — the engine-level
  * version of the reference's hand-written check methods (e.g. the
  * single-year assertion in `examples/favourite_colours.py:41-61` and the
  * conservation-of-days check at `:89-110`). Each check is one Spark action
  * over a declarative plan, so it scales with the data.
  */
object Checks {

  final case class CheckFailure(message: String) extends RuntimeException(message)

  def nonEmpty(df: DataFrame, what: String = "dataset"): Boolean =
    !df.isEmpty || fail(s"$what is empty")

  /** Row count of `df`, failing like [[nonEmpty]] when it is 0: for a
    * pre-check whose count the build needs, so the model scans once.
    */
  def counted(df: DataFrame, what: String = "dataset"): Long = {
    val n = df.count()
    if (n == 0) fail(s"$what is empty")
    n
  }

  def noViolations(df: DataFrame, violation: Column, what: String): Boolean =
    df.filter(violation).isEmpty || fail(s"$what: violations found")

  def unique(df: DataFrame, cols: Seq[String]): Boolean =
    uniqueNoNulls(df, cols, Nil)

  /** Every column in `cols` free of NULLs, counted in one aggregate. */
  def noNulls(df: DataFrame, cols: Seq[String]): Boolean = {
    val r = df.agg(count(lit(1)), cols.map(c => count_if(col(c).isNull)): _*).first()
    failOnNulls(cols, i => r.getLong(i + 1))
  }

  /** [[unique]] on `keys` and [[noNulls]] on `notNull` in one grouped
    * aggregate: per key group its row count and each column's NULL count,
    * then the largest group and the NULL totals. Fails with the message of
    * the first failing check, duplicate keys before NULLs.
    */
  def uniqueNoNulls(df: DataFrame, keys: Seq[String], notNull: Seq[String]): Boolean = {
    checkedCount(df, keys, notNull)
    true
  }

  /** Row count of `df` from the same grouped aggregate as [[uniqueNoNulls]],
    * which it runs: for a check whose row count the build needs.
    */
  def checkedCount(df: DataFrame, keys: Seq[String], notNull: Seq[String] = Nil): Long = {
    require(keys.nonEmpty, "checkedCount needs at least one key column")
    val nulls = notNull.indices.map(i => s"__null$i")
    val r = df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n"),
        notNull.zip(nulls).map { case (c, n) => count_if(col(c).isNull).as(n) }: _*)
      .agg(coalesce(max(col("__n")), lit(0L)),
        (coalesce(sum(col("__n")), lit(0L)) +:
          nulls.map(n => coalesce(sum(col(n)), lit(0L)))): _*)
      .first()
    if (r.getLong(0) > 1) fail(s"duplicate keys on (${keys.mkString(",")})")
    failOnNulls(notNull, i => r.getLong(i + 2))
    r.getLong(1)
  }

  private def failOnNulls(cols: Seq[String], nullsIn: Int => Long): Boolean =
    cols.indices.forall(i => nullsIn(i) == 0 || fail(s"nulls in ${cols(i)}"))

  def rowCountBetween(df: DataFrame, min: Long, max: Long): Boolean = {
    val n = df.count()
    (n >= min && n <= max) || fail(s"row count $n outside [$min, $max]")
  }

  /** Conservation check: an aggregate is preserved between input and output
    * (e.g. total days in == total days out). Both aggregates run in one
    * action, as the two rows of a union.
    */
  def conserved(in: DataFrame, out: DataFrame, inAgg: Column, outAgg: Column): Boolean = {
    val rows = in.agg(inAgg.as("v")).select(lit(0).as("side"), col("v"))
      .union(out.agg(outAgg.as("v")).select(lit(1).as("side"), col("v")))
      .collect().map(r => r.getInt(0) -> r.get(1)).toMap
    val (a, b) = (rows(0), rows(1))
    (a == b) || fail(s"conservation violated: $a != $b")
  }

  private def fail(message: String): Boolean = throw CheckFailure(message)

  /** Inline observation: attach row/null/sum counters that are collected
    * DURING the write or action — zero extra passes over the data, which
    * at 100 TB is the difference between free stats and doubling the job.
    * (The declarative analogue of the reference's per-row `self.stats`
    * counters, `model.py:88-90,169-216`.)
    *
    * Where an observation is safe to place: on the frame that is written,
    * or on a frame with no join or grouped aggregate between it and the
    * written root. Adaptive execution replaces such an operator by an
    * empty relation when one of its inputs turns out empty, and the
    * observed subtree goes with it: Spark then completes the observation
    * with an EMPTY map, not with zeros. A counter on the preserved side of
    * an outer join, or above the join, is safe. The first action that
    * runs the observed frame fills the observation, so it must be an
    * action over all its rows (a write, not a `limit` or `isEmpty`).
    * [[Counters]] reads observations with those rules checked.
    */
  def observed(df: DataFrame, name: String, metrics: (String, Column)*)
      : (DataFrame, Observation) = {
    val obs = Observation(name)
    val cols = metrics.map { case (alias, c) => c.as(alias) }
    (df.observe(obs, cols.head, cols.tail: _*), obs)
  }

  /** How long [[Counters]] waits for an observation after its action
    * returned: Spark completes observations from a listener, shortly after
    * the action.
    */
  val ObservationWait: FiniteDuration = 60.seconds

  /** Named counters attached to the frames of one write and read once it
    * has run (see [[ModelIo.writeCounted]]). A counter that the executed
    * plan did not produce — its observation was pruned, never ran, or
    * never completed within [[ObservationWait]] — raises a [[CheckFailure]]
    * naming it; no counter defaults to 0.
    */
  final class Counters private[model] () {
    private val pending = ArrayBuffer.empty[(Observation, Seq[String])]

    /** `df` with `metrics` (counter name → aggregate column, e.g.
      * `count(lit(1))`) observed on it; see [[observed]] for where an
      * observation is safe to place.
      */
    def observe(df: DataFrame, metrics: (String, Column)*): DataFrame = {
      val (out, obs) = observed(df, s"counters-${java.util.UUID.randomUUID()}",
        metrics: _*)
      pending += obs -> metrics.map(_._1)
      out
    }

    private[model] def values(): Map[String, Long] =
      pending.flatMap { case (obs, names) =>
        try Await.ready(obs.future, ObservationWait)
        catch {
          case _: java.util.concurrent.TimeoutException =>
            fail(s"counters ${names.mkString(",")} not observed within $ObservationWait")
        }
        val got = obs.get
        names.map { n =>
          n -> (got.get(n) match {
            case Some(v: Number) => v.longValue
            case Some(null) => throw CheckFailure(s"counter $n is NULL")
            case _ => throw CheckFailure(
              s"counter $n was not observed: the executed plan dropped it")
          })
        }
      }.toMap
  }
}
