package graft.model

import graft.core.{EngineUrl, RunContext}
import graft.sources.ConnectorRegistry
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.util.LongAccumulator
import scala.collection.mutable

/** Dataset binding declared by a model: an engine-url template plus access
  * mode — the Spark-native equivalent of the reference's `Connect`
  * descriptor (`connect.py:10-348`): lazy, template-resolved at first
  * access, shareable across models via url identity.
  */
final case class Connect(urlProvider: () => String, mode: AccessMode) {
  /** Template evaluated at BIND time — the reference accepts zero-arg
    * callables as engine_urls and invokes them when the connection binds
    * (`connect.py:193-195`), so a url minted per run (dated path, fresh
    * build id) resolves when used, not when declared.
    */
  def urlTemplate: String = urlProvider()
}
object Connect {
  def apply(urlTemplate: String, mode: AccessMode): Connect =
    Connect(() => urlTemplate, mode)
}

sealed trait AccessMode
object AccessMode {
  case object Read extends AccessMode
  case object Write extends AccessMode
  /** Write then re-read for validation (the reference's READWRITE — Spark
    * can't read uncommitted writes, so the lifecycle sequences it).
    */
  case object ReadWrite extends AccessMode
}

/** ETL model with the reference's lifecycle: preBuildCheck → build →
  * postBuildCheck (`model.py:55-128`), declarative dataset bindings, stats
  * accumulators, and a lock/repeatability doc (`model.py:242-280`).
  *
  * `build` composes Spark plans; datasets resolve through the connector
  * registry with `{var}` templating from the RunContext.
  */
abstract class Model {

  def name: String = getClass.getSimpleName.stripSuffix("$")

  /** Declarative dataset bindings, keyed by local dataset name. */
  def connects: Map[String, Connect]

  /** Pre-flight validation; false aborts before build. */
  def preBuildCheck(spark: SparkSession, io: ModelIo): Boolean = true
  def build(spark: SparkSession, io: ModelIo): Unit
  /** Post-build validation over re-read outputs; false marks the run failed. */
  def postBuildCheck(spark: SparkSession, io: ModelIo): Boolean = true

  /** Counters surfaced at end of run (reference `self.stats`). Each [[go]]
    * starts them afresh, so a re-run reports its own counts only.
    */
  val stats: mutable.Map[String, LongAccumulator] = mutable.Map.empty
  protected def stat(spark: SparkSession, key: String): LongAccumulator =
    stats.getOrElseUpdate(key, spark.sparkContext.longAccumulator(s"$name.$key"))

  /** READ bindings only: a ReadWrite dataset is an output with read-back
    * validation, not a dependency — counting it as a source would make the
    * model depend on itself in the DAG (reference classifies sources as
    * READ, `model_collection.py:59-121`).
    */
  def sources: Set[String] = connects.collect {
    case (_, c @ Connect(_, AccessMode.Read)) => c.urlTemplate
  }.toSet
  def targets: Set[String] = connects.collect {
    case (_, c @ Connect(_, AccessMode.Write | AccessMode.ReadWrite)) =>
      c.urlTemplate
  }.toSet

  /** Full lifecycle. Returns true on success (checks passed). */
  final def go(spark: SparkSession, ctx: RunContext = RunContext()): Boolean = {
    stats.clear()
    val io = new ModelIo(spark, this, ctx)
    if (!preBuildCheck(spark, io)) return false
    build(spark, io)
    val ok = postBuildCheck(spark, io)
    if (ok && stats.nonEmpty) {
      val rendered = stats.map { case (k, acc) => s"$k=${acc.value}" }
      spark.sparkContext.setLocalProperty(s"graft.model.$name.stats",
        rendered.mkString(","))
    }
    ok
  }

  /** Repeatability doc: resolved dataset urls + context vars, secrets
    * excluded (reference `model.py:242-280`, `ignition.py:8-16`).
    */
  def lock(ctx: RunContext): Map[String, String] =
    ctx.lockDoc ++ connects.map { case (k, c) =>
      s"dataset.$k" -> ctx.resolve(c.urlTemplate)
    }
}

/** Resolved dataset access for one model run. */
final class ModelIo(spark: SparkSession, model: Model, ctx: RunContext) {

  /** The run context this model was invoked with (for manifest mappers
    * and other template-driven work-unit expansion inside build()).
    */
  def context: RunContext = ctx

  private def bound(datasetName: String): (EngineUrl, Connect) = {
    val c = model.connects.getOrElse(datasetName,
      throw new IllegalArgumentException(
        s"${model.name} has no dataset '$datasetName'"))
    (EngineUrl.parse(ctx.resolve(c.urlTemplate)), c)
  }

  def read(datasetName: String): DataFrame = {
    val (url, c) = bound(datasetName)
    require(c.mode != AccessMode.Write, s"$datasetName is write-only")
    ConnectorRegistry.forScheme(url.scheme).read(spark, url)
  }

  /** Re-read a dataset this model wrote — the validation half of the
    * reference's READWRITE mode (write, then read back to check; Spark
    * can't read uncommitted writes so the lifecycle sequences it).
    */
  def readBack(datasetName: String): DataFrame = {
    val (url, _) = bound(datasetName)
    ConnectorRegistry.forScheme(url.scheme).read(spark, url)
  }

  def write(datasetName: String, df: DataFrame): Unit = {
    val (url, c) = bound(datasetName)
    require(c.mode != AccessMode.Read, s"$datasetName is read-only")
    ConnectorRegistry.forScheme(url.scheme).write(df, url)
  }

  def resolvedUrl(datasetName: String): String = bound(datasetName)._1.toString
}
