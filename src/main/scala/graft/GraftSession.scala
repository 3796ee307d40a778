package graft

import graft.core.RunContext
import graft.sources.ConnectorRegistry
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Library front door: a SparkSession pre-configured for the engine
  * plus url-based read/write with run-context templating — the surface a
  * user of the reference framework lands on after switching.
  *
  * {{{
  * val spark = GraftSession.local(cpus = 8)
  * val ctx   = RunContext().withVars("build" -> "b42")
  * val df    = GraftSession.read(spark, "csv://data/{build}/in.csv", ctx)
  * GraftSession.write(df, "parquet://out/{build};partitionBy=day", ctx)
  * }}}
  */
object GraftSession {

  /** The one session builder: every main and the test session start here.
    * `local[cpus]` with one shuffle partition per core, UTC, no UI, and
    * graft's native expressions and planner rules. AQE and its skew-join
    * handling are Spark 4.1 defaults, so they are not set.
    */
  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")

  /** A tool main's core count: `SPARK_GRAFT_CPUS` if set, else `default`. */
  def envCpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)

  /** Library session: [[builder]] plus zstd parquet and dynamic partition
    * overwrite for the connector write path.
    */
  def local(cpus: Int = Runtime.getRuntime.availableProcessors()): SparkSession =
    builder(cpus)
      .config("spark.sql.parquet.compression.codec", "zstd")
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      .getOrCreate()

  def read(spark: SparkSession, urlTemplate: String,
      ctx: RunContext = RunContext()): DataFrame =
    ConnectorRegistry.read(spark, ctx.resolve(urlTemplate))

  def write(df: DataFrame, urlTemplate: String,
      ctx: RunContext = RunContext()): Unit =
    ConnectorRegistry.write(df, ctx.resolve(urlTemplate))
}
