package perfbench

import graft.core.EngineUrl
import graft.model.{Model, ModelIo}
import graft.sources.{Connector, ConnectorRegistry}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Per-layer counters of one traced pass. Every field is filled from
  * Spark's public listener API or from the decorators below, which wrap
  * the program's public `Model` and `Connector` types; the program itself
  * is not changed.
  */
final class Layers {
  // graft.model: per-model lifecycle seconds, keyed "<Model>.pre" etc.
  val modelSec = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  // graft.sources (parquet connector)
  var reads = 0L; var readSec = 0.0; var writes = 0L; var writeSec = 0.0
  // planning (QueryExecutionListener)
  var actions = 0L; var analysisSec = 0.0; var optimizationSec = 0.0
  var planningSec = 0.0
  // driver round trips and execution (SparkListener)
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var taskWallSec = 0.0; var taskRunSec = 0.0; var taskCpuSec = 0.0
  var gcSec = 0.0
  var inputBytes = 0L; var shuffleReadBytes = 0L; var shuffleWriteBytes = 0L
  var spillBytes = 0L; var outputBytes = 0L
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
}

object Layers {
  private val MB = 1048576.0

  /** Wall milliseconds inside [from, to] covered by no job. */
  def gapSec(spans: Seq[(Long, Long)], from: Long, to: Long): Double = {
    var covered = 0L; var end = from
    spans.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { covered += b - math.max(a, end); end = b }
      }
    (to - from - covered) / 1e3
  }

  /** The per-layer metrics of one traced pass of `wall` seconds, plus the
    * pass's own named timings (per-query, per-step and per-model seconds).
    */
  def metrics(l: Layers, wall: Double, timings: Map[String, Double],
      cores: Int, from: Long, to: Long): Seq[(String, Double)] = {
    timings.toSeq ++ Seq(
      "sources.reads" -> l.reads.toDouble, "sources.read_s" -> l.readSec,
      "sources.writes" -> l.writes.toDouble, "sources.write_s" -> l.writeSec,
      "plan.actions" -> l.actions.toDouble, "plan.analysis_s" -> l.analysisSec,
      "plan.optimization_s" -> l.optimizationSec, "plan.planning_s" -> l.planningSec,
      "driver.jobs" -> l.jobs.toDouble,
      "driver.gap_s" -> gapSec(l.jobSpans.toSeq, from, to),
      "exec.stages" -> l.stages.toDouble, "exec.tasks" -> l.tasks.toDouble,
      "exec.tasks_per_stage" -> (if (l.stages > 0) l.tasks.toDouble / l.stages else 0.0),
      "exec.core_busy" -> l.taskWallSec / (wall * cores),
      "exec.task_run_s" -> l.taskRunSec, "exec.task_cpu_s" -> l.taskCpuSec,
      "exec.gc_s" -> l.gcSec, "exec.input_mb" -> l.inputBytes / MB,
      "exec.shuffle_read_mb" -> l.shuffleReadBytes / MB,
      "exec.shuffle_write_mb" -> l.shuffleWriteBytes / MB,
      "exec.spill_mb" -> l.spillBytes / MB, "exec.output_mb" -> l.outputBytes / MB)
  }
}

/** Collects [[Layers]] for one pass between [[attach]] and [[detach]]:
  * listens to Spark's scheduler and query-execution events and swaps the
  * parquet connector for a timed one. Untraced passes run with none of it.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  @volatile var current: Option[Layers] = None
  private var parquet: Option[Connector] = None
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val events = new java.util.concurrent.atomic.AtomicLong()

  def attach(spark: SparkSession): Unit = {
    current = Some(new Layers)
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    val inner = ConnectorRegistry.forScheme("parquet")
    parquet = Some(inner)
    ConnectorRegistry.register(new TimedConnector(inner, this))
  }

  def detach(spark: SparkSession): Layers = {
    quiesce()
    parquet.foreach(ConnectorRegistry.register)
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
    val l = current.get
    current = None
    jobStart.clear()
    l
  }

  private def rec(f: Layers => Unit): Unit = {
    events.incrementAndGet()
    current.foreach(l => l.synchronized(f(l)))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobStart.put(e.jobId, e.time)
    rec(_.jobs += 1)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val t0 = Option(jobStart.remove(e.jobId)).getOrElse(e.time)
    rec(_.jobSpans += ((t0, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    rec(_.stages += 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = rec { l =>
    l.tasks += 1
    l.taskWallSec += (e.taskInfo.finishTime - e.taskInfo.launchTime) / 1e3
    val m = e.taskMetrics
    if (m != null) {
      l.taskRunSec += m.executorRunTime / 1e3
      l.taskCpuSec += m.executorCpuTime / 1e9
      l.gcSec += m.jvmGCTime / 1e3
      l.inputBytes += m.inputMetrics.bytesRead
      l.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      l.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      l.spillBytes += m.diskBytesSpilled
      l.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    phases(qe)
  private def phases(qe: QueryExecution): Unit = rec { l =>
    val p = qe.tracker.phases
    def sec(k: String): Double = p.get(k).map(_.durationMs / 1e3).getOrElse(0.0)
    l.actions += 1
    l.analysisSec += sec("analysis")
    l.optimizationSec += sec("optimization")
    l.planningSec += sec("planning")
  }

  /** Listener events arrive asynchronously. Wait until no event has
    * arrived for a few polls, so a pass's counters are complete before
    * they are read (there is no public drain call).
    */
  def quiesce(): Unit = {
    var last = -1L; var still = 0
    while (still < 3) {
      Thread.sleep(40)
      val now = events.get()
      if (now == last) still += 1 else { still = 0; last = now }
    }
  }
}

/** Times one model's three lifecycle steps into the current [[Layers]]. */
final class TimedModel(inner: Model, tracer: Tracer) extends Model {
  override def name: String = inner.name
  def connects = inner.connects
  private def timed[T](step: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally {
      val dt = (System.nanoTime() - t0) / 1e9
      tracer.current.foreach(l => l.synchronized(l.modelSec(s"$name.$step") += dt))
    }
  }
  override def preBuildCheck(s: SparkSession, io: ModelIo): Boolean =
    timed("pre")(inner.preBuildCheck(s, io))
  def build(s: SparkSession, io: ModelIo): Unit = timed("build")(inner.build(s, io))
  override def postBuildCheck(s: SparkSession, io: ModelIo): Boolean =
    timed("post")(inner.postBuildCheck(s, io))
}

/** Times reads and writes of one connector; registered in place of it
  * through `ConnectorRegistry.register` for the traced passes only.
  */
final class TimedConnector(inner: Connector, tracer: Tracer) extends Connector {
  def schemes: Seq[String] = inner.schemes
  def read(spark: SparkSession, url: EngineUrl): DataFrame = {
    val t0 = System.nanoTime()
    try inner.read(spark, url) finally tracer.current.foreach { l =>
      l.synchronized { l.reads += 1; l.readSec += (System.nanoTime() - t0) / 1e9 }
    }
  }
  override def write(df: DataFrame, url: EngineUrl): Unit = {
    val t0 = System.nanoTime()
    try inner.write(df, url) finally tracer.current.foreach { l =>
      l.synchronized { l.writes += 1; l.writeSec += (System.nanoTime() - t0) / 1e9 }
    }
  }
}
