package perfbench

import graft.Tables
import org.apache.spark.sql.SparkSession
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

/** One benchmark run of one workload in this JVM.
  *
  * Usage: perfbench.Main --workload W --data DIR --out DIR --seconds S
  *   --trace 0|1
  *
  * Order: set-up (session + input staging), the cold pass (it also warms
  * the JVM), timed passes for S seconds (at least the workload's
  * `minTimed`), live heap after a full GC, then `Setups` more set-ups,
  * each in a fresh session; setup_s is their median. The session runs
  * `local[nproc]` with nproc shuffle partitions. The last pass's outputs
  * stay in OUT for the checks. With --trace 1 the timed passes alternate
  * untraced and traced, and only the traced ones feed the per-layer
  * numbers. The warm pass time is per-layer (`pass.warm_s`, the untraced
  * passes of a traced run): a run has room for one or two warm passes,
  * too few to hold their wall time steady on a shared host. The run
  * record is written to OUT/run.json.
  */
object Main {
  /** Set-ups in fresh sessions after the passes; setup_s is their median. */
  val Setups = 6

  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val cores = Runtime.getRuntime.availableProcessors
    val out = o("out")
    val seconds = o("seconds").toDouble
    val traceRun = o("trace") == "1"
    val wl = Workload(o("workload"), o("data"), out)

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val (first, firstLoad, spark) = setup(cores, out, o("data"), wl.tables)
    val firstSec = (System.currentTimeMillis() - jvmStart) / 1e3

    var attempted = 0L
    val failures = Seq.newBuilder[Failure]
    final case class Timed(wall: Double, cpu: Double, res: PassResult,
        layers: Option[Layers], from: Long, to: Long)
    def timedPass(tracer: Option[Tracer]): Timed = {
      tracer.foreach(_.attach(spark))
      val c0 = cpuBean.getProcessCpuTime
      val from = System.currentTimeMillis()
      val w0 = System.nanoTime()
      val res = wl.pass(spark, tracer)
      val wall = (System.nanoTime() - w0) / 1e9 - res.offClock
      val to = System.currentTimeMillis()
      val cpu = (cpuBean.getProcessCpuTime - c0) / 1e9
      val layers = tracer.map(_.detach(spark))
      attempted += res.attempted
      failures ++= res.failures
      Timed(wall, cpu, res, layers, from, to)
    }

    val cold = timedPass(None)
    // a traced run brackets each traced pass between untraced ones, so a
    // drift from pass to pass cancels out of the tracing overhead
    val minTimed = wl.minTimed.max(if (traceRun) 3 else 1)
    val tracer = if (traceRun) Some(new Tracer) else None
    val timed = Seq.newBuilder[Timed]
    val t0 = System.nanoTime()
    var n = 0
    while (n < minTimed || (System.nanoTime() - t0) / 1e9 < seconds ||
        (traceRun && n % 2 == 0)) {
      // traced runs alternate: even passes untraced, odd passes traced
      timed += timedPass(if (n % 2 == 1) tracer else None)
      n += 1
    }
    val passes = timed.result()

    // Spark frees shuffle and broadcast state from weak references after a
    // GC, so collect a few times and keep the lowest reading
    val liveHeapMb = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

    wl.finish()
    spark.stop()

    val setups = (1 to Setups).map { _ =>
      val (sec, _, s) = setup(cores, out, o("data"), wl.tables)
      s.stop()
      sec
    }

    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.isEmpty) 0.0
      else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val untraced = passes.filter(_.layers.isEmpty)
    val endToEnd = Seq(
      "setup_s" -> median(setups),
      "cold_pass_s" -> cold.wall,
      "cpu_s" -> median(untraced.map(_.cpu)),
      "live_heap_mb" -> liveHeapMb)
    val traced = passes.filter(_.layers.isDefined)
    val perLayer: Seq[(String, Double)] =
      if (!traceRun) Seq.empty
      else {
        val perPass = traced.map(p =>
          Layers.metrics(p.layers.get, p.wall, p.res.timings, cores, p.from, p.to))
        val keys = perPass.flatMap(_.map(_._1)).distinct
        keys.map(k => k -> median(perPass.map(_.toMap.getOrElse(k, 0.0)))) ++ Seq(
          "setup.first_s" -> firstSec,
          "tables.load_s" -> firstLoad,
          "pass.warm_s" -> median(untraced.map(_.wall)),
          "trace.overhead_s" -> (median(traced.map(_.wall)) - median(untraced.map(_.wall))))
      }

    val f = failures.result()
    val record = Json.obj(Seq(
      "attempted" -> attempted.toString,
      "failed" -> f.size.toString,
      "failures" -> Json.arr(f.map(x => Json.obj(Seq("op" -> Json.str(x.op),
        "error" -> Json.str(x.errorClass), "message" -> Json.str(x.message))))),
      "end_to_end" -> Json.obj(endToEnd.map { case (k, v) => k -> Json.num(v) }),
      "per_layer" -> Json.obj(perLayer.map { case (k, v) => k -> Json.num(v) }),
      "java" -> Json.str(System.getProperty("java.version")),
      "spark" -> Json.str(org.apache.spark.SPARK_VERSION),
      "cores" -> cores.toString,
      "passes" -> Json.obj(Seq("cold" -> "1", "timed" -> passes.size.toString,
        "traced" -> traced.size.toString)),
      "pass_walls" -> Json.arr(passes.map(p => Json.num(p.wall))),
      "setup_walls" -> Json.arr((first +: setups).map(Json.num)),
      "pass_timings" -> Json.obj(untraced.flatMap(_.res.timings.keys).distinct.sorted
        .map(k => k -> Json.num(median(untraced.map(_.res.timings.getOrElse(k, 0.0)))))),
      "cold_timings" -> Json.obj(cold.res.timings.toSeq.sortBy(_._1).map {
        case (k, v) => k -> Json.num(v) })))
    Files.writeString(Paths.get(out, "run.json"), record + "\n")
  }

  /** Session creation plus staging of every input table the workload reads
    * (`Tables.load`: file listing, footer read, analysis; no job). Returns
    * the set-up seconds, the seconds spent in `Tables.load`, and the session.
    */
  private def setup(cores: Int, out: String, data: String,
      tables: Seq[String]): (Double, Double, SparkSession) = {
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val l0 = System.nanoTime()
    tables.foreach(t => Tables.load(spark, data, t))
    val now = System.nanoTime()
    ((now - t0) / 1e9, (now - l0) / 1e9, spark)
  }
}
