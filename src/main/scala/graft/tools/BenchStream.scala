package graft.tools

import graft.{Bench, GraftSession, Tables}
import graft.streaming.Streams
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming performance artifact (VERDICT r12 #2): the stateful
  * streaming family has correctness specs but had zero perf evidence —
  * this tool replays the sf0.1 corpora through the three heaviest
  * stateful ops in FIXED micro-batches on BOTH state-store providers
  * and writes `BENCH_STREAM.json`:
  *
  *  - `neardup`       — documents (5 000 docs at sf0.1) through
  *    [[Streams.neardupStream]] (bucket-membership state, ~bands longs
  *    per doc);
  *  - `neardupVerify` — the same replay through
  *    [[Streams.neardupVerifyStream]] (full-signature state,
  *    ~bands×(sigLen+2) longs per doc — the ~sigLen× cost its doc
  *    discloses, here measured instead of assumed);
  *  - `asof`          — events (100 000 rows at sf0.1) + per-user
  *    purchase snapshots through [[Streams.asofJoinStream]] (floor
  *    feature + ahead-buffer per key).
  *
  * Per (op, provider) point: rows/s, per-batch wall latency, and the
  * engine's own `stateOperators` readout (state rows + bytes). The
  * measurement discipline matches BenchScaling round 13: every point is
  * bracketed by the fixed-shape calibration job (sf0.1 lineitem
  * scan-agg ×3) and the gates are evaluated on calib-normalized
  * throughput, so a host-speed swing between the heap and RocksDB
  * passes cannot fake (or mask) a provider gap.
  *
  * Gates (stamped per comparison, headline `value` = the worst ratio):
  *  - RocksDB within 3× of heap throughput for every op (the 100 TB
  *    backend must not be an order of magnitude off the heap store it
  *    replaces);
  *  - neardupVerify within 2× of neardup on the same provider (its
  *    state is ~sigLen× bigger; the throughput cost must stay bounded).
  *
  * Micro-batch shape: `SPARK_GRAFT_STREAM_BATCHES` fixed batches
  * (default 10) split by position (docs) / event-time deciles (events +
  * features, so per-key order holds across batches — the ops'
  * documented contract). MemoryStream + processAllAvailable gives
  * deterministic batch boundaries; the memory sink keeps output
  * driver-side (output is pairs/verdicts/joined rows — small next to
  * input at these SFs).
  */
object BenchStream {

  final case class OpPoint(op: String, provider: String, rowsIn: Long,
      rowsOut: Long, sec: Double, batchMs: Seq[Double], stateRows: Long,
      stateBytes: Long, calib: Double) {
    def rowsPerSec: Double = rowsIn / sec
    /** throughput in calib units: rows per calibration-job-second —
      * host speed divided out (a slow window deflates rowsPerSec and
      * calib equally). */
    def normRowsPerSec(calibRef: Double): Double =
      rowsPerSec * calib / calibRef
  }

  def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
  def f1(v: Double): String = "%.1f".formatLocal(java.util.Locale.ROOT, v)

  private val rocksProvider = "org.apache.spark.sql.execution.streaming." +
    "state.RocksDBStateStoreProvider"
  private val providerKey = "spark.sql.streaming.stateStore.providerClass"

  /** Runs every (op, provider) point and returns the one-line JSON
    * artifact (the spec smoke-runs this on sf0.001). */
  def runAll(spark: SparkSession, sfDir: String, calibDir: String,
      nBatches: Int): String = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    def calibrate(): Double = {
      val t0 = System.nanoTime()
      (1 to 3).foreach { _ =>
        Tables.load(spark, calibDir, "lineitem")
          .groupBy("l_returnflag", "l_linestatus").count().collect()
      }
      (System.nanoTime() - t0) / 1e9
    }
    calibrate() // untimed codegen warm

    // corpora, split into fixed batches ONCE so every op/provider replays
    // the identical sequence
    val docRows = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
      .sortBy(_._1)
    val docBatches = batchBySize(docRows, nBatches)
    val evAll = Tables.load(spark, sfDir, "events")
      .filter(col("value").isNotNull)
      .select(col("user_id"), col("ts"), col("value"))
      .as[(Long, java.sql.Timestamp, Double)].collect().toSeq
      .sortBy(r => (r._2.getTime, r._1, r._3))
    val ftAll = Tables.load(spark, sfDir, "events")
      .filter(col("event_type") === "purchase" && col("value").isNotNull)
      .groupBy("user_id", "ts").agg(max(col("value")).as("f_value"))
      .as[(Long, java.sql.Timestamp, Double)].collect().toSeq
      .sortBy(r => (r._2.getTime, r._1))
    // split BOTH event streams at the same event-time boundaries: per-key
    // order holds across batches, equal-ts pairs never straddle
    val cuts = (1 until nBatches)
      .map(i => evAll(evAll.length * i / nBatches)._2.getTime)
    def timeBatches(rows: Seq[(Long, java.sql.Timestamp, Double)]) = {
      val bounds = (Long.MinValue +: cuts) :+ Long.MaxValue
      bounds.sliding(2).map { case Seq(lo, hi) =>
        rows.filter(r => r._2.getTime >= lo && r._2.getTime < hi)
      }.toSeq
    }
    val evBatches = timeBatches(evAll)
    val ftBatches = timeBatches(ftAll)

    def onProvider[A](provider: String)(body: => A): A = {
      val prev = spark.conf.getOption(providerKey)
      if (provider == "rocksdb") spark.conf.set(providerKey, rocksProvider)
      else spark.conf.unset(providerKey)
      try body
      finally prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }

    var qSeq = 0
    /** One measured replay: per-batch wall time around addData +
      * processAllAvailable, state readout from the engine's own
      * stateOperators metrics after the last batch. */
    def measure[T](op: String, provider: String,
        mk: (MemoryStream[T] => org.apache.spark.sql.DataFrame),
        batches: Seq[Seq[T]], feed2: Option[(MemoryStream[T], Int) => Unit] =
          None)(implicit enc: org.apache.spark.sql.Encoder[T]): OpPoint =
      onProvider(provider) {
        qSeq += 1
        val qn = s"bench_stream_$qSeq"
        val mem = MemoryStream[T]
        val ckpt = java.nio.file.Files
          .createTempDirectory(s"graft-bs-$qn").toString
        val q = mk(mem).writeStream.format("memory").queryName(qn)
          .outputMode("append").option("checkpointLocation", ckpt).start()
        val cb = calibrate()
        try {
          val batchMs = batches.zipWithIndex.map { case (b, i) =>
            val t0 = System.nanoTime()
            feed2.foreach(f => f(mem, i)) // features first within a batch
            if (b.nonEmpty) mem.addData(b: _*)
            q.processAllAvailable()
            (System.nanoTime() - t0) / 1e6
          }
          val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
          val stateBytes = q.lastProgress.stateOperators
            .map(_.memoryUsedBytes).sum
          val rowsOut = spark.table(qn).count()
          q.stop()
          spark.catalog.dropTempView(qn)
          val ca = calibrate()
          OpPoint(op, provider, batches.map(_.size.toLong).sum, rowsOut,
            batchMs.sum / 1e3, batchMs, stateRows, stateBytes, (cb + ca) / 2)
        } finally if (q.isActive) q.stop()
      }

    val points = Seq("heap", "rocksdb").flatMap { prov =>
      val nd = measure[(Long, String)]("neardup", prov,
        m => Streams.neardupStream(m.toDS().toDF("doc_id", "text")).toDF(),
        docBatches)
      val nv = measure[(Long, String)]("neardupVerify", prov,
        m => Streams.neardupVerifyStream(
          m.toDS().toDF("doc_id", "text")).toDF(),
        docBatches)
      // asof: two input streams; the event stream is the measured one,
      // features feed through a side stream per batch (features first, so
      // floor features exist for same-batch events — the spec's shape)
      val ftMem = MemoryStream[(Long, java.sql.Timestamp, Double)]
      val as = measure[(Long, java.sql.Timestamp, Double)]("asof", prov,
        m => Streams.asofJoinStream(
          m.toDS().toDF("user_id", "ts", "value"),
          ftMem.toDS().toDF("user_id", "ts", "f_value")).toDF(),
        evBatches,
        feed2 = Some((_, i) =>
          if (ftBatches(i).nonEmpty) ftMem.addData(ftBatches(i): _*)))
      Seq(nd, nv, as)
    }

    val calibRef = {
      val cs = points.map(_.calib).sorted
      cs(cs.size / 2)
    }
    def pt(op: String, prov: String): OpPoint =
      points.find(p => p.op == op && p.provider == prov).get
    // gates on calib-normalized throughput
    val rocksGates = Seq("neardup", "neardupVerify", "asof").map { op =>
      val r = pt(op, "heap").normRowsPerSec(calibRef) /
        pt(op, "rocksdb").normRowsPerSec(calibRef)
      (s"${op}_heap_over_rocks", r, 3.0)
    }
    val verifyGates = Seq("heap", "rocksdb").map { prov =>
      val r = pt("neardup", prov).normRowsPerSec(calibRef) /
        pt("neardupVerify", prov).normRowsPerSec(calibRef)
      (s"verify_cost_$prov", r, 2.0)
    }
    val gates = rocksGates ++ verifyGates
    val worst = gates.map { case (_, r, lim) => r / lim }.max

    val opsJson = points.map { p =>
      val ms = p.batchMs.map(f1).mkString("[", ",", "]")
      s""""${p.op}@${p.provider}":{"rows_in":${p.rowsIn}""" +
        s""","rows_out":${p.rowsOut},"sec":${f3(p.sec)}""" +
        s""","rows_per_sec":${f1(p.rowsPerSec)}""" +
        s""","norm_rows_per_sec":${f1(p.normRowsPerSec(calibRef))}""" +
        s""","batch_ms":$ms,"batch_ms_mean":${f1(p.batchMs.sum / p.batchMs.size)}""" +
        s""","state_rows":${p.stateRows},"state_bytes":${p.stateBytes}""" +
        s""","calib":${f3(p.calib)}}"""
    }
    val gatesJson = gates.map { case (n, r, lim) =>
      s""""$n":{"ratio":${f3(r)},"limit":${f3(lim)},"ok":${r < lim}}"""
    }
    val cs = points.map(_.calib)
    s"""{"metric":"stream_gate_worst_frac","value":${f3(worst)}""" +
      s""","unit":"ratio_of_limit","sf":"$sfDir","batches":$nBatches""" +
      s""","calib_ref":${f3(calibRef)},"calib_min":${f3(cs.min)}""" +
      s""","calib_max":${f3(cs.max)}""" +
      s""","calib_spread":${f3(cs.max / cs.min)}""" +
      s""","gates":{${gatesJson.mkString(",")}}""" +
      s""","ops":{${opsJson.mkString(",")}}}"""
  }

  /** Fixed position-based batches (documents replay in ingest-id order). */
  def batchBySize[T](rows: Seq[T], n: Int): Seq[Seq[T]] =
    (0 until n).map(i =>
      rows.slice(rows.length * i / n, rows.length * (i + 1) / n))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val nBatches = sys.env.getOrElse("SPARK_GRAFT_STREAM_BATCHES", "10").toInt
    val spark = GraftSession.builder(GraftSession.envCpus(32)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val line = runAll(spark, sfDir, "/root/testdata/sf0.1", nBatches)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_OUT", "BENCH_STREAM.json")),
      line + "\n")
    println(line)
    spark.stop()
  }
}
