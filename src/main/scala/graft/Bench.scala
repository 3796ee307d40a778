package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line with per-query seconds.
  */
object Bench {
  /** Release blocks pinned by per-query `localCheckpoint`/`cache` calls.
    * Each query is self-contained; without this, a 250+-query session
    * accumulates hundreds of dead cached RDDs and later queries pay the
    * eviction/GC pressure (observed: q119 3 s standalone vs 9 s late in a
    * full bench run). A production pipeline gets this for free — one job,
    * one session, blocks die with the app.
    */
  def dropCaches(spark: SparkSession): Unit = {
    // BLOCKING unpersist, off the clock: at sf1 a heavy query leaves
    // multi-GB locally-checkpointed blocks, and async eviction overlaps the
    // NEXT query's timed runs — measured 3–5× inflation on the sf1 heavy
    // tail (q170 64s in-session vs 9.2s standalone) with calib_ratio ≈ 1
    // because the scan-shaped calibration query is insensitive to block-
    // manager pressure. Synchronous cleanup makes per-query times
    // independent of run order.
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }

  /** Contention suspects: queries whose measured time exceeds `factor`×
    * their committed per-query reference. The trigger deliberately does
    * NOT require an inflated calibration stamp — the scan-shaped
    * calibration query has twice been blind to load that inflated heavy
    * queries (block-manager pressure, time-windowed external load), so a
    * per-query reference is the only signal that catches both. A genuine
    * 5× regression just gets one extra measured run and keeps its honest
    * slow time, with both numbers recorded.
    */
  def suspects(measured: Seq[(String, Double)],
      reference: Map[String, Double], factor: Double = 5.0): Seq[String] =
    measured.collect { case (n, v)
      if v > 0 && reference.get(n).exists(r => r > 0 && v > factor * r) => n }

  /** Per-query reference from a committed bench artifact, or empty when
    * the file is absent or was measured at a DIFFERENT scale factor (an
    * sf1 rehearsal must not compare itself to sf0.1 times). Flat regex
    * parse of the one-line JSON this object writes — no JSON dependency.
    */
  def loadReference(path: String, sfDir: String): Map[String, Double] = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) return Map.empty
    val s = java.nio.file.Files.readString(p)
    if (!"\"sf\":\"([^\"]+)\"".r.findFirstMatchIn(s).map(_.group(1))
      .contains(sfDir)) return Map.empty
    val qStart = s.indexOf("\"queries\":{")
    if (qStart < 0) return Map.empty
    val body = s.substring(qStart + 11, s.indexOf('}', qStart))
    "\"([A-Za-z0-9_]+)\":(-?[0-9.]+)".r.findAllMatchIn(body)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
  }

  /** Keep the better (smaller positive) of swept vs retried time. */
  def merged(results: Seq[(String, Double)],
      retried: Map[String, Double]): Seq[(String, Double)] =
    results.map { case (n, v) =>
      n -> (retried.get(n) match {
        case Some(r) if r > 0 && (v <= 0 || r < v) => r
        case _ => v
      })
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder(GraftSession.envCpus(4)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm up JIT/codegen + table file cache once, untimed, so the first
    // measured query doesn't absorb JVM startup.
    SparkEntry.entry(spark).count()
    Tables.names.foreach(n => Tables.load(spark, sfDir, n).count())

    // Fixed-shape calibration job, timed at start AND end of the run: the
    // end/start ratio is stamped into the JSON so a CPU-contended
    // environment (the BENCH_r06 312s-vs-175s incident) is self-evident
    // in the artifact instead of masquerading as a code regression.
    def calibrate(): Double = {
      val t0 = System.nanoTime()
      (1 to 3).foreach { _ =>
        Tables.load(spark, sfDir, "lineitem")
          .groupBy("l_returnflag", "l_linestatus").count().collect()
      }
      (System.nanoTime() - t0) / 1e9
    }
    calibrate() // untimed: warm this plan's codegen
    val calibStart = calibrate()

    // best-of-2 per query (run 1 carries codegen compilation, run 2 is the
    // steady-state number a long-running cluster job would see); queries
    // whose best-of-2 still exceeds 2 s get a third run and report the
    // MEDIAN — one scheduler hiccup can no longer inflate a heavy query.
    // SPARK_GRAFT_ONLY=q283,q119,t02 restricts the run to a subset (id
    // prefix or full name) — the sf1 rehearsal runs the heavy tail only
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1).filter {
      case (name, _) =>
        only.forall(ids => ids.contains(name) ||
          ids.contains(name.split('_').head))
    }
    def once(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true }
        catch { case _: Throwable => false }
      val dt = (System.nanoTime() - t0) / 1e9 // stop the clock, THEN clean
      dropCaches(spark)
      if (ok) dt else -1.0
    }
    // SPARK_GRAFT_WARM_SWEEP=true: one untimed pass over the selected
    // queries before the timed sweep. At sf3 a cold JVM's first heavy
    // query reads 3–4× its steady state (C2 JIT over the iterative
    // join/agg codegen paths — q119 measured 78 s cold vs 17 s warm on
    // identical data), so the heavy-tail rehearsals report steady-state
    // numbers — what a long-running cluster job actually sees — instead
    // of charging the whole JVM warmup to whichever query runs first.
    // Off for the 385-query sf0.1 sweep, where doubling the run is not
    // worth sub-second per-query effects.
    if (sys.env.get("SPARK_GRAFT_WARM_SWEEP").contains("true"))
      selected.foreach { case (_, fn) => once(fn); () }
    // Interleaved calibration timeline (round 13): a start/end bracket
    // cannot characterize a host whose speed swings ±30–60% inside one
    // session (observed 0.53→1.31) — BENCH_SF1 twice missed its
    // calib_ratio band on pure drift. Every SPARK_GRAFT_CALIB_EVERY
    // queries (default 16, ~1 s each) the fixed-shape job runs again;
    // the artifact stamps the whole timeline, its spread, and a
    // calib_mean over ALL points, so a drift segment is localized in
    // the artifact instead of relitigated in prose.
    val calibEvery = sys.env.getOrElse("SPARK_GRAFT_CALIB_EVERY", "16").toInt
    val calibMid = Seq.newBuilder[Double]
    val swept = selected.zipWithIndex.map { case ((name, fn), i) =>
      if (calibEvery > 0 && i > 0 && i % calibEvery == 0)
        calibMid += calibrate()
      val a = once(fn)
      val b = if (a < 0) -1.0 else once(fn)
      val v =
        if (a < 0 || b < 0) -1.0
        else if (math.min(a, b) <= 2.0) math.min(a, b)
        else {
          val c = once(fn)
          if (c < 0) -1.0 else Seq(a, b, c).sorted.apply(1)
        }
      name -> v
    }
    // Self-defense against sustained contention (the BENCH_r06/r08
    // incidents: a loaded machine wrote 5–100× garbage into the official
    // artifact and the calib stamp could only annotate it): any query >5×
    // its committed same-SF reference gets ONE post-sweep re-run — by then
    // a time-windowed external load has usually passed — and the artifact
    // keeps the better time, recording both under "retried".
    val reference = loadReference(
      sys.env.getOrElse("SPARK_GRAFT_REF", "BENCH_SELF.json"), sfDir)
    val fnMap = selected.toMap
    val retried = suspects(swept, reference)
      .map(n => n -> once(fnMap(n))).toMap
    val results = merged(swept, retried)
    val calibEnd = calibrate()
    // The driver captures only the last ~2.3 KB of the log, so rounds 1-2
    // produced "parsed": null — the full-name per-query map alone exceeds
    // the window. The printed line therefore uses the qNN/tNN/wNN prefix
    // as the key (~1.5 KB for 107 queries, fits with the sbt suffix), and
    // the full-name report is written to BENCH_SELF.json alongside.
    def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def jsonLine(keyOf: String => String): String = {
      val qs = results.map { case (k, v) => "\"" + keyOf(k) + "\":" + f3(v) }
        .mkString("{", ",", "}")
      val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
      val ratio = if (calibStart > 0) calibEnd / calibStart else 1.0
      // calibration-normalized total: seconds of bench work per second of
      // the fixed-shape calibration job on the same data, i.e. host-speed
      // units divided out. Cross-round comparisons of the SAME artifact
      // use this, not raw totals — this host drifts ±30% on the hour
      // scale (r11's driver bench read 1.17× median vs r10 purely from a
      // slow host window). calib_mean averages the WHOLE timeline
      // (start, every interleaved point, end), so a mid-run drift
      // segment is weighted by how long it lasted, not by whether it
      // happened to cover an endpoint.
      val calibAll = calibStart +: (calibMid.result() :+ calibEnd)
      val calibMean = calibAll.sum / calibAll.size
      val totalNorm = if (calibMean > 0) total / calibMean else total
      val sweptMap = swept.toMap
      val retr = retried.toSeq.sortBy(_._1).map { case (n, r) =>
        "\"" + keyOf(n) + "\":[" + f3(sweptMap(n)) + "," + f3(r) + "]"
      }.mkString("{", ",", "}")
      val spread =
        if (calibAll.forall(_ > 0)) calibAll.max / calibAll.min else -1.0
      s"""{"metric":"total","value":${f3(total)},"unit":"sec"""" +
        s""","calib_start":${f3(calibStart)},"calib_end":${f3(calibEnd)}""" +
        s""","calib_ratio":${f3(ratio)},"calib_mean":${f3(calibMean)}""" +
        s""","calib_points":[${calibAll.map(f3).mkString(",")}]""" +
        s""","calib_spread":${f3(spread)}""" +
        s""","total_norm":${f3(totalNorm)},"contended":${retried.nonEmpty}""" +
        s""","retried":$retr,"queries":$qs,"sf":"$sfDir"}"""
    }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_OUT", "BENCH_SELF.json")),
      jsonLine(identity) + "\n")
    println(jsonLine(_.split('_').head))
    spark.stop()
  }
}
