package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table access for the driver-generated TPC-H-ish testdata (TESTDATA.md).
  *
  * One parquet file per table under `\$dir/`. All reads go through Spark's
  * vectorized parquet reader; column pruning + predicate pushdown are free
  * as long as callers keep plans declarative (see SURVEY.md §4).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Per-(session, dir, table) memo of the ANALYZED read plan. A bare
    * `spark.read.parquet` pays file listing + parquet footer/schema read +
    * analysis on EVERY call — measured ~70 ms per call, ~0.2 s per bench
    * query that loads 2–3 tables. Production engines amortize this through
    * a catalog/metastore; this memo is the same thing for the fixed
    * testdata layout. It caches PLAN METADATA only — every action still
    * scans the parquet files — and the testdata dirs are immutable
    * (TESTDATA.md), so a stale listing cannot occur.
    */
  private val planMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), DataFrame]()

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val key = (spark, dir, name)
    val hit = planMemo.get(key)
    if (hit != null) hit
    else {
      // Evict dead sessions on the (rare) miss path so long-lived JVMs that
      // create and stop many sessions don't accumulate their plans. This
      // runs BEFORE computeIfAbsent: its mapping function must not modify
      // the map (ConcurrentHashMap contract).
      planMemo.keySet.removeIf(k => k._1.sparkContext.isStopped)
      planMemo.computeIfAbsent(key, _ => loadFresh(spark, dir, name))
    }
  }

  private def loadFresh(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") loadEvents(spark, dir) else
      spark.read.parquet(s"$dir/$name.parquet")

  /** Load with scan parallelism at least the cluster's. The testdata ships
    * one row-group per file, so the raw scan is a single task and every
    * map-heavy stage before the first shuffle would run on one core; a
    * production table has many files/row-groups and this repartition is
    * skipped entirely. Only worth it when per-row compute dominates the
    * one extra shuffle (shingling, hashing, vector math).
    */
  def loadBalanced(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = load(spark, dir, name)
    val target = spark.sparkContext.defaultParallelism
    // inputFiles (a listing, no job) instead of df.rdd.getNumPartitions: the
    // RDD probe forced a plan-to-RDD conversion per call. One row-group per
    // file means files ≈ scan tasks for this layout; a production table with
    // many files skips the repartition, as intended.
    if (df.inputFiles.length < target) df.repartition(target) else df
  }

  /** `events.ts` has shipped in two physical encodings across testdata
    * generations: TIMESTAMP(NANOS) (rejected by Spark's reader unless read
    * as raw nanos via the legacy conf, then truncated to micros — the same
    * conversion DuckDB applies) and plain TIMESTAMP(MICROS) (read as
    * TIMESTAMP_NTZ). Normalize both to session-zone TimestampType — the
    * session is pinned to UTC everywhere (GraftSession/Bench/Verify), so
    * the NTZ→LTZ cast is value-preserving and downstream operators see one
    * stable type regardless of which generation is on disk.
    */
  private def loadEvents(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try {
      val raw = spark.read.parquet(s"$dir/events.parquet")
      raw.schema("ts").dataType match {
        case LongType      => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case TimestampType => raw
        case _             => raw.withColumn("ts", col("ts").cast(TimestampType))
      }
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** Register every table as a temp view (for spark.sql-based queries). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
