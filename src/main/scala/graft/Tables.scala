package graft

import graft.sources.ParquetStage
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

  /** Per-(session, dir, table) memo of the ANALYZED read plan. A load
    * stages the table through [[graft.sources.ParquetStage]]: a file
    * listing, one footer read on the driver and analysis, and no Spark
    * job — about 25 ms per table in a fresh session on 4 cores, where
    * Spark's own schema inference job made it 50–80 ms. The memo keeps
    * even that off every later call: production engines amortize it
    * through a catalog/metastore, and this memo is the same thing for the
    * fixed testdata layout. It caches PLAN METADATA only — every action
    * still scans the parquet files — and the testdata dirs are immutable
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
      ParquetStage.read(spark, s"$dir/$name.parquet")

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
    * as raw nanos, then truncated to micros — the same conversion DuckDB
    * applies) and plain TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ).
    * Normalize both to session-zone TimestampType — the session is pinned
    * to UTC everywhere (GraftSession/Bench/Verify), so the NTZ→LTZ cast is
    * value-preserving and downstream operators see one stable type
    * regardless of which generation is on disk. Raw nanos come from
    * staging's private conf copy: the session conf is shared with every
    * concurrent read (ModelGraph runs models on threads) and is not set.
    */
  private def loadEvents(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    val raw = ParquetStage.read(spark, s"$dir/events.parquet", nanosAsLong = true)
    raw.schema("ts").dataType match {
      case LongType      => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => raw
      case _             => raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  /** Register every table as a temp view (for spark.sql-based queries). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
