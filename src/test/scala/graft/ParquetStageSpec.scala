package graft

import graft.sources.{ConnectorRegistry, ParquetStage}
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame, Row}
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** Staging a parquet dataset from one driver-side footer read gives the
  * schema and rows `spark.read.parquet` gives, raises the same errors, and
  * runs no Spark job.
  */
class ParquetStageSpec extends SparkSpec {
  private val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"

  private def tmpDir(): String = Files.createTempDirectory("graft-stage").toString

  /** Jobs started while `body` runs. Two marker jobs, tagged by a local
    * property, bracket it: the listener bus delivers job starts in order,
    * so once the closing marker arrives every job in between has too.
    */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[(Int, String)]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(e.jobId -> Option(e.properties).map(_.getProperty("stage.mark")).orNull)
    }
    def mark(tag: String): Unit = {
      sc.setLocalProperty("stage.mark", tag)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("stage.mark", null)
    }
    sc.addSparkListener(l)
    try {
      mark("open"); val r = body; mark("close")
      val deadline = System.nanoTime() + 30e9.toLong
      while (!seen.asScala.exists(_._2 == "close") && System.nanoTime() < deadline)
        Thread.sleep(10)
      val ids = seen.asScala.toSeq
      def idOf(tag: String) = ids.collectFirst { case (id, `tag`) => id }.get
      (r, ids.count { case (id, _) => id > idOf("open") && id < idOf("close") })
    } finally sc.removeSparkListener(l)
  }

  private def sameRows(a: DataFrame, b: DataFrame): Unit = {
    def rows(df: DataFrame) = df.collect().toSeq.sortBy(_.toString)
    assert(rows(a) == rows(b))
  }

  /** Staged equals Spark's own read: schema, rows, and no job to stage. */
  private def assertStagesLikeSpark(path: String): DataFrame = {
    val (staged, jobs) = jobsDuring(ParquetStage.read(spark, path))
    assert(jobs == 0, s"staging $path ran $jobs job(s)")
    val ref = spark.read.parquet(path)
    assert(staged.schema == ref.schema, path)
    sameRows(staged, ref)
    staged
  }

  test("every sf0.01 table stages like spark.read.parquet with no job") {
    Tables.names.foreach(n => assertStagesLikeSpark(s"$sf001/$n.parquet"))
  }

  test("a multi-part-file directory written through the connector") {
    val out = tmpDir() + "/orders"
    ConnectorRegistry.write(
      Tables.load(spark, sf001, "orders").repartition(3), s"parquet://$out")
    assert(new java.io.File(out).list().count(_.endsWith(".parquet")) == 3)
    assertStagesLikeSpark(out)
    val (viaConnector, jobs) = jobsDuring(ConnectorRegistry.read(spark, s"parquet://$out"))
    assert(jobs == 0)
    assert(viaConnector.schema == spark.read.parquet(out).schema)
  }

  test("a partitionBy directory keeps Spark's partition discovery") {
    val out = tmpDir() + "/cust"
    ConnectorRegistry.write(Tables.load(spark, sf001, "customer"),
      s"parquet://$out;partitionBy=c_mktsegment")
    val staged = assertStagesLikeSpark(out)
    assert(staged.schema.fieldNames.last == "c_mktsegment")
    assertStagesLikeSpark(s"$out/*")
  }

  test("nested, decimal and timestamp_ntz columns from a Spark-written file") {
    val out = tmpDir() + "/typed"
    spark.sql(
      """SELECT id,
        |  named_struct('a', id, 'b', array(id, id + 1),
        |    'c', map('k', CAST(id AS STRING))) AS s,
        |  array(named_struct('x', CAST(id AS DOUBLE))) AS arr,
        |  CAST(id AS DECIMAL(9, 2)) AS d9,
        |  CAST(id * 1000003 AS DECIMAL(38, 6)) AS d38,
        |  TIMESTAMP_NTZ'2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, id) AS ntz,
        |  TIMESTAMP'2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, id) AS ltz
        |FROM range(40)""".stripMargin)
      .repartition(2).write.parquet(out)
    val staged = assertStagesLikeSpark(out)
    assert(staged.schema("ntz").dataType == org.apache.spark.sql.types.TimestampNTZType)
  }

  /** An events file whose `ts` is INT64 TIMESTAMP(NANOS), the encoding of
    * an older testdata generation (not written by Spark, so no Spark
    * row-metadata schema in its footer).
    */
  private def writeNanosEvents(dir: String, nanos: Seq[Long]): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  required int64 event_id;
        |  required int64 ts (TIMESTAMP(NANOS,false));
        |}""".stripMargin)
    val w = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet"))
      .withType(schema).build()
    val f = new SimpleGroupFactory(schema)
    try nanos.zipWithIndex.foreach { case (t, i) =>
      w.write(f.newGroup().append("event_id", i.toLong).append("ts", t))
    } finally w.close()
  }

  test("events stage like spark.read.parquet under the nanos conf") {
    val dir = tmpDir()
    val nanos = Seq(1704067200123456789L, 1704067201000000999L, 1704153600000001000L)
    writeNanosEvents(dir, nanos)
    spark.conf.set(nanosKey, "true")
    try {
      Seq(s"$sf001/events.parquet", s"$dir/events.parquet").foreach { p =>
        val (staged, jobs) = jobsDuring(ParquetStage.read(spark, p, nanosAsLong = true))
        assert(jobs == 0)
        val ref = spark.read.parquet(p)
        assert(staged.schema == ref.schema, p)
        sameRows(staged, ref)
      }
      assert(ParquetStage.read(spark, s"$dir/events.parquet", nanosAsLong = true)
        .schema("ts").dataType == org.apache.spark.sql.types.LongType)
    } finally spark.conf.unset(nanosKey)
  }

  test("a nanos events table loads as micros with the session conf untouched") {
    val dir = tmpDir()
    val nanos = Seq(1704067200123456789L, 1704067201000000999L)
    writeNanosEvents(dir, nanos)
    val s = spark.newSession()
    val before = s.conf.getAll
    val (events, jobs) = jobsDuring(Tables.load(s, dir, "events"))
    assert(jobs == 0)
    assert(s.conf.getAll == before && s.conf.get(nanosKey) == "false")
    val got = events.selectExpr("unix_micros(ts)").collect().map(_.getLong(0)).toSeq
    assert(got == nanos.map(_ / 1000))
  }

  test("missing, empty and _SUCCESS-only paths raise Spark's error") {
    def condition(read: => DataFrame): String =
      intercept[AnalysisException](read).getCondition
    val empty = tmpDir()
    val onlySuccess = tmpDir()
    Files.createFile(java.nio.file.Paths.get(onlySuccess, "_SUCCESS"))
    Seq(tmpDir() + "/missing", s"${tmpDir()}/nothing*", empty, onlySuccess).foreach { p =>
      val expected = condition(spark.read.parquet(p))
      assert(condition(ParquetStage.read(spark, p)) == expected, p)
    }
    assert(condition(ParquetStage.read(spark, empty)) == "UNABLE_TO_INFER_SCHEMA")
  }

  test("concurrent events and orders loads never touch the session conf") {
    val failures = new ConcurrentLinkedQueue[Throwable]()
    (1 to 50).foreach { _ =>
      val s = spark.newSession()
      val before = s.conf.getAll
      @volatile var loading = true
      var sawNanos = false
      val watcher = new Thread(() =>
        while (loading) if (s.conf.get(nanosKey) != "false") sawNanos = true)
      def loader(tables: Seq[String]) = new Thread(() =>
        try tables.foreach(t => Tables.load(s, sf001, t).schema)
        catch { case e: Throwable => failures.add(e) })
      val loaders = Seq(loader(Seq("events", "orders")), loader(Seq("orders", "events")))
      watcher.start(); loaders.foreach(_.start()); loaders.foreach(_.join())
      loading = false; watcher.join()
      assert(!sawNanos)
      assert(s.conf.getAll == before)
    }
    assert(failures.isEmpty, failures.asScala.mkString("\n"))
  }

  test("mergeSchema keeps Spark's merging read") {
    val out = tmpDir() + "/evolved"
    spark.range(5).selectExpr("id", "CAST(id AS STRING) AS a").write.parquet(s"$out/b=1")
    spark.range(5).selectExpr("id", "id * 2 AS c").write.parquet(s"$out/b=2")
    val merged = ParquetStage.read(spark, out, mergeSchema = true)
    assert(merged.schema == spark.read.option("mergeSchema", "true").parquet(out).schema)
    assert(merged.schema.fieldNames.toSeq == Seq("id", "a", "c", "b"))
    assert(merged.collect().map { case Row(_, _, _, b: Int) => b }.sorted.toSeq ==
      Seq.fill(5)(1) ++ Seq.fill(5)(2))
  }
}
