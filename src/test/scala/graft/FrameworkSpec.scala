package graft

import graft.core.{EngineUrl, RunContext}
import graft.examples.{CleanDocuments, LangSummary}
import graft.model._
import graft.sources.{ConnectorRegistry, SchemaRules}
import org.apache.spark.sql.SparkSession
import java.nio.file.Files

class FrameworkSpec extends SparkSpec {

  // ---- EngineUrl ----------------------------------------------------------

  test("engine url parses scheme, modifiers, path, options") {
    val u = EngineUrl.parse("gz+s3+csv://bucket/data.csv;encoding=utf-8;start=2")
    assert(u.scheme == "csv")
    assert(u.modifiers == Seq("gz", "s3"))
    assert(u.path == "bucket/data.csv")
    assert(u.options == Map("encoding" -> "utf-8", "start" -> "2"))
    assert(u.sparkPath == "s3a://bucket/data.csv")
  }

  test("engine url round-trips through toString and rejects junk") {
    val u = EngineUrl.parse("csv://a/b.csv;x=1")
    assert(EngineUrl.parse(u.toString) == u)
    intercept[EngineUrl.ParseError](EngineUrl.parse("no-scheme-here"))
    intercept[EngineUrl.ParseError](EngineUrl.parse("://path"))
    assert(EngineUrl.isWildcard(EngineUrl.parse("csv://dir/*.csv")))
  }

  // ---- RunContext ---------------------------------------------------------

  test("run context resolves vars and secrets, lock doc excludes secrets") {
    val ctx = RunContext()
      .withVars("build_id" -> "b42", "root" -> "/data")
      .withSecrets("token" -> "hunter2")
    assert(ctx.resolve("csv://{root}/{build_id}/x.csv;auth={token}")
      == "csv:///data/b42/x.csv;auth=hunter2")
    assert(ctx.lockDoc == Map("build_id" -> "b42", "root" -> "/data"))
    val err = intercept[RunContext#UnresolvedVar](ctx.resolve("{missing}"))
    assert(err.getMessage.contains("missing"))
  }

  test("scoped context does not leak") {
    val ctx = RunContext().withVars("a" -> "1")
    val inner = ctx.scoped("a" -> "2")(c => c.resolve("{a}"))
    assert(inner == "2")
    assert(ctx.resolve("{a}") == "1")
  }

  // ---- Connector registry -------------------------------------------------

  test("registry routes schemes and reports unknown ones") {
    assert(ConnectorRegistry.forScheme("csv") != null)
    assert(ConnectorRegistry.forScheme("tsv") != null)
    assert(ConnectorRegistry.forScheme("parquet") != null)
    val err = intercept[IllegalArgumentException](
      ConnectorRegistry.forScheme("carrier-pigeon"))
    assert(err.getMessage.contains("known:"))
  }

  test("fake connector serves in-memory rows; plugin registration works") {
    val df = ConnectorRegistry.read(spark, "fake://anything")
    assert(df.count() == 2)
    object Plugin extends graft.sources.Connector {
      val schemes = Seq("plugin-test")
      def read(s: SparkSession, url: EngineUrl) = s.range(3).toDF("i")
    }
    ConnectorRegistry.register(Plugin)
    assert(ConnectorRegistry.read(spark, "plugin-test://x").count() == 3)
  }

  test("schema rules: required, expected, alias") {
    val df = spark.range(1).selectExpr("id AS a", "id AS b")
    def url(opts: String) = EngineUrl.parse(s"csv://x$opts")
    assert(SchemaRules.apply(df, url(";required=a")).columns.sameElements(Array("a", "b")))
    intercept[SchemaRules.SchemaViolation](SchemaRules.apply(df, url(";required=z")))
    assert(SchemaRules.apply(df, url(";expected=a,b")) != null)
    intercept[SchemaRules.SchemaViolation](SchemaRules.apply(df, url(";expected=b,a")))
    assert(SchemaRules.apply(df, url(";alias=x,y")).columns.sameElements(Array("x", "y")))
    intercept[SchemaRules.SchemaViolation](SchemaRules.apply(df, url(";alias=only-one")))
  }

  // ---- Model lifecycle ----------------------------------------------------

  private def tmpDir(): String =
    Files.createTempDirectory("graft-test").toString

  class CopyModel(in: String, out: String) extends Model {
    override def name = "CopyModel"
    val connects = Map(
      "src" -> Connect(in, AccessMode.Read),
      "dst" -> Connect(out, AccessMode.Write))
    var preRan = false
    var postRan = false
    override def preBuildCheck(s: SparkSession, io: ModelIo) = {
      preRan = true; Checks.nonEmpty(io.read("src"))
    }
    def build(s: SparkSession, io: ModelIo): Unit = {
      val df = io.read("src")
      stat(s, "rows_in").add(df.count())
      io.write("dst", df.filter(org.apache.spark.sql.functions.col("r_regionkey") >= 0))
    }
    override def postBuildCheck(s: SparkSession, io: ModelIo) = {
      postRan = true; Checks.rowCountBetween(io.readBack("dst"), 1, 1000)
    }
  }

  test("model lifecycle: pre-check, build, post-check, stats, lock") {
    val out = tmpDir()
    val m = new CopyModel(s"parquet://$sf0001/region.parquet", s"parquet://$out/region")
    val ctx = RunContext().withVars("build" -> "r1").withSecrets("pw" -> "x")
    assert(m.go(spark, ctx))
    assert(m.preRan && m.postRan)
    assert(m.stats("rows_in").value == 5)
    // a re-run reports its own counters, not both runs' sum
    assert(m.go(spark, ctx))
    assert(m.stats("rows_in").value == 5)
    val lock = m.lock(ctx)
    assert(lock("build") == "r1")
    assert(lock("dataset.src").endsWith("region.parquet"))
    assert(!lock.values.exists(_.contains("x") && lock.keys.exists(_.contains("pw"))))
  }

  test("model io enforces access modes and templating") {
    val m = new CopyModel("parquet://{root}/region.parquet", "parquet:///tmp/never")
    val io = new ModelIo(spark, m, RunContext().withVars("root" -> sf0001))
    assert(io.read("src").count() == 5)
    assert(io.resolvedUrl("src") == s"parquet://$sf0001/region.parquet")
    intercept[IllegalArgumentException](io.read("nope"))
    intercept[IllegalArgumentException](io.write("src", spark.range(1).toDF()))
  }

  // ---- ModelGraph ---------------------------------------------------------

  class Stub(val modelName: String, reads: Seq[String], writes: Seq[String],
      log: scala.collection.mutable.Buffer[String] = null) extends Model {
    override def name = modelName
    val connects: Map[String, Connect] =
      reads.zipWithIndex.map { case (u, i) => s"r$i" -> Connect(u, AccessMode.Read) }.toMap ++
      writes.zipWithIndex.map { case (u, i) => s"w$i" -> Connect(u, AccessMode.Write) }.toMap
    def build(s: SparkSession, io: ModelIo): Unit =
      if (log != null) log.synchronized { log += modelName }
  }

  test("run order stages by dataset dependencies") {
    val a = new Stub("A", Seq("x://raw"), Seq("x://mid1"))
    val b = new Stub("B", Seq("x://raw"), Seq("x://mid2"))
    val c = new Stub("C", Seq("x://mid1", "x://mid2"), Seq("x://out"))
    val order = new ModelGraph(Seq(c, b, a)).runOrder()
    assert(order.map(_.map(_.name).toSet) == Seq(Set("A", "B"), Set("C")))
  }

  test("cycles are rejected") {
    val a = new Stub("A", Seq("x://fromB"), Seq("x://fromA"))
    val b = new Stub("B", Seq("x://fromA"), Seq("x://fromB"))
    val g = new ModelGraph(Seq(a, b))
    intercept[g.CycleError](g.runOrder())
  }

  test("provenance edges and mermaid") {
    val a = new Stub("A", Seq(), Seq("x://d1"))
    val b = new Stub("B", Seq("x://d1"), Seq())
    val g = new ModelGraph(Seq(a, b))
    assert(g.provenance() == Seq(("A", "B", "x://d1")))
    assert(g.mermaid().startsWith("graph TD"))
    assert(g.mermaid().contains("A -->"))
  }

  test("models within a stage run concurrently") {
    val overlaps = new java.util.concurrent.atomic.AtomicInteger()
    val running = new java.util.concurrent.atomic.AtomicInteger()
    class Slow(n: String) extends Stub(n, Seq(), Seq(s"x://$n")) {
      override def build(s: SparkSession, io: ModelIo): Unit = {
        if (running.incrementAndGet() > 1) overlaps.incrementAndGet()
        Thread.sleep(300)
        running.decrementAndGet()
      }
    }
    new ModelGraph(Seq(new Slow("S1"), new Slow("S2"), new Slow("S3"))).run(spark)
    assert(overlaps.get() > 0, "stage models never overlapped in time")
  }

  test("graph run executes stages in dependency order") {
    val log = scala.collection.mutable.Buffer[String]()
    val a = new Stub("A", Seq(), Seq("x://d1"), log)
    val c = new Stub("C", Seq("x://d1"), Seq("x://d2"), log)
    val d = new Stub("D", Seq("x://d2"), Seq(), log)
    new ModelGraph(Seq(d, c, a)).run(spark)
    assert(log.toSeq == Seq("A", "C", "D"))
  }

  // ---- Manifest -----------------------------------------------------------

  test("manifest: engine urls, mapper, lock file") {
    val dir = tmpDir()
    val mf = s"$dir/manifest.json"
    Files.writeString(java.nio.file.Paths.get(mf),
      """{"build": "b7", "engine_urls": ["csv://a.csv", "parquet://b"]}""")
    assert(Manifest.engineUrls(mf) == Seq("csv://a.csv", "parquet://b"))

    val mapper = Manifest.Mapper(Seq("jan", "feb"),
      "csv://in/{item}.csv", "parquet://out/{item}")
    val units = mapper.workUnits(RunContext())
    assert(units == Seq(
      ("csv://in/jan.csv", "parquet://out/jan"),
      ("csv://in/feb.csv", "parquet://out/feb")))

    val m = new Stub("A", Seq("x://in"), Seq("x://out"))
    Manifest.writeLock(s"$dir/lock.json", m, RunContext().withVars("v" -> "1"))
    val lock = new String(Files.readAllBytes(java.nio.file.Paths.get(s"$dir/lock.json")))
    assert(lock.contains("\"v\": \"1\"") && lock.contains("x://in"))
  }

  // ---- Checks -------------------------------------------------------------

  test("observed metrics are collected during the action, no extra pass") {
    import org.apache.spark.sql.functions._
    val base = Tables.load(spark, sf0001, "orders")
    val (df, obs) = Checks.observed(base, "order_stats",
      "rows" -> count(lit(1)),
      "null_keys" -> sum(when(col("o_orderkey").isNull, 1).otherwise(0)),
      "max_price" -> max(col("o_totalprice")))
    val written = df.filter(col("o_totalprice") > 0).count()
    val m = obs.get
    assert(m("rows").asInstanceOf[Long] == base.count())
    assert(m("null_keys").asInstanceOf[Long] == 0L)
    assert(m("max_price").asInstanceOf[Double] > 0)
    assert(written > 0)
  }

  test("check helpers pass and fail correctly") {
    import org.apache.spark.sql.functions._
    val df = spark.range(5).toDF("id")
    assert(Checks.nonEmpty(df))
    intercept[Checks.CheckFailure](Checks.nonEmpty(df.filter(col("id") < 0)))
    assert(Checks.unique(df, Seq("id")))
    intercept[Checks.CheckFailure](
      Checks.unique(df.union(df), Seq("id")))
    assert(Checks.noNulls(df, Seq("id")))
    assert(Checks.rowCountBetween(df, 1, 10))
    intercept[Checks.CheckFailure](Checks.rowCountBetween(df, 10, 20))
    assert(Checks.conserved(df, df, sum("id"), sum("id")))
    assert(Checks.noViolations(df, col("id") > 100, "range"))
  }

  /** A write-only model binding `out` to `url`, for ModelIo.writeCounted. */
  private def sinkIo(url: String): ModelIo = {
    val m = new Model {
      val connects = Map("out" -> Connect(url, AccessMode.Write))
      def build(s: SparkSession, io: ModelIo): Unit = ()
    }
    new ModelIo(spark, m, RunContext())
  }

  test("observed counters: an empty input and an all-dropping filter count 0") {
    import org.apache.spark.sql.functions._
    val io = sinkIo(s"parquet://${tmpDir()}/out")
    val empty = spark.range(10).toDF("id").filter(col("id") < 0)
    assert(io.writeCounted("out")(_.observe(empty, "n" -> count(lit(1)))) ==
      Map("n" -> 0L))
    val n = io.writeCounted("out") { c =>
      c.observe(spark.range(10).toDF("id"), "in" -> count(lit(1)),
        "kept" -> count_if(col("id") > 100)).filter(col("id") > 100)
    }
    assert(n == Map("in" -> 10L, "kept" -> 0L))
  }

  test("observed counters: a partitioned write observes every row once") {
    import org.apache.spark.sql.functions._
    val dir = tmpDir()
    val io = sinkIo(s"parquet://$dir/out;partitionBy=p")
    val df = spark.range(1000).toDF("id").withColumn("p", col("id") % 7)
    val n = io.writeCounted("out")(_.observe(df,
      "rows" -> count(lit(1)), "p0" -> count_if(col("p") === 0)))
    assert(n == Map("rows" -> 1000L, "p0" -> 143L))
    assert(spark.read.parquet(s"$dir/out").count() == 1000L)
  }

  test("observed counters: a counter pruned with an empty join side raises") {
    import org.apache.spark.sql.functions._
    val io = sinkIo(s"parquet://${tmpDir()}/out")
    // empty only at run time, so adaptive execution (not the optimizer)
    // replaces the join, and the observed side with it
    val none = spark.range(100).toDF("id").filter(col("id") < 0)
    val e = intercept[Checks.CheckFailure] {
      io.writeCounted("out") { c =>
        c.observe(spark.range(100).toDF("id"), "left_rows" -> count(lit(1)))
          .join(none, "id")
      }
    }
    assert(e.getMessage.contains("counter left_rows was not observed"))
  }

  test("fused checks raise the single checks' messages, one action each") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def msg(f: => Boolean): String = intercept[Checks.CheckFailure](f).getMessage
    val ok = Seq[(java.lang.Long, String)]((1L, "a"), (2L, "b")).toDF("k", "v")
    assert(Checks.uniqueNoNulls(ok, Seq("k"), Seq("k", "v")))
    assert(Checks.checkedCount(ok, Seq("k"), Seq("v")) == 2L)
    assert(Checks.checkedCount(ok.filter(col("k") < 0), Seq("k")) == 0L)
    val dup = Seq[(java.lang.Long, String)]((1L, "a"), (1L, "b")).toDF("k", "v")
    assert(msg(Checks.uniqueNoNulls(dup, Seq("k"), Seq("k", "v"))) ==
      msg(Checks.unique(dup, Seq("k"))))
    assert(msg(Checks.unique(dup, Seq("k"))) == "duplicate keys on (k)")
    val nullKey = Seq[(java.lang.Long, String)]((null, "a"), (2L, "b")).toDF("k", "v")
    assert(msg(Checks.uniqueNoNulls(nullKey, Seq("k"), Seq("k", "v"))) ==
      msg(Checks.noNulls(nullKey, Seq("k", "v"))))
    assert(msg(Checks.noNulls(nullKey, Seq("k", "v"))) == "nulls in k")
    val nullCol = Seq[(java.lang.Long, String)]((1L, "a"), (2L, null)).toDF("k", "v")
    assert(msg(Checks.uniqueNoNulls(nullCol, Seq("k"), Seq("k", "v"))) ==
      msg(Checks.noNulls(nullCol, Seq("k", "v"))))
    assert(msg(Checks.noNulls(nullCol, Seq("k", "v"))) == "nulls in v")
    assert(msg(Checks.conserved(ok, ok, count(lit(1)), sum(col("k")))) ==
      "conservation violated: 2 != 3")
    // each check is one action
    assert(FrameworkSpec.actionsDuring(spark)(
      Checks.uniqueNoNulls(ok, Seq("k"), Seq("k", "v"))) == 1)
    assert(FrameworkSpec.actionsDuring(spark)(
      Checks.conserved(ok, ok, count(lit(1)), count(lit(1)))) == 1)
    assert(FrameworkSpec.actionsDuring(spark)(
      Checks.noNulls(ok, Seq("k", "v"))) == 1)
  }

  test("lazy context vars bind at resolution; lock doc pins the value") {
    var calls = 0
    val ctx = graft.core.RunContext()
      .withVars("fixed" -> "a")
      .withLazyVars("runid" -> (() => { calls += 1; s"r$calls" }))
    assert(ctx.resolve("out/{fixed}/{runid}") == "out/a/r1")
    assert(ctx.resolve("out/{fixed}/{runid}") == "out/a/r2") // re-evaluates
    val lock = ctx.lockDoc
    assert(lock("fixed") == "a" && lock("runid").startsWith("r"))
  }

  test("schema rules: cast option applies per-field read transforms") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("cast_rule").toString
    Seq(("1", "2.5"), ("2", "3.5")).toDF("id", "v")
      .write.mode("overwrite").option("header", "true").csv(dir)
    val df = graft.sources.ConnectorRegistry.read(spark,
      s"csv://$dir;cast=id:bigint,v:double")
    assert(df.schema("id").dataType == org.apache.spark.sql.types.LongType)
    assert(df.schema("v").dataType == org.apache.spark.sql.types.DoubleType)
    assert(df.agg(sum("v")).first().getDouble(0) == 6.0)
    intercept[graft.sources.SchemaRules.SchemaViolation] {
      graft.sources.ConnectorRegistry.read(spark, s"csv://$dir;cast=nope:int")
    }
  }

  // ---- Connector utility surface ------------------------------------------
  // datasource_exists (base.py:341-347), last_modified (base.py:504-515),
  // progress read-fraction (base.py:325-339).

  test("datasource exists: plain paths, globs, absent datasets") {
    import graft.sources.DatasetFs
    val dir = Files.createTempDirectory("exists_check").toString
    spark.range(10).toDF("id").write.mode("overwrite").parquet(s"$dir/t")
    assert(DatasetFs.exists(spark, s"parquet://$dir/t"))
    assert(DatasetFs.exists(spark, s"parquet://$dir/*"))
    assert(!DatasetFs.exists(spark, s"parquet://$dir/nope"))
    assert(!DatasetFs.exists(spark, s"parquet://$dir/no*match"))
  }

  test("last modified tracks the newest file in the dataset") {
    import graft.sources.DatasetFs
    val dir = Files.createTempDirectory("mtime_check").toString
    spark.range(5).toDF("id").write.mode("overwrite").parquet(s"$dir/t")
    val first = DatasetFs.lastModified(spark, s"parquet://$dir/t")
    assert(first.isDefined)
    Thread.sleep(1100) // FS mtime granularity can be a full second
    spark.range(5).toDF("id").write.mode("append").parquet(s"$dir/t")
    val second = DatasetFs.lastModified(spark, s"parquet://$dir/t")
    assert(second.get.isAfter(first.get))
    assert(DatasetFs.lastModified(spark, s"parquet://$dir/nope").isEmpty)
  }

  test("read progress reports a 0-to-1 fraction over input bytes") {
    val dir = Files.createTempDirectory("progress_check").toString
    spark.range(100000).toDF("id").write.mode("overwrite").parquet(s"$dir/t")
    val url = s"parquet://$dir/t"
    val tracker = new graft.sources.ReadProgress(spark, url)
    try {
      assert(tracker.progress == 0.0)
      ConnectorRegistry.read(spark, url).agg(Map("id" -> "sum")).collect()
      assert(tracker.progress > 0.0 && tracker.progress <= 1.0)
      assert(tracker.bytesRead > 0)
    } finally tracker.close()
  }

  // ---- Ragged-record parity (SURVEY §7.4) ---------------------------------

  test("ragged csv rows: missing trailing fields read as null (PERMISSIVE)") {
    // The reference fixture tests/data/venomous_creatures.csv has a row with
    // the trailing toxic_scale field omitted entirely; DictReader yields
    // None for it (csv_connector.py:212-214). Spark's PERMISSIVE mode must
    // land the same row with a null, not drop or fail the record.
    val dir = Files.createTempDirectory("ragged_csv")
    val file = dir.resolve("venomous_creatures.csv")
    Files.writeString(file,
      """common_name,native_to,toxic_scale
        |Crown of thorns starfish,Indo-Pacific,4
        |Golden dart frog,Colombia,7
        |Geo textile cone shell,
        |Stonefish,All over,6
        |""".stripMargin)
    val df = ConnectorRegistry.read(spark,
      s"csv://$file;schema=common_name STRING, native_to STRING, toxic_scale INT")
    val rows = df.collect().map(r =>
      (r.getAs[String]("common_name"), r.getAs[String]("native_to"),
        if (r.isNullAt(2)) None else Some(r.getInt(2))))
    assert(rows.length == 4, "ragged row must survive, not be dropped")
    val ragged = rows.find(_._1 == "Geo textile cone shell").get
    assert(ragged._3.isEmpty, "omitted trailing field reads as null")
    assert(rows.find(_._1 == "Stonefish").get == (("Stonefish", "All over", Some(6))))
    assert(rows.find(_._1 == "Golden dart frog").get._3.contains(7))
  }

  test("sql passthrough supports named parameters") {
    import org.apache.spark.sql.functions._
    Tables.registerAll(spark, sf0001)
    val n = spark.sql(
      "SELECT COUNT(*) AS n FROM orders WHERE o_totalprice > :lo",
      Map("lo" -> 100000.0)).first().getLong(0)
    val expected = Tables.load(spark, sf0001, "orders")
      .filter(col("o_totalprice") > 100000.0).count()
    assert(n == expected)
  }

  test("csv write honors ;sep/;encoding/;header; read round-trips them") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("csvopts").toString
    val df = Seq((1, "Ségur"), (2, "naïve"), (3, "plain")).toDF("id", "w")
    ConnectorRegistry.write(df.coalesce(1),
      s"csv://$out;sep=|;encoding=ISO-8859-1;header=false")
    // Raw bytes prove the writer used the pipe sep and Latin-1 encoding
    // (é is one byte 0xE9 in Latin-1, two bytes in UTF-8).
    val file = new java.io.File(out).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv")).head
    val bytes = java.nio.file.Files.readAllBytes(file.toPath)
    assert(bytes.contains('|'.toByte))
    assert(bytes.contains(0xE9.toByte), "Latin-1 single-byte é expected")
    val back = ConnectorRegistry.read(spark,
      s"csv://$out;sep=|;encoding=ISO-8859-1;header=false;schema=id INT, w STRING")
    assert(back.orderBy("id").as[(Int, String)].collect().toSeq ==
      Seq((1, "Ségur"), (2, "naïve"), (3, "plain")))
  }

  test("csv ;start/;end row range: exact slice, header kept, globs rejected") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("csvrange").toString
    (0 until 50).map(i => (i, s"row$i")).toDF("id", "w")
      .orderBy("id").coalesce(1)
      .write.mode("overwrite").option("header", "true").csv(out)
    val sliced = ConnectorRegistry.read(spark,
      s"csv://$out/*.csv;start=10;end=13;schema=id INT, w STRING")
    assert(sliced.orderBy("id").as[(Int, String)].collect().toSeq ==
      Seq((10, "row10"), (11, "row11"), (12, "row12")))
    // open-ended ;start= only
    assert(ConnectorRegistry.read(spark,
      s"csv://$out/*.csv;start=47;schema=id INT, w STRING").count() == 3)
    // multi-file positional range must fail loudly, not silently reorder
    (50 until 60).map(i => (i, s"row$i")).toDF("id", "w").coalesce(1)
      .write.mode("overwrite").option("header", "true").csv(s"$out/more")
    val err = intercept[IllegalArgumentException] {
      ConnectorRegistry.read(spark,
        s"csv://$out/*;start=0;end=5;schema=id INT, w STRING").count()
    }
    assert(err.getMessage.contains("exactly one file"))
  }

  test("incremental rebuild: up-to-date models skip, stale inputs cascade") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = Files.createTempDirectory("incr").toString
    Seq((1L, "en", 150L, "a", "x"), (2L, "fr", 200L, "b", "y"))
      .toDF("doc_id", "lang", "n_chars", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/raw")
    def graph() = new ModelGraph(Seq(
      new LangSummary(s"parquet://$dir/clean", s"parquet://$dir/summary"),
      new CleanDocuments(s"parquet://$dir/raw", s"parquet://$dir/clean")))
    val first = graph().runIncremental(spark)
    assert(first == Map("CleanDocuments" -> "built", "LangSummary" -> "built"))
    // nothing changed: the whole DAG is a no-op
    val second = graph().runIncremental(spark)
    assert(second ==
      Map("CleanDocuments" -> "skipped", "LangSummary" -> "skipped"), second)
    // a refreshed leaf input cascades: every downstream model rebuilds
    Thread.sleep(1100) // fs mtime granularity
    Seq((3L, "de", 300L, "c", "z"))
      .toDF("doc_id", "lang", "n_chars", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/raw")
    val third = graph().runIncremental(spark)
    assert(third == Map("CleanDocuments" -> "built", "LangSummary" -> "built"),
      third)
    assert(spark.read.parquet(s"$dir/summary").count() == 1) // just 'de'
    // non-incremental run builds everything regardless
    val forced = graph().runIncremental(spark, incremental = false)
    assert(forced.values.forall(_ == "built"))
  }

  test("graft.checkpoint.dir flips barriers from local to durable checkpoints") {
    import graft.core.Checkpoints._
    import spark.implicits._
    val df = (1 to 100).toDF("x")
    // default: localCheckpoint — nothing written anywhere durable
    assert(df.barrier().count() == 100)
    val dir = Files.createTempDirectory("graft-ckpt").toString
    spark.conf.set(graft.core.Checkpoints.DirKey, dir)
    try {
      assert(df.barrier().count() == 100)
      // durable path: the reliable checkpoint wrote RDD files under dir
      def allFiles(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(allFiles) else Seq(f)
      val written = allFiles(new java.io.File(dir))
      assert(written.exists(_.getName.startsWith("part-")),
        s"expected checkpoint part files under $dir, found: $written")
    } finally spark.conf.unset(graft.core.Checkpoints.DirKey)
  }
}

object FrameworkSpec {
  import org.apache.spark.sql.execution.QueryExecution
  import org.apache.spark.sql.util.QueryExecutionListener

  /** Spark actions (successful or failed) that `f` runs: those whose
    * analysis started after `f` did. Listener events arrive
    * asynchronously and Spark has no public call that drains them, so this
    * waits until no event has arrived for a quarter second.
    */
  def actionsDuring(spark: SparkSession)(f: => Any): Int = {
    val since = System.currentTimeMillis()
    val events, actions = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new QueryExecutionListener {
      private def seen(qe: QueryExecution): Unit = {
        events.incrementAndGet()
        if (qe.tracker.phases.get("analysis").exists(_.startTimeMs >= since))
          actions.incrementAndGet()
      }
      def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit = seen(qe)
      def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = seen(qe)
    }
    spark.listenerManager.register(listener)
    try {
      f
      var last = -1; var still = 0
      while (still < 5) {
        Thread.sleep(50)
        val now = events.get
        if (now == last) still += 1 else { still = 0; last = now }
      }
    } finally spark.listenerManager.unregister(listener)
    actions.get
  }
}
