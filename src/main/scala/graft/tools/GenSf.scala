package graft.tools

import graft.GraftSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic scale-factor data generator for the sf1 scale rehearsal:
  * `runMain graft.tools.GenSf <outDir> [sf]` writes the full test-schema
  * star (region nation customer supplier part orders lineitem events
  * documents embeddings) at `sf` (default 1.0), shaped to match the
  * driver-generated sf0.1 tables — same columns, same types, same value
  * domains (quantities 1..50, discounts 0..0.10, ship dates 1995..2001,
  * five event types, 2-dp event values, 64-d embeddings in 10 clusters,
  * vocab-token documents with a planted near-duplicate tail) — so every
  * query AND its DuckDB oracle run unchanged at the larger scale.
  *
  * Generation is Spark-parallel and seed-deterministic: each row derives
  * from a splitmix64 hash of its id (the graft-synth design), so the
  * corpus is identical under any partitioning and any cluster size —
  * exactly how a 100 TB load-test corpus has to be built.
  */
object GenSf {

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** uniform double in [0,1) from (id, stream) — pure column expr would
    * be nicer but the per-row fanouts below want scala-side hashing.
    */
  private def u(id: Long, stream: Long): Double =
    (mix(id ^ mix(stream)) >>> 11).toDouble / (1L << 53).toDouble

  private val vocab = Array("key", "agg", "row", "scan", "slow", "fast",
    "table", "value", "part", "hash", "merge", "batch", "spark", "line",
    "sort", "window", "join", "shard", "token", "vector", "stream", "state",
    "plan", "graph", "byte", "filter", "group", "query", "column",
    "order", "small", "customer")

  /** Deterministic vocab-token text for a seed (object-level so executor
    * closures capture only the static object, not the driver session).
    */
  private def docText(seed: Long): String = {
    val n = 8 + (mix(seed ^ 50) % 90).toInt.abs
    val sb = new StringBuilder
    var s = seed
    var j = 0
    while (j < n) {
      s = mix(s)
      if (j > 0) sb.append(' ')
      sb.append(vocab(Math.floorMod(s, vocab.length.toLong).toInt))
      j += 1
    }
    sb.toString
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: GenSf <outDir> [sf]")
    val out = args(0)
    val sf = if (args.length > 1) args(1).toDouble else 1.0
    val spark = GraftSession.builder(GraftSession.envCpus(32)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val nOrders = (1500000 * sf).toLong
    val nCustomers = (150000 * sf).toLong
    val nParts = (200000 * sf).toLong
    val nSuppliers = (10000 * sf).toLong
    val nEvents = (1000000 * sf).toLong
    val nUsers = (15000 * sf).toLong
    val nDocs = (50000 * sf).toLong
    val nVecs = (20000 * sf).toLong

    // one parquet FILE per table (the driver's testdata layout, which the
    // DuckDB oracle reads by literal path): write parallel, then coalesce
    // the part files into place via a single-file rewrite. The file must
    // still be SPLITTABLE: parquet parallelism is per ROW GROUP, and the
    // default 128 MB block size left sf1's lineitem as ONE row group —
    // every first-stage scan ran on a single task, silently serializing
    // the whole sf1 rehearsal's scan stages (found round 10 via q122
    // measuring slower at sf1 than sf3, which happened to get 3 groups).
    // 8 MB groups ≈ 13 splits at sf1 / 39 at sf3 — proportional layouts,
    // so cross-SF timing ratios measure the PLAN, not the file geometry.
    def save(df: DataFrame, name: String): Unit = {
      val tmp = s"$out/.tmp_$name"
      df.coalesce(1).write.mode("overwrite")
        .option("parquet.block.size", (8L << 20).toString)
        .parquet(tmp)
      val dir = new java.io.File(tmp)
      val part = dir.listFiles().find(_.getName.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException(s"no part file in $tmp"))
      val dest = new java.io.File(s"$out/$name.parquet")
      if (dest.exists()) dest.delete()
      require(part.renameTo(dest), s"rename failed for $name")
      dir.listFiles().foreach(_.delete())
      dir.delete()
      println(s"[gensf] wrote $name")
    }

    // -- dims ---------------------------------------------------------------
    save(Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"),
      (4, "MIDDLE EAST")).toDF("r_regionkey", "r_name"), "region")
    save((0 until 25).map(i => (i, s"NATION_$i", i % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey"), "nation")

    val segments = Array("MACHINERY", "AUTOMOBILE", "HOUSEHOLD",
      "FURNITURE", "BUILDING")
    save(spark.range(nCustomers).map { i =>
      (i, f"Customer#$i%09d", (mix(i ^ 1) % 25).toInt.abs,
        math.floor((u(i, 2) * 11000 - 1000) * 100) / 100,
        segments((mix(i ^ 3) % 5).toInt.abs))
    }.toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .withColumn("c_nationkey", col("c_nationkey").cast("int")), "customer")

    save(spark.range(nSuppliers).map { i =>
      (i, f"Supplier#$i%09d", (mix(i ^ 4) % 25).toInt.abs,
        math.floor((u(i, 5) * 11000 - 1000) * 100) / 100)
    }.toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      .withColumn("s_nationkey", col("s_nationkey").cast("int")), "supplier")

    val adjectives = Array("large", "hot", "blue", "old", "small", "red",
      "green", "shiny", "dark", "light")
    val nouns = Array("ring", "bolt", "plate", "cap", "screw", "washer",
      "gear", "wheel", "pin", "rod")
    val ptypes = Array("LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM",
      "PROMO")
    save(spark.range(nParts).map { i =>
      (i, s"${adjectives((mix(i ^ 6) % 10).toInt.abs)} ${nouns((mix(i ^ 7) % 10).toInt.abs)}",
        s"Brand#${(mix(i ^ 8) % 25).toInt.abs + 1}",
        ptypes((mix(i ^ 9) % 6).toInt.abs),
        (mix(i ^ 10) % 50).toInt.abs + 1,
        math.floor((900 + u(i, 11) * 100) * 100) / 100)
    }.toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size",
      "p_retailprice")
      .withColumn("p_size", col("p_size").cast("int")), "part")

    // -- orders + lineitem --------------------------------------------------
    val dayMs = 86400000L
    val t1995 = 788918400000L // 1995-01-01 UTC
    val statuses = Array("F", "O", "P")
    val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM",
      "4-NOT SPECIFIED", "5-LOW")
    save(spark.range(nOrders).map { i =>
      val d = t1995 + (u(i, 20) * 2404 * dayMs).toLong / dayMs * dayMs
      (i, mix(i ^ 21).abs % nCustomers,
        statuses((mix(i ^ 22) % 3).toInt.abs),
        math.floor((1000 + u(i, 23) * 499000) * 100) / 100,
        new java.sql.Timestamp(d),
        priorities((mix(i ^ 24) % 5).toInt.abs))
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority"), "orders")

    val retflags = Array("A", "N", "R")
    val linestat = Array("F", "O")
    save(spark.range(nOrders).flatMap { o =>
      val n = 1 + (mix(o ^ 30) % 7).toInt.abs
      (1 to n).map { ln =>
        val id = o * 8 + ln
        val ship = t1995 + 86400000L +
          (u(id, 31) * 2495 * dayMs).toLong / dayMs * dayMs
        (o, mix(id ^ 32).abs % nParts, mix(id ^ 33).abs % nSuppliers, ln,
          ((mix(id ^ 34) % 50).toInt.abs + 1).toDouble,
          math.floor((900 + u(id, 35) * 104100) * 100) / 100,
          ((mix(id ^ 36) % 11).toInt.abs).toDouble / 100.0,
          ((mix(id ^ 37) % 9).toInt.abs).toDouble / 100.0,
          retflags((mix(id ^ 38) % 3).toInt.abs),
          linestat((mix(id ^ 39) % 2).toInt.abs),
          new java.sql.Timestamp(ship))
      }
    }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax",
      "l_returnflag", "l_linestatus", "l_shipdate")
      .withColumn("l_linenumber", col("l_linenumber").cast("int")), "lineitem")

    // -- events -------------------------------------------------------------
    // sf0.1 = 100k events / 30 days; scale the window with volume so the
    // arrival rate (and the per-week/weekly-drift shapes) stay realistic
    val t2024 = 1704067200000L // 2024-01-01 UTC
    val windowMs = (30 * dayMs * (nEvents / 100000.0)).toLong
    val etypes = Array("signup", "purchase", "view", "click", "error")
    save(spark.range(nEvents).map { i =>
      (i, new java.sql.Timestamp(t2024 + (u(i, 40) * windowMs).toLong),
        mix(i ^ 41).abs % nUsers,
        etypes((mix(i ^ 42) % 5).toInt.abs),
        math.floor(u(i, 43) * 561 * 100) / 100,
        s"""{"k": ${(mix(i ^ 44) % 100).toInt.abs}}""")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
      "events")

    // -- documents: vocab-token text with a planted 2% near-dup tail --------
    val langs = Array("en", "en", "en", "de", "es", "zh", "fr") // en-heavy
    save(spark.range(nDocs).map { i =>
      // last 2% are near-duplicates of an earlier doc: same token stream
      // with one word appended — MinHash/SimHash queries get real prey
      val base: Long =
        if (i >= nDocs * 98 / 100) mix(i ^ 51).abs % (nDocs / 2) else i
      val t0 = docText(base * 7919L + 13)
      val text = if (base == i) t0 else t0 + " stream"
      (i, text, langs((mix(i ^ 52) % langs.length).toInt.abs),
        s"src${(mix(i ^ 53) % 20).toInt.abs}", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars"), "documents")

    // -- embeddings: 64-d, 10 planted clusters ------------------------------
    save(spark.range(nVecs).map { i =>
      val label = (mix(i ^ 60) % 10).toInt.abs
      val vec = Array.tabulate(64) { d =>
        val center = ((mix(label * 131L ^ d) % 1000).toInt.abs / 1000.0 - 0.5)
        (center * 0.6 + (u(i * 64 + d, 61) - 0.5) * 0.3).toFloat
      }
      (i, vec, label)
    }.toDF("vec_id", "embedding", "label")
      .withColumn("label", col("label").cast("int")), "embeddings")

    println(s"[gensf] done: $out at sf=$sf")
    spark.stop()
  }
}
