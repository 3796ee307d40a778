package graft

import graft.operators.{Similarity, SkewJoin}
import org.apache.spark.sql.functions._

/** Scale-technique verification: salting equivalence, bucketed co-located
  * joins (shuffle elimination), and IVF probe accounting.
  */
class ScaleSpec extends SparkSpec {

  test("salted join equals plain join on skewed data") {
    import spark.implicits._
    // 90% of rows share one hot key
    val left = (1 to 5000).map(i => (if (i % 10 == 0) i.toLong else 7L, i))
      .toDF("k", "v")
    val right = (1 to 100).map(i => (i.toLong, s"r$i")).toDF("k", "name")
    val plain = left.join(right, Seq("k")).select("k", "v", "name")
      .collect().map(_.toSeq).sortBy(_.toString)
    val salted = SkewJoin.saltedInnerJoin(left, right, "k", 8)
      .select("k", "v", "name").collect().map(_.toSeq).sortBy(_.toString)
    assert(plain.length == salted.length && plain.sameElements(salted))
  }

  test("salted count equals plain count per key") {
    import spark.implicits._
    val df = (1 to 2000).map(i => (if (i % 5 == 0) "hot" else s"k$i", i))
      .toDF("k", "v")
    val plain = df.groupBy("k").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = SkewJoin.saltedCount(df, "k", 8).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(plain == salted)
  }

  test("bucketed tables join without a shuffle") {
    // force the sort-merge path: with broadcast allowed these tiny tables
    // would broadcast (also shuffle-free, but not the property under test)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try bucketedJoinBody()
    finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  private def bucketedJoinBody(): Unit = {
    val o = Tables.load(spark, sf0001, "orders")
    val l = Tables.load(spark, sf0001, "lineitem")
    sources.Layout.writeBucketed(o, "orders_b", "o_orderkey", 8,
      Seq("o_orderkey"))
    sources.Layout.writeBucketed(l, "lineitem_b", "l_orderkey", 8,
      Seq("l_orderkey"))
    val joined = spark.table("orders_b").join(spark.table("lineitem_b"),
      col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
    joined.collect()
    val p = joined.queryExecution.executedPlan.toString
    // the join itself must not exchange either side: the only allowed
    // exchange is for the final groupBy
    val joinIdx = p.indexOf("SortMergeJoin")
    assert(joinIdx >= 0, s"expected sort-merge join:\n$p")
    val belowJoin = p.substring(joinIdx)
    assert(!belowJoin.contains("Exchange hashpartitioning(o_orderkey") &&
      !belowJoin.contains("Exchange hashpartitioning(l_orderkey"),
      s"bucketed join still shuffles:\n$p")
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS lineitem_b")
  }

  test("IVF searches a fraction of the corpus with nonzero recall") {
    val r = Similarity.q55.run(spark, sf0001).collect().head
    val searched = r.getAs[Long]("vectors_searched")
    val total = r.getAs[Long]("corpus_size")
    assert(searched < total, s"IVF searched everything ($searched/$total)")
    assert(r.getAs[Double]("recall_at_10_q0") >= 0.0)
  }

  test("soak: sampling + digest dedup + token stats over 1M synthetic docs") {
    // The synth DSv2 source generates 1M documents across 16 splits with
    // no storage — curation ops must stream through without collecting
    // or materializing documents on the driver.
    import org.apache.spark.sql.functions._
    val docs = spark.read.format("graft-synth")
      .option("rows", 1000000).option("partitions", 16).load()
    val sampled = docs.filter(
      substring(md5(concat(lit("s42:"), col("doc_id").cast("string"))), 1, 2) < "40")
    val stats = sampled
      .groupBy(md5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .agg(count(lit(1)).as("n_distinct"),
        sum(col("n_copies")).as("n_docs"),
        max(col("n_copies")).as("max_copies"))
      .collect().head
    val nDocs = stats.getAs[Long]("n_docs")
    assert(nDocs > 230000 && nDocs < 270000, s"~25% of 1M expected, got $nDocs")
    // 30-80 tokens from a 25-word vocab: full-text collisions are possible
    // but must be rare
    assert(stats.getAs[Long]("n_distinct") > nDocs * 95 / 100)
  }

  test("soak: repetition signals + passage dedup over 200k synthetic docs") {
    // Same contract as the sampling soak: the per-row signals must stream
    // (no driver materialization), and the cross-corpus passage state must
    // stay on the digest key. With a 25-word vocabulary every 32-token
    // passage collides heavily — the worst-case skew shape for q88's
    // digest shuffle — so this doubles as a skew soak.
    import graft.api._
    import org.apache.spark.sql.functions._
    val docs = spark.read.format("graft-synth")
      .option("rows", 200000).option("partitions", 16).load()
    val rep = docs.repetitionSignals("text")
      .agg(count(lit(1)).as("n"),
        min(col("dup_token_frac")), max(col("dup_token_frac")),
        min(col("top_bigram_frac")), max(col("top_bigram_frac")))
      .collect().head
    assert(rep.getLong(0) == 200000)
    assert(rep.getDouble(1) >= 0.0 && rep.getDouble(2) <= 1.0)
    assert(rep.getDouble(3) >= 0.0 && rep.getDouble(4) <= 1.0)
    val pd = docs.passageDedupStats("doc_id", "text")
      .agg(count(lit(1)).as("n"), sum(col("n_passages")).as("total_p"),
        sum(col("n_shared")).as("total_shared"))
      .collect().head
    assert(pd.getLong(0) == 200000)
    assert(pd.getLong(1) >= 200000)           // ≥1 passage per doc
    assert(pd.getLong(2) <= pd.getLong(1))    // shared ⊆ all
  }

  test("AQE splits a skewed join partition at runtime (no manual salting)") {
    // The production answer to q103-style skew when salting is not wired
    // in: AQE detects the oversized partition post-shuffle and splits it.
    // Thresholds are runtime SQL confs, so the tiny test dataset can
    // trigger the same re-plan a 100 TB hot key would.
    import org.apache.spark.sql.functions._
    val confs = Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.keys.map(k =>
      k -> util.Try(spark.conf.get(k)).toOption).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // 95% of left rows share one key → one shuffle partition dwarfs the
      // rest; pad a payload column so it clears the byte threshold
      val left = spark.range(200000).select(
        when(col("id") % 20 =!= 0, lit(7L)).otherwise(col("id")).as("k"),
        concat(lit("x"), lpad(col("id").cast("string"), 64, "0")).as("pad"))
      val right = spark.range(1000).select(col("id").as("k"),
        col("id").cast("string").as("name"))
      val joined = left.join(right, "k")
      // collect() executes THIS queryExecution, so the AdaptiveSparkPlan
      // below is the final re-planned one (count() would plan separately).
      // 190000 hot-key matches + the multiples of 20 under 1000 (50 keys).
      assert(joined.collect().length == 190000 + 50)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true") || plan.contains("skewed"),
        s"AQE did not mark the join skewed:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("soak: exact substring dedup over 50k docs with pathological gram collisions") {
    // The synth source draws 30-80 tokens from a 25-WORD vocabulary, so
    // 20-char grams collide across documents massively — every frequent
    // gram is a "monster" group occurring tens of thousands of times.
    // This is exactly the shape that melts a window-based keeper
    // election (one giant sorted group per boilerplate gram); the
    // groupBy-gram min-struct election must collapse those groups
    // map-side and finish inside a hard wall-time budget. ~14M grams.
    import graft.api._
    import org.apache.spark.sql.functions._
    val t0 = System.nanoTime()
    val docs = spark.read.format("graft-synth")
      .option("rows", 50000).option("partitions", 32).option("seed", 7)
      .load().select(col("doc_id"), col("text"))
    val report = docs.duplicatedSpans()
      .agg(count(lit(1)).as("n"), sum("dup_chars").as("dup"),
        max("max_span").as("worst"))
      .collect().head
    assert(report.getLong(0) == 50000)
    // with a 25-word vocab nearly every doc shares grams
    assert(report.getLong(1) > 0L)
    val cleaned = docs.removeDuplicatedSpans()
    val kept = cleaned.agg(
        count(lit(1)).as("n"), sum(length(col("cleaned"))).as("kept"))
      .collect().head
    assert(kept.getLong(0) == 50000)
    val orig = docs.agg(sum(length(col("text")))).first().getLong(0)
    // almost everything is a duplicate here: the cleaner must strip the
    // bulk of the corpus, and never grow it
    assert(kept.getLong(1) < orig / 2,
      s"kept ${kept.getLong(1)} of $orig chars — dedup did not bite")
    val took = (System.nanoTime() - t0) / 1e9
    // generous: the suite shares one JVM with earlier soaks' cached blocks
    val budgetSec = 240
    assert(took < budgetSec,
      f"substring-dedup soak took $took%.1f s (budget $budgetSec s)")
  }

  test("soak: Zipf-skewed 1M-row synth join — skew handling fires within budget") {
    // sf0.1-equivalent volume (1M rows ≈ lineitem at sf0.17) with a
    // DELIBERATE Zipf key: u^(-1/s) inverse-transform over the synth
    // source's deterministic ids puts ~65% of all rows on key 1. The
    // assertions pin (a) AQE actually re-planned the hot partition
    // (skew=true in the final plan), (b) the salted path agrees with the
    // plain join at volume, (c) the whole soak completes inside a hard
    // wall-time budget — the "does the mitigation actually fire at
    // volume" check, not just the small-data equivalence above.
    val confs = Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "256KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "256KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.keys.map(k =>
      k -> util.Try(spark.conf.get(k)).toOption).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    val t0 = System.nanoTime()
    try {
      val docs = spark.read.format("graft-synth")
        .option("rows", 1000000).option("partitions", 32).option("seed", 11)
        .load()
      // Zipf(s≈1.33) key via inverse transform of a uniform hash;
      // key 1 ≈ 2^-0.75 ≈ 60% of rows, long tail to 10k
      val left = docs.select(
        least(expr("CAST(pow((pmod(xxhash64(doc_id), 1000000) + 1) / 1000000.0," +
          " -0.75) AS BIGINT)"), lit(10000L)).as("k"),
        col("n_chars"), col("lang"))
      val right = spark.range(1, 10001).select(col("id").as("k"),
        concat(lit("dim-"), col("id")).as("name"))
      val joined = left.join(right, "k")
      val total = joined.collect().length
      assert(total == 1000000, s"join dropped rows: $total")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true") || plan.contains("skewed"),
        s"AQE did not mark the 1M-row Zipf join skewed:\n${plan.take(2000)}")
      // hot key really is hot (soak data sanity, not a tautology)
      val hotShare = left.filter(col("k") === 1L).count()
      assert(hotShare > 500000, s"hot key only $hotShare rows")
      // salted path at the same volume agrees on the aggregate
      val salted = SkewJoin.saltedInnerJoin(left, right, "k", 16)
      assert(salted.count() == 1000000)
      val budgetSec = 120
      val took = (System.nanoTime() - t0) / 1e9
      assert(took < budgetSec, f"skew soak took $took%.1f s (budget $budgetSec s)")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("native as-of: string keys stay exact through forced sort spill") {
    // The spill-reader regime: UnsafeExternalSorter force-spills every
    // 100k rows (SparkSpec conf), so the exec's right iterator reads from
    // spill files whose UnsafeRow buffers are REUSED between next() calls.
    // A matchKey held by reference (not copied) goes stale exactly here —
    // the r2 corruption class — and only UTF8String keys expose it (longs
    // are value-copied by eval). 512k rows/side over 64 string keys → ~128k
    // rows per post-shuffle partition, comfortably past the threshold.
    import org.apache.spark.sql.functions._
    import graft.plans.NativeAsOfJoin
    val keys = 64
    val perKey = 8000
    // right: (key_i, t = j*1000, px = i*100000 + j); left probes at +500,
    // so every left row must match the same-j right row: px == id exactly.
    val right = spark.range(keys.toLong * perKey).select(
      concat(lit("key_"), format_string("%03d", (col("id") % keys).cast("int")))
        .as("k"),
      ((col("id") / keys) * 1000).as("t"),
      ((col("id") % keys) * perKey + (col("id") / keys)).cast("double").as("px"))
    val left = spark.range(keys.toLong * perKey).select(
      concat(lit("key_"), format_string("%03d", (col("id") % keys).cast("int")))
        .as("k"),
      ((col("id") / keys) * 1000 + 500).as("t"),
      ((col("id") % keys) * perKey + (col("id") / keys)).as("id"))

    val spilled = new java.util.concurrent.atomic.AtomicLong()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          spilled.addAndGet(e.taskMetrics.diskBytesSpilled)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = NativeAsOfJoin.asof(left, right, "k", "t", "t",
        Map("px" -> "px"))
      // distributed assertion — no driver collect of the 512k results
      assert(out.filter(col("px").isNull || col("px") =!= col("id")).count() == 0)
      assert(out.count() == keys.toLong * perKey)
      // listener events are async — poll briefly for the spill metrics
      val deadline = System.nanoTime() + 10000000000L
      while (spilled.get() == 0 && System.nanoTime() < deadline) Thread.sleep(100)
      assert(spilled.get() > 0, "inputs did not spill: the test lost its point")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("soak: merge upsert + snapshot diff over 1M synthetic keys") {
    // The warehouse path at scale: a 1M-row base, a 100k-row change set
    // (half updates, half inserts) — merge and reconcile without any
    // driver materialization; one co-partitioned join each.
    import graft.api._
    import org.apache.spark.sql.functions._
    val base = spark.range(1000000).select(col("id").as("k"),
      (col("id") % 1000).cast("double").as("v"))
    val changes = spark.range(50000).select((col("id") * 20).as("k"),
      lit(-1.0).as("v"))                           // updates: every 20th key
      .union(spark.range(50000).select((col("id") + 2000000).as("k"),
        lit(-2.0).as("v")))                        // inserts: fresh keys
    val merged = base.mergeUpsert(changes, "k").localCheckpoint()
    assert(merged.count() == 1050000L)
    assert(merged.filter(col("v") === -1.0).count() == 50000L)
    assert(merged.filter(col("v") === -2.0).count() == 50000L)
    val classes = base.snapshotDiff(merged, "k")
      .groupBy("change_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(classes("added") == 50000L)     // the inserted keys
    assert(classes("changed") == 50000L)   // the updated keys
    assert(classes("unchanged") == 950000L)
    assert(!classes.contains("removed"))
  }

  test("soak: pageRank over a 1M-edge ring-of-hubs graph, mass conserved") {
    import graft.api._
    import org.apache.spark.sql.functions._
    // 500k nodes in a ring (degree 2 each) + 50 hubs each wired to 10k
    // ring nodes: heavy skew on the hub keys, forced spill conf active
    // (SparkSpec spills every 100k rows), exercising the checkpointed
    // edge list + floor-scaled sums at real volume.
    val n = 500000L
    val ring = spark.range(n).select(
      concat(lit("v"), col("id")).as("src"),
      concat(lit("v"), (col("id") + 1) % n).as("dst"))
    val hub = spark.range(500000).select(
      concat(lit("h"), col("id") % 50).as("src"),
      concat(lit("v"), (col("id") * 7) % n).as("dst"))
    val und = ring.union(ring.select(col("dst").as("src"), col("src").as("dst")))
      .union(hub).union(hub.select(col("dst").as("src"), col("src").as("dst")))
    val r = und.pageRank("src", "dst", iters = 2)
    val agg = r.agg(count(lit(1)), sum("rank"), max("rank")).collect().head
    assert(agg.getLong(0) == n + 50)
    // teleport + conserved propagation: total mass stays 1 up to the
    // floor-truncation loss (< 1e-9 per edge contribution)
    assert(math.abs(agg.getDouble(1) - 1.0) < 1e-6,
      s"rank mass drifted: ${agg.getDouble(1)}")
    // hubs (degree ~10k) must outrank ring nodes (degree 2): compare the
    // max overall (a hub) to the max over ring nodes only
    val maxRing = r.filter(col("node").startsWith("v"))
      .agg(max("rank")).collect().head.getDouble(0)
    assert(agg.getDouble(2) > maxRing * 10,
      s"hub rank ${agg.getDouble(2)} not dominant over ring $maxRing")
  }

  test("soak: labelPropagation over 333k disjoint triangles (1M edges)") {
    import org.apache.spark.sql.functions._
    // A triangle {3i, 3i+1, 3i+2} provably converges to the min id as
    // every member's label after exactly 2 synchronous min-tiebreak
    // rounds (hand derivation in GraphSpec). 333k disjoint triangles =
    // 1M nodes / 2M directed edges after symmetrize, under the forced
    // spill conf — the converged labeling is exactly checkable in one
    // aggregate, no collect of the node set.
    val k = 333333L
    val base = spark.range(k)
    val e = base.select((col("id") * 3).as("u"), (col("id") * 3 + 1).as("v"))
      .union(base.select((col("id") * 3).as("u"), (col("id") * 3 + 2).as("v")))
      .union(base.select((col("id") * 3 + 1).as("u"),
        (col("id") * 3 + 2).as("v")))
    val l = operators.Graph
      .labelPropagation(e, "u", "v", iters = 2, symmetrize = true)
    val agg = l.agg(count(lit(1)),
      sum(when(col("lbl") === col("node") - pmod(col("node"), lit(3)), 0L)
        .otherwise(1L)),
      countDistinct("lbl")).collect().head
    assert(agg.getLong(0) == 3 * k, s"node count ${agg.getLong(0)}")
    assert(agg.getLong(1) == 0L, "a node is not labeled with its triangle min")
    assert(agg.getLong(2) == k, s"community count ${agg.getLong(2)}")
  }

  test("soak: kmeansFit over 200k synthetic 16-d vectors, planted clusters") {
    import graft.api._
    import org.apache.spark.sql.functions._
    // 200k vectors in 4 planted clusters: dim j of a cluster-g vector is
    // g*10 + small md5-derived jitter. Driver state must stay k×dims
    // (assignment is map-side against broadcast centroids); the fit must
    // recover the plant exactly — every row lands with its cluster peers.
    val vecs = spark.range(200000).select(
      col("id"),
      (col("id") % 4).as("plant"),
      expr("""transform(sequence(1, 16), j ->
             |  CAST((id % 4) * 10 AS FLOAT) + CAST(
             |    conv(substring(md5(concat(CAST(id AS STRING), ':',
             |      CAST(j AS STRING))), 1, 4), 16, 10) AS FLOAT) / 65536.0
             |)""".stripMargin).as("emb"))
    val fit = vecs.kmeansFit("emb", "id", k = 4, iters = 2)
    // purity: each final cluster maps to exactly one plant and vice versa
    val m = fit.groupBy("cluster", "plant").agg(count(lit(1)).as("n"))
      .collect()
    assert(m.length == 4, s"expected a 1:1 cluster↔plant map, got ${m.length} cells")
    assert(m.map(_.getLong(2)).sum == 200000L)
    val perPlant = m.map(r => r.getLong(1)).distinct
    assert(perPlant.length == 4)
  }

  test("soak: globalRowNumber over 1M rows is a contiguous exact ranking") {
    import org.apache.spark.sql.functions._
    import graft.api._
    import spark.implicits._
    val n = 1000000L
    val df = spark.range(n).select(col("id"),
      // md5-derived sort key: value order is unrelated to id order
      md5(concat(lit("rn:"), col("id").cast("string"))).as("k"))
    val rn = df.globalRowNumber("rn", col("k"), col("id"))
    val stats = rn.agg(count(lit(1)), min(col("rn")), max(col("rn")),
      sum(col("rn"))).as[(Long, Long, Long, Long)].collect().head
    // contiguity: exactly 1..n with no gaps or duplicates
    assert(stats == ((n, 1L, n, n * (n + 1) / 2)))
    // order correctness on a sample: rank increases with the sort key
    val sample = rn.filter(pmod(col("id"), lit(9973)) === 0)
      .select("k", "rn").as[(String, Long)].collect().sortBy(_._1)
    assert(sample.map(_._2).sameElements(sample.map(_._2).sorted))
  }

  test("soak: skyline2D over 1M points — mutual non-domination + coverage") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val pts = spark.range(1000000).select(col("id"),
      expr("CAST(conv(substring(md5(concat('x:', CAST(id AS STRING))), 1, 6), 16, 10) AS BIGINT)").as("x"),
      expr("CAST(conv(substring(md5(concat('y:', CAST(id AS STRING))), 1, 6), 16, 10) AS BIGINT)").as("y"))
    val frontier = operators.Warehouse.skyline2D(pts, "x", "y")
      .as[(Long, Long, Long)].collect()
    assert(frontier.nonEmpty && frontier.length < 1000,
      s"random-point frontier should be small, got ${frontier.length}")
    // no survivor dominates another survivor
    for ((_, ax, ay) <- frontier; (_, bx, by) <- frontier)
      assert(!(ax >= bx && ay >= by && (ax > bx || ay > by)),
        s"frontier point ($bx,$by) dominated by ($ax,$ay)")
    // every non-survivor is dominated by some frontier point (ship the
    // small frontier back as a literal over the full set)
    val fLit = typedLit(frontier.map { case (_, x, y) => (x, y) }.toSeq)
    val bad = pts.withColumn("__f", fLit)
      .join(operators.Warehouse.skyline2D(pts, "x", "y")
        .select(col("id").as("fid")), col("id") === col("fid"), "left_anti")
      .filter(!expr(
        """exists(__f, p -> (p._1 >= x AND p._2 >= y)
          |  AND (p._1 > x OR p._2 > y))""".stripMargin))
      .count()
    assert(bad == 0, s"$bad non-frontier points not dominated by any survivor")
  }

  test("soak: prefixSimJoin recovers planted near-dup pairs in 30k docs") {
    import org.apache.spark.sql.functions._
    // 30k docs with md5-derived 16-token sets over a 4096-token vocabulary
    // (random pairs share ~0 tokens); every doc_id % 300 == 0 gets a twin
    // at id+1000000 with one token replaced: J = 15/17 ≥ 4/5. The join
    // must recover every planted pair — the no-false-negative guarantee
    // at a scale where all-pairs (450M) would be unthinkable.
    val base = spark.range(30000).select(col("id"),
      expr("""transform(sequence(0, 15), j ->
             |  concat('t', CAST(CAST(conv(substring(md5(concat(
             |    CAST(id AS STRING), ':', CAST(j AS STRING))), 1, 4), 16, 10)
             |    AS BIGINT) % 4096 AS STRING), '_', CAST(j AS STRING)))
             |""".stripMargin).as("toks"))
    val twins = base.filter(col("id") % 300 === 0)
      .select((col("id") + 1000000).as("id"),
        concat(slice(col("toks"), 1, 15), array(lit("twin_tok"))).as("toks"))
    val d = base.unionAll(twins)
      .select(col("id"), array_distinct(col("toks")).as("toks"))
    val got = operators.Dedup.prefixSimJoin(d, "id", "toks", 4, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (0 until 30000 by 300).map(i => (i.toLong, i + 1000000L)).toSet
    assert(planted.subsetOf(got),
      s"missing ${(planted -- got).size} of ${planted.size} planted pairs")
    // random 16-token sets from 4096 tokens essentially never reach J=0.8:
    // anything beyond the planted pairs would indicate a filter bug
    assert((got -- planted).isEmpty, s"unexpected pairs: ${(got -- planted).take(5)}")
  }

  test("waterfillAllocation stays exact over 200k keys (windowed sort path)") {
    import spark.implicits._
    import graft.api._
    // Deterministic long-tail weights: most keys tiny, a few huge — the
    // regime where the closed-form level matters. 200k keys exercises the
    // range-partitioned window sort (not a driver loop); the invariant
    // (Σallocation == budget exactly) must survive partitioned execution.
    val n = 200000
    val df = spark.range(n.toLong)
      .select(col("id").cast("string").as("k"),
        (pmod(col("id") * 2654435761L, lit(1000L)) + 1 +
          when(pmod(col("id"), lit(997L)) === 0, 1000000L).otherwise(0L))
          .as("w"))
    val total = df.agg(sum("w")).collect().head.getLong(0)
    val budget = total / 3
    val out = df.waterfillAllocation("k", "w", budget)
    val spent = out.agg(sum("allocation")).collect().head.getLong(0)
    assert(spent == budget, s"spent $spent != budget $budget")
    val viol = out.filter(col("allocation") > col("avail")).count()
    assert(viol == 0)
    // uncapped allocations within ±1 of each other
    val lv = out.filter(col("allocation") < col("avail"))
      .agg(min("allocation"), max("allocation")).collect().head
    assert(lv.getLong(1) - lv.getLong(0) <= 1)
  }

  test("soak: BFS over a 1M-edge ring — frontier walk, exact distances") {
    import graft.api._
    import org.apache.spark.sql.functions._
    // 500k-node ring, both directions (1M directed edges). From one seed
    // with radius 5, BFS must discover exactly 11 nodes (5 each way) with
    // provable distances |i - seed| — a frontier that stays tiny while
    // the edge list is large, the exact regime the frontier design is
    // for (anti-join against visited, no O(V) state per round).
    val n = 500000L
    val ring = spark.range(n).select(col("id").as("src"),
      ((col("id") + 1) % n).as("dst"))
    val und = ring.union(ring.select(col("dst").as("src"), col("src").as("dst")))
    val seeds = spark.range(1).select((col("id") + 1000).as("s"))
    val out = und.bfsDistances("src", "dst", seeds, "s", radius = 5)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out.size == 11, s"expected 11 reached nodes, got ${out.size}")
    (0 to 5).foreach { d =>
      assert(out(1000L + d) == d && out(1000L - d) == d,
        s"distance wrong at offset $d: $out")
    }
  }

  test("soak: ancestorClosure on a 1M-node forest (depth ~7) stays exact") {
    import graft.api._
    import org.apache.spark.sql.functions._
    // parent(k) = k div 10 over 1..1M: a 10-ary forest of depth 7.
    // 3 doublings cover depth 8. Spot-check the deepest chain and the
    // closure size formula Σ depth(k) — both provable in closed form.
    val parents = spark.range(1, 1000001)
      .select(col("id").as("c"), (col("id") / 10).cast("long").as("p"))
      .filter(col("p") >= 1)
    val cl = parents.ancestorClosure("c", "p", rounds = 3)
    // node 999999's ancestors: 99999, 9999, 999, 99, 9 (dist 1..5)
    val a = cl.filter(col("node") === 999999L).collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(a == Map(99999L -> 1L, 9999L -> 2L, 999L -> 3L, 99L -> 4L,
      9L -> 5L), s"got $a")
    // every (node, anc) pair unique
    val dups = cl.groupBy("node", "anc").count().filter(col("count") > 1).count()
    assert(dups == 0, s"$dups duplicate closure pairs")
  }

  test("Bounded.probe fails loudly when the cap binds, passes under it") {
    import org.apache.spark.sql.functions._
    val under = graft.operators.Bounded.probe(spark.range(10).toDF(), 100)
    assert(under.count() == 10)
    val ex = intercept[IllegalArgumentException] {
      graft.operators.Bounded.probe(spark.range(200).toDF(), 100)
    }
    assert(ex.getMessage.contains("exceeds its declared cap"))
  }

  test("DatasetFs.swapInto atomically replaces a dataset directory") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-swap").toString
    val dest = s"$dir/serving"
    spark.range(5).write.parquet(dest)
    spark.range(100).write.parquet(s"$dest.tmp-1")
    graft.sources.DatasetFs.swapInto(spark, s"$dest.tmp-1", dest)
    assert(spark.read.parquet(dest).count() == 100)
    // old payload fully displaced, no leftover temp/backup dirs
    assert(!new java.io.File(s"$dest.tmp-1").exists())
    assert(!new java.io.File(s"$dest.old").exists())
    // first-write case: no existing dest
    spark.range(7).write.parquet(s"$dir/fresh.tmp-0")
    graft.sources.DatasetFs.swapInto(spark, s"$dir/fresh.tmp-0", s"$dir/fresh")
    assert(spark.read.parquet(s"$dir/fresh").count() == 7)
  }

  test("soak: gridNeighborJoin on a 1M-point lattice — closed-form counts") {
    import org.apache.spark.sql.functions._
    import graft.api._
    import spark.implicits._
    // 1000x1000 integer lattice: within Chebyshev r=1 every interior point
    // has exactly 8 neighbors, edge points 5, corners 3 — an analytic
    // oracle that would catch any double-counted or missed cell probe.
    val pts = spark.range(1000000).select(col("id"),
      pmod(col("id"), lit(1000L)).as("x"), expr("id div 1000").as("y"))
    val hist = pts.gridNeighborJoin("id", "x", "y", 1L)
      .groupBy("n_neighbors").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
    assert(hist == Map(8L -> 998L * 998L, 5L -> 4L * 998L, 3L -> 4L),
      s"got $hist")
  }
}
