package graft

import graft.api._
import org.apache.spark.sql.functions._

class ApiSpec extends SparkSpec {

  test("asofJoin extension matches the operator") {
    val e = Tables.load(spark, sf0001, "events")
    val viaExt = e.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
      .asofJoin(
        e.filter(col("event_type") === "error").select("user_id", "ts", "value"),
        "user_id", "ts", "ts", Map("value" -> "err_value"))
    assert(viaExt.count() ==
      e.filter(col("event_type") === "purchase").count())
  }

  test("histCumSum equals the single-partition window cumulative") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // value histogram with gaps, duplicates in counts, >1 range partition
    val hist = (1 to 500).map(i => (i * 0.5 + (i % 7), (i % 13 + 1).toLong,
      (i % 3).toLong)).toDF("v", "c", "p").repartition(8)
    val viaExt = hist.histCumSum(Seq(col("v")), Seq("c", "p"),
      withTotals = true)
    val w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    val viaWin = hist
      .withColumn("cum_c", coalesce(sum(col("c")).over(w), lit(0L)))
      .withColumn("cum_p", coalesce(sum(col("p")).over(w), lit(0L)))
    assert(viaExt.select("v", "c", "p", "cum_c", "cum_p").collect().toSet ==
      viaWin.select("v", "c", "p", "cum_c", "cum_p").collect().toSet)
    val (totC, totP) = (viaExt.select("tot_c").head.getLong(0),
      viaExt.select("tot_p").head.getLong(0))
    assert(totC == (1 to 500).map(i => (i % 13 + 1).toLong).sum)
    assert(totP == (1 to 500).map(i => (i % 3).toLong).sum)
    // empty input: no rows, no crash
    assert(hist.filter(lit(false))
      .histCumSum(Seq(col("v")), Seq("c")).count() == 0)
  }

  test("histCumSumDecimal equals the window cumulative, money-exact") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // decimal amounts with cents that would lose exactness as doubles;
    // descending order + tiebreak (the q255 ABC shape), >1 range partition
    val hist = (1 to 400).map(i =>
        (i.toLong, BigDecimal(i * 7919 % 1000) / 100 + BigDecimal(i)))
      .toDF("k", "amt")
      .select(col("k"), col("amt").cast("decimal(18,6)").as("amt"))
      .repartition(9)
    val viaExt = hist.histCumSumDecimal(
      Seq(col("amt").desc, col("k").asc), "amt", withTotal = true)
    val w = Window.orderBy(col("amt").desc, col("k").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val viaWin = hist.withColumn("cum_amt",
      coalesce(sum(col("amt")).over(w), lit(0).cast("decimal(18,6)")))
    def fp(rows: Array[org.apache.spark.sql.Row]): Set[(Long, BigDecimal)] =
      rows.map(r => (r.getLong(0), BigDecimal(r.getDecimal(2)))).toSet
    assert(fp(viaExt.select("k", "amt", "cum_amt").collect()) ==
      fp(viaWin.select("k", "amt", "cum_amt").collect()))
    // grand total is the exact sum, as a constant column
    val tot = BigDecimal(viaExt.select("tot_amt").head.getDecimal(0))
    val expect = (1 to 400).map(i =>
      BigDecimal(i * 7919 % 1000) / 100 + BigDecimal(i)).sum
    assert(tot == expect)
    // non-decimal column refuses loudly; empty input is fine
    intercept[IllegalArgumentException] {
      hist.histCumSumDecimal(Seq(col("k")), "k")
    }
    assert(hist.filter(lit(false))
      .histCumSumDecimal(Seq(col("k")), "amt").count() == 0)
  }

  test("groupedHistCumSum equals the per-group window cumulative") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // few groups x many values: groups span several range partitions,
    // exercising the boundary-carry chain
    val hist = (1 to 900).map(i =>
        (s"g${i % 3}", i * 0.25, (i % 11 + 1).toLong))
      .toDF("g", "v", "c").repartition(10)
    val viaExt = hist.groupedHistCumSum(Seq("g"), Seq(col("v")), Seq("c"))
    val w = Window.partitionBy("g").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, -1)
    val viaWin = hist
      .withColumn("cum_c", coalesce(sum(col("c")).over(w), lit(0L)))
    assert(viaExt.select("g", "v", "c", "cum_c").collect().toSet ==
      viaWin.select("g", "v", "c", "cum_c").collect().toSet)
    // single-group input (whole frame is one boundary chain)
    val one = (1 to 100).map(i => ("only", i.toDouble, 2L)).toDF("g", "v", "c")
    assert(one.groupedHistCumSum(Seq("g"), Seq(col("v")), Seq("c"))
      .agg(max(col("cum_c"))).head.getLong(0) == 198L)
    // empty input
    assert(hist.filter(lit(false))
      .groupedHistCumSum(Seq("g"), Seq(col("v")), Seq("c")).count() == 0)
  }

  test("histCumMax equals the single-partition window running max") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val g = (1 to 300).map(i => (i.toDouble,
      if (i % 11 == 0) null else java.sql.Timestamp.valueOf(
        f"2024-01-${i % 28 + 1}%02d 00:00:00")))
      .toDF("x", "y").repartition(7)
    val viaExt = g.histCumMax(Seq(col("x").desc), "y", "hmax")
    val w = Window.orderBy(col("x").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val viaWin = g.withColumn("hmax", max(col("y")).over(w))
    assert(viaExt.select("x", "y", "hmax").collect().toSet ==
      viaWin.select("x", "y", "hmax").collect().toSet)
    // the first row in sweep order has no predecessor -> null
    assert(viaExt.filter(col("x") === 300.0).select("hmax").head.isNullAt(0))
  }

  test("dedupExactBy keeps one row per content with smallest tie-break") {
    import spark.implicits._
    val df = Seq((1L, "aa"), (2L, "aa"), (3L, "bb"), (4L, "aa"))
      .toDF("id", "content")
    val kept = df.dedupExactBy("content", "id").orderBy("id").collect()
    assert(kept.map(_.getLong(0)).sameElements(Array(1L, 3L)))
  }

  test("topK extension returns the k best rows without a sort of all rows") {
    val top = Tables.load(spark, sf0001, "orders")
      .topK(5, col("o_totalprice"), col("o_orderkey"))
      .collect().map(_.getDouble(0))
    val expected = Tables.load(spark, sf0001, "orders")
      .orderBy(desc("o_totalprice")).limit(5)
      .collect().map(_.getAs[Double]("o_totalprice"))
    assert(top.sameElements(expected))
  }

  test("cosineTopK finds the query vector's neighbors") {
    val e = Tables.load(spark, sf0001, "embeddings")
    val qv = e.filter(col("vec_id") === 0)
      .collect().head.getSeq[Float](1)
    val top = e.filter(col("vec_id") =!= 0)
      .cosineTopK(10, "embedding", qv)
      .collect().map(_.getAs[Long]("vec_id"))
    val expected = operators.Similarity.q50.run(spark, sf0001)
      .collect().map(_.getAs[Long]("vec_id"))
    assert(top.toSet == expected.toSet)
  }

  test("deterministicSplit is stable, disjoint and complete") {
    val docs = Tables.load(spark, sf0001, "documents")
    val (train1, eval1) = docs.deterministicSplit("doc_id", 80)
    val (train2, _) = docs.deterministicSplit("doc_id", 80)
    val t1 = train1.select("doc_id").collect().map(_.getLong(0)).toSet
    val t2 = train2.select("doc_id").collect().map(_.getLong(0)).toSet
    val e1 = eval1.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(t1 == t2, "split not stable across runs")
    assert(t1.intersect(e1).isEmpty)
    assert(t1.size + e1.size == docs.count())
    assert(t1.size > e1.size, "80/20 should favor train")
  }

  test("saltedJoin extension equals plain join") {
    import spark.implicits._
    val l = (1 to 500).map(i => (i.toLong % 3, i)).toDF("k", "v")
    val r = Seq((0L, "a"), (1L, "b"), (2L, "c")).toDF("k", "w")
    assert(l.saltedJoin(r, "k").count() == l.join(r, Seq("k")).count())
  }

  test("asofJoinNative extension matches the composed asofJoin") {
    val docs = Tables.load(spark, sf0001, "events")
    val l = docs.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val r = docs.filter(col("event_type") === "error")
      .select("user_id", "ts", "value")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(
      canon(l.asofJoinNative(r, "user_id", "ts", "ts", Map("value" -> "v"))) ==
      canon(l.asofJoin(r, "user_id", "ts", "ts", Map("value" -> "v"))))
  }

  test("hashSample keeps a stable fraction; shardBy partitions completely") {
    val docs = Tables.load(spark, sf001, "documents")
    val s1 = docs.hashSample("doc_id", 25)
    assert(s1.count() > 75 && s1.count() < 175) // ~125 of 500
    assert(s1.count() == docs.hashSample("doc_id", 25).count())
    val sharded = docs.shardBy("doc_id", 8)
    assert(sharded.groupBy("shard").count().count() <= 8)
    assert(sharded.count() == docs.count())
  }

  test("globalShuffle yields sorted disjoint range partitions") {
    import spark.implicits._
    val docs = Tables.load(spark, sf001, "documents")
    val shuffled = docs.globalShuffle("doc_id", 4)
    // deterministic: same order every run
    val a = shuffled.select("doc_id").as[Long].collect().toSeq
    val b = docs.globalShuffle("doc_id", 4).select("doc_id").as[Long].collect().toSeq
    assert(a == b)
    assert(a.sorted != a, "shuffle should not be identity order")
    assert(a.toSet.size == docs.count())
  }

  test("chunkTokens covers every token with the configured overlap") {
    import spark.implicits._
    val one = Seq((1L, (1 to 100).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val chunks = one.chunkTokens("text", size = 64, stride = 48)
      .select("chunk_no", "n_tokens").as[(Long, Long)].collect().toMap
    // starts at 1, 49, 97 → sizes 64, 52, 4
    assert(chunks == Map(0L -> 64L, 1L -> 52L, 2L -> 4L))
  }

  test("repetitionSignals extension flags the repetitive row") {
    import spark.implicits._
    val df = Seq((1L, "ha ha ha ha"), (2L, "all words differ here"))
      .toDF("id", "text")
    val out = df.repetitionSignals("text")
      .select("id", "dup_token_frac", "top_bigram_frac")
      .as[(Long, Double, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(1L) == (0.75, 1.0))
    assert(out(2L) == (0.0, 1.0 / 3))
  }

  test("profile reports nulls, distincts and extrema in one pass") {
    import spark.implicits._
    val df = Seq[(java.lang.Long, java.lang.Double)](
      (1L, 2.0), (2L, null), (3L, 8.0), (3L, 2.0))
      .toDF("k", "v")
    val rows = df.profile("k", "v").collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5)))
      .toMap
    assert(rows("k") == (4L, 0L, 3L, 1.0, 3.0))
    assert(rows("v") == (4L, 1L, 2L, 2.0, 8.0))
  }

  test("scd2 extension matches the q100 history on events") {
    val viaExt = Tables.load(spark, sf0001, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_type"))
      .scd2("user_id", "event_type", "ts_us")
      .select("user_id", "event_type", "valid_from", "valid_to",
        "n_events", "is_current")
      .orderBy("user_id", "valid_from")
    val viaQuery = operators.Warehouse.q100.run(spark, sf0001)
    // identical up to the query's event_id tie-break: same interval count
    // per user and the same run-length totals
    assert(viaExt.count() == viaQuery.count())
    assert(viaExt.agg(sum("n_events")).first().getLong(0) ==
      viaQuery.agg(sum("n_events")).first().getLong(0))
  }

  test("mergeUpsert applies updates and appends new keys") {
    import spark.implicits._
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "s", "v")
    val changes = Seq((2L, "B", 22.0), (9L, "z", 90.0)).toDF("k", "s", "v")
    val out = base.mergeUpsert(changes, "k").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(out.toSeq == Seq((1L, "a", 10.0), (2L, "B", 22.0),
      (3L, "c", 30.0), (9L, "z", 90.0)))
  }

  test("mergeUpsert: a matched change row can NULL a column (MERGE UPDATE SET *)") {
    import spark.implicits._
    val base = Seq((1L, "a", "x"), (2L, "b", "y")).toDF("k", "s", "v")
    val changes = Seq[(Long, String, String)]((2L, null, "y2")).toDF("k", "s", "v")
    val out = base.mergeUpsert(changes, "k").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // the change row replaces the base row wholesale: s becomes NULL, it
    // does not silently keep "b"
    assert(out.toSeq == Seq((1L, "a", "x"), (2L, null, "y2")))
  }

  test("scd2 tiebreak makes equal-timestamp segmentation deterministic") {
    import spark.implicits._
    val rows = Seq(
      (1L, "A", 100L, 1L), (1L, "B", 100L, 2L), (1L, "B", 200L, 3L))
    // same result regardless of input row order, because event_id completes
    // the within-key order
    for (input <- Seq(rows, rows.reverse)) {
      val out = input.toDF("k", "attr", "ts", "event_id")
        .scd2("k", "attr", "ts", "event_id")
        .orderBy("valid_from", "attr").collect()
        .map(r => (r.getAs[String]("attr"), r.getAs[Long]("valid_from"),
          r.getAs[Long]("n_events")))
      assert(out.toSeq == Seq(("A", 100L, 1L), ("B", 100L, 2L)))
    }
  }

  test("snapshotDiff classifies keys, null-safely") {
    import spark.implicits._
    val a = Seq[(java.lang.Long, String)]((1L, "x"), (2L, "y"), (3L, null))
      .toDF("k", "s")
    val b = Seq[(java.lang.Long, String)]((1L, "x2"), (3L, null), (4L, "w"))
      .toDF("k", "s")
    val out = a.snapshotDiff(b, "k").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "changed", 2L -> "removed",
      3L -> "unchanged", 4L -> "added"))
  }

  test("skewProfile extension matches q103 on events") {
    val viaExt = Tables.load(spark, sf0001, "events")
      .skewProfile("user_id").collect()
    val viaQuery = operators.Warehouse.q103.run(spark, sf0001).collect()
    assert(viaExt.map(_.toSeq).toSeq == viaQuery.map(_.toSeq).toSeq)
  }

  test("retentionCohorts extension matches q108 on events") {
    val viaExt = Tables.load(spark, sf0001, "events")
      .retentionCohorts("user_id", "ts").collect()
    val viaQuery = operators.Events.q108.run(spark, sf0001).collect()
    assert(viaExt.map(_.toSeq).toSeq == viaQuery.map(_.toSeq).toSeq)
  }

  test("quantileGate keeps only rows at or above the group quantile") {
    import spark.implicits._
    val df = Seq(("g1", 1.0), ("g1", 2.0), ("g1", 3.0),
      ("g2", 10.0), ("g2", 20.0)).toDF("g", "score")
    val kept = df.quantileGate("g", "score")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSet
    // g1's median is 2; g2's interpolated median is 15 -> only 20 survives
    assert(kept == Set(("g1", 2.0), ("g1", 3.0), ("g2", 20.0)))
  }

  test("passageDedupStats extension matches q88 on the documents table") {
    import spark.implicits._
    val viaExt = Tables.load(spark, sf0001, "documents")
      .passageDedupStats("doc_id", "text")
      .select("doc_id", "n_passages", "n_shared", "tokens_kept")
      .orderBy("doc_id")
    val viaQuery = graft.operators.Dedup.q88.run(spark, sf0001)
    assert(viaExt.exceptAll(viaQuery).isEmpty && viaQuery.exceptAll(viaExt).isEmpty)
  }

  test("clampedBalance equals the sequential max(0, prev + delta) scan") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = for (k <- 0 until 5; i <- 0 until 40)
      yield (s"k$k", i.toLong, (rnd.nextInt(21) - 10).toLong)
    val got = rows.toDF("k", "i", "d").repartition(7)
      .clampedBalance("k", "d", "bal", col("i"))
      .select("k", "i", "bal")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    for ((k, seq) <- rows.groupBy(_._1)) {
      var b = 0L
      for ((_, i, d) <- seq.sortBy(_._2)) {
        b = math.max(0L, b + d)
        assert(got((k, i)) == b, s"$k@$i: ${got((k, i))} != $b")
      }
    }
  }

  test("transitionMatrix rows match q186 and probabilities sum to 1 per type") {
    import spark.implicits._
    val viaExt = Tables.load(spark, sf0001, "events")
      .withColumn("ts_us", unix_micros(col("ts")))
      .transitionMatrix("user_id", "event_type", "ts_us", "event_id")
    val want = graft.operators.Events.q186.run(spark, sf0001)
      .select("cur_type", "next_type", "n", "p")
    assert(viaExt.select("cur_type", "next_type", "n", "p")
      .except(want).count() == 0 && viaExt.count() == want.count())
    val rowSums = viaExt.groupBy("cur_type").agg(sum(col("p")).as("s"))
      .select("s").as[Double].collect()
    rowSums.foreach(s => assert(math.abs(s - 1.0) < 1e-12))
  }

  test("maxDrawdown equals a sequential peak-trough scan") {
    import spark.implicits._
    val df = Seq(
      (1L, 1L, 10.0), (1L, 2L, 14.0), (1L, 3L, 9.0), (1L, 4L, 12.0),
      (1L, 5L, 3.0), (2L, 1L, 5.0), (2L, 2L, 7.0)).toDF("k", "t", "v")
    val got = df.maxDrawdown("k", "v", "t").orderBy("k")
      .select("k", "max_drawdown").as[(Long, Double)].collect().toSeq
    assert(got == Seq((1L, 11.0), (2L, 0.0)))
  }

  test("waterfillAllocation: caps respected, sum exact, remainder ordered") {
    import spark.implicits._
    // weights 10, 40, 100, 1000; budget 200 → 10 capped, rest level-split
    val df = Seq(("a", 10L), ("b", 40L), ("c", 100L), ("d", 1000L))
      .toDF("src", "w")
    val got = df.waterfillAllocation("src", "w", 200L)
      .orderBy("src").collect()
      .map(r => (r.getString(0), r.getLong(3))).toSeq
    // after capping a=10, 190 splits over {b,c,d}: 63 each, +1 to the
    // first uncapped in ascending (weight, key) order (b) → b=40 capped
    // too? 40 < 63 → b is ALSO capped by the closed form; re-level:
    // (200-50)/2 = 75 each over {c,d}
    assert(got == Seq(("a", 10L), ("b", 40L), ("c", 75L), ("d", 75L)))
    assert(got.map(_._2).sum == 200L)
    // budget exceeding total takes everything
    val all = df.waterfillAllocation("src", "w", 5000L)
      .agg(sum("allocation")).collect().head.getLong(0)
    assert(all == 1150L)
  }

  test("equiWidthHist: buckets cover the range, counts conserve, edges integer") {
    import spark.implicits._
    val vals = Seq(3L, 7L, 7L, 15L, 22L, 22L, 22L, 40L, 41L, 99L)
    val h = vals.toDF("v").equiWidthHist("v", 4)
      .orderBy("bucket").collect()
    assert(h.map(_.getLong(1)).sum == vals.length)
    h.foreach { r =>
      val (b, lo, hi) = (r.getLong(0), r.getLong(2), r.getLong(3))
      assert(b >= 0 && b < 4 && lo <= hi)
      // every value in this bucket falls inside [lo, hi]
      assert(vals.filter(v => (v - 3) / ((99 - 3) / 4 + 1) == b)
        .forall(v => v >= lo && v <= hi))
    }
  }

  test("ohlcBars picks first/last by time with tiebreak, bounds hold") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val df = Seq(
      ("a", t(5), 1L, 10.0), ("a", t(1), 2L, 7.0), ("a", t(1), 3L, 8.0),
      ("a", t(59), 4L, 3.0), ("b", t(30), 5L, 5.0))
      .toDF("g", "ts", "id", "v")
    val bars = df.ohlcBars("g", "ts", "id", "v")
      .orderBy("g").collect()
    val a = bars(0)
    // open: earliest ts, smallest id wins the 10:01 tie → 7.0
    assert(a.getAs[Double]("open") == 7.0)
    assert(a.getAs[Double]("high") == 10.0)
    assert(a.getAs[Double]("low") == 3.0)
    assert(a.getAs[Double]("close") == 3.0)
    assert(a.getAs[Long]("n") == 4L)
    val b = bars(1)
    assert(b.getAs[Double]("open") == 5.0 && b.getAs[Double]("close") == 5.0)
  }

  test("joinCardinality forecasts the exact join size without joining") {
    import spark.implicits._
    val left = Seq(1, 1, 2, 3).toDF("k")        // fanouts: 1→2, 2→1, 3→1
    val right = Seq(1, 2, 2, 2, 9).toDF("j")    // fanouts: 1→1, 2→3, 9→1
    val p = left.joinCardinality(right, "k", "j").collect().head
    assert(p.getAs[Long]("matched_keys") == 2L)
    // exact: key 1 → 2·1, key 2 → 1·3
    assert(p.getAs[Long]("join_rows") == 5L)
    assert(p.getAs[Long]("max_fanout_left") == 2L)
    assert(p.getAs[Long]("max_fanout_right") == 3L)
    assert(p.getAs[Double]("expansion") == 1.0)
    // cross-check against the join it forecast
    assert(left.join(right, col("k") === col("j")).count() == 5L)
  }

  test("tvDistance: 0 for identical, 1 for disjoint distributions") {
    import spark.implicits._
    val rows = Seq(
      ("p", "x"), ("p", "x"), ("p", "y"),
      ("q", "x"), ("q", "x"), ("q", "y"),   // q ≡ p → tv 0
      ("r", "z"), ("r", "w"))               // r disjoint from both → tv 1
    val tv = rows.toDF("g", "tok").tvDistance("g", "tok")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2))
      .toMap
    assert(tv(("p", "q")) == 0.0)
    assert(tv(("p", "r")) == 1.0)
    assert(tv(("q", "r")) == 1.0)
    // and a hand-computed middle case: p={x:2,y:1}, s={x:1,y:2} → tv=1/3
    val tv2 = (rows.filter(_._1 != "r") ++ Seq(("s", "x"), ("s", "y"), ("s", "y")))
      .toDF("g", "tok").tvDistance("g", "tok").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(math.abs(tv2(("p", "s")) - 1.0 / 3.0) < 1e-15)
  }

  test("twoProportionTest flags an obvious effect, passes a null one") {
    import spark.implicits._
    val strong = (1 to 400).map(i => ("A", if (i % 2 == 0) 1L else 0L)) ++
      (1 to 400).map(_ => ("B", 0L))
    val s = strong.toDF("g", "conv").twoProportionTest("g", "conv")
      .collect().head
    assert(s.getAs[String]("grp_a") == "A" && s.getAs[Boolean]("significant"))
    assert(s.getAs[Double]("rate_a") == 0.5 && s.getAs[Double]("rate_b") == 0.0)
    val nullCase = (1 to 400).map(i =>
      (if (i % 2 == 0) "A" else "B", if (i % 4 < 2) 1L else 0L))
    val n = nullCase.toDF("g", "conv").twoProportionTest("g", "conv")
      .collect().head
    assert(!n.getAs[Boolean]("significant"))
    intercept[IllegalArgumentException] {
      Seq(("A", 1L)).toDF("g", "conv").twoProportionTest("g", "conv").collect()
    }
  }

  test("graph traversal extensions delegate to the Recursive operators") {
    import spark.implicits._
    val e = Seq((1, 2, 5L), (2, 3, 5L), (1, 3, 20L)).toDF("s", "d", "w")
    val seeds = Seq(1).toDF("n")
    val bfs = e.bfsDistances("s", "d", seeds, "n", radius = 2)
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(bfs == Map(1 -> 0, 2 -> 1, 3 -> 1), s"bfs got $bfs")
    val bf = e.boundedBellmanFord("s", "d", "w", seeds, "n", rounds = 2)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(bf == Map(1 -> 0L, 2 -> 5L, 3 -> 10L), s"bellman-ford got $bf")
    val cl = Seq((4, 2), (2, 1)).toDF("c", "p")
      .ancestorClosure("c", "p", rounds = 2)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(cl == Map((4, 2) -> 1L, (2, 1) -> 1L, (4, 1) -> 2L), s"closure got $cl")
  }

  test("rollingMedian: exact trailing-window medians, short prefixes included") {
    import spark.implicits._
    val df = Seq(("a", 1, 10L), ("a", 2, 100L), ("a", 3, 20L), ("a", 4, 30L),
      ("b", 1, 7L)).toDF("g", "t", "v")
    val out = df.rollingMedian("g", "t", "v", window = 3)
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(3)).toMap
    // windows: [10]=10, [10,100]=10 (lower median), [10,100,20]=20,
    // [100,20,30]=30; group b has a 1-row window
    assert(out == Map(("a", 1) -> 10L, ("a", 2) -> 10L, ("a", 3) -> 20L,
      ("a", 4) -> 30L, ("b", 1) -> 7L), s"got $out")
  }

  test("snmPairs: each rank-window pair exactly once, offsets correct") {
    import spark.implicits._
    // sort order by name: ann(1), bob(2), cat(3), dan(4)
    val df = Seq((10L, "cat"), (11L, "ann"), (12L, "dan"), (13L, "bob"))
      .toDF("id", "name")
    val pairs = df.snmPairs("id", "name", window = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs == Set((11L, 13L, 1L), (13L, 10L, 1L), (10L, 12L, 1L),
      (11L, 10L, 2L), (13L, 12L, 2L)), s"got $pairs")
  }

  test("piiSignals: counts and masks emails/phones, leaves clean text") {
    import spark.implicits._
    val df = Seq(
      "mail bob.k@corp.io or 555-1234 ref 1234567",
      "nothing sensitive here").toDF("t")
    val out = df.piiSignals("t").orderBy(desc("n_emails"))
      .select("n_emails", "n_phones", "n_digit_runs", "redacted")
      .collect()
    assert(out(0).getLong(0) == 1 && out(0).getLong(1) == 1 &&
      out(0).getLong(2) == 1)
    assert(out(0).getString(3) == "mail <EMAIL> or <PHONE> ref 1234567")
    assert(out(1).getLong(0) == 0 && out(1).getLong(1) == 0 &&
      out(1).getString(3) == "nothing sensitive here")
  }

  test("profile: per-column nulls/distincts/min-max, exact and approx") {
    import spark.implicits._
    val df = Seq((1L, Some("a")), (2L, None), (3L, Some("a")))
      .toDF("id", "tag")
    val p = df.profileAll().collect()
      .map(r => r.getString(0) -> r).toMap
    assert(p("id").getLong(2) == 3 && p("id").getLong(3) == 0 &&
      p("id").getLong(4) == 3 && p("id").getString(5) == "1" &&
      p("id").getString(6) == "3")
    assert(p("tag").getLong(3) == 1 && p("tag").getLong(4) == 1 &&
      p("tag").getString(5) == "a")
    // approx mode: same shape, distinct counts within HLL error of exact
    val pa = df.profileAll(exact = false).collect()
      .map(r => r.getString(0) -> r.getLong(4)).toMap
    assert(math.abs(pa("id") - 3L) <= 1 && math.abs(pa("tag") - 1L) <= 1)
  }
}
