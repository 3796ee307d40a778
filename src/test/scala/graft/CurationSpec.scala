package graft

import graft.operators.{Dedup, Events, Sources, TextAnalysis}
import org.apache.spark.sql.functions._

/** Behavioral checks for the round-3 curation operators (repetition
  * signals, passage dedup, collocations, length histogram, funnel, ORC).
  * The oracle gate proves value-exactness against DuckDB; these specs pin
  * the SEMANTIC invariants a refactor could silently break.
  */
class CurationSpec extends SparkSpec {

  test("q87 repetition signals: a fully-repeated doc maxes both fractions") {
    import spark.implicits._
    val df = Seq(
      (1L, "spam spam spam spam"),   // one token repeated
      (2L, "a b c d"),               // all distinct
      (3L, "x")                      // single token: bigram frac 0 by guard
    ).toDF("doc_id", "text").withColumn("lang", lit("en"))
      .withColumn("source", lit("t")).withColumn("n_chars", length(col("text")))
    val tmp = java.nio.file.Files.createTempDirectory("q87").toString
    df.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = TextAnalysis.q87.run(spark, tmp)
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(2), r.getDouble(3))).toMap
    assert(out(1L) == (0.75, 1.0))   // 4 tokens 1 distinct; 3/3 bigram slots
    assert(out(2L) == (0.0, 1.0 / 3)) // distinct tokens; best bigram count 1
    assert(out(3L) == (0.0, 0.0))    // guard: no bigram slots
  }

  test("repetitionSignals equals q87 on every sf0.01 document and on edge docs") {
    import graft.api._
    import spark.implicits._
    // q87 keeps its (doc_id, bigram) shuffle; the extension counts the top
    // bigram inside the row. Both fractions must agree exactly, NULLs too.
    def both(dir: String) = {
      val viaRow = Tables.load(spark, dir, "documents").repetitionSignals("text")
        .select("doc_id", "dup_token_frac", "top_bigram_frac").collect()
        .map(r => r.getLong(0) -> ((r.get(1), r.get(2)))).toMap
      val viaQ87 = TextAnalysis.q87.run(spark, dir).collect()
        .map(r => r.getLong(0) -> ((r.get(2), r.get(3)))).toMap
      (viaRow, viaQ87)
    }
    val (row, q87) = both(sf001)
    assert(row.size == Tables.load(spark, sf001, "documents").count())
    assert(row == q87)
    val tmp = java.nio.file.Files.createTempDirectory("repsig").toString
    Seq[(Long, String)](
      (1L, ""),                      // no words: one empty token
      (2L, "solo"),                  // one token: no bigram slots
      (3L, "ha ha ha ha"),           // one bigram, repeated in every slot
      (4L, "a b a b a b"),           // two bigrams interleaved, 3 and 2
      (5L, null),                    // NULL text
      (6L, "x y  x y"))              // an empty token between words
      .toDF("doc_id", "text").write.parquet(s"$tmp/documents.parquet")
    val (edgeRow, edgeQ87) = both(tmp)
    assert(edgeRow.size == 6)
    assert(edgeRow == edgeQ87)
    assert(edgeRow(3L) == ((0.75, 1.0)))
    assert(edgeRow(4L) == ((4.0 / 6, 3.0 / 5)))
  }

  test("q88 passage dedup: shared passages found across docs, not within") {
    import spark.implicits._
    val shared = (1 to 32).map(i => s"tok$i").mkString(" ")
    val unique = (1 to 32).map(i => s"only$i").mkString(" ")
    val df = Seq(
      (1L, s"$shared $unique"), // 2 passages: one shared, one unique
      (2L, shared),             // 1 passage: shared with doc 1
      (3L, s"$unique?")         // different tail token => different digest
    ).toDF("doc_id", "text").withColumn("lang", lit("en"))
      .withColumn("source", lit("t")).withColumn("n_chars", length(col("text")))
    val tmp = java.nio.file.Files.createTempDirectory("q88").toString
    df.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = Dedup.q88.run(spark, tmp).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(1L) == (2L, 1L, 32L)) // shared dropped, unique kept
    assert(out(2L) == (1L, 1L, 0L))  // its only passage is shared
    assert(out(3L) == (1L, 0L, 32L)) // near-miss digest stays unique
  }

  test("q35 collocations: lift of an always-paired bigram exceeds a chance pair") {
    val out = TextAnalysis.q35.run(spark, sf001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(out.length == 30)
    assert(out.forall(_._3 > 0.0))
    // top-30 ordering: counts non-increasing, ties broken by bigram asc
    val counts = out.map(_._2)
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b })
  }

  test("q26 length histogram: buckets are powers of two covering every doc") {
    val rows = TextAnalysis.q26.run(spark, sf001).collect()
    val nDocs = rows.map(_.getLong(2)).sum
    assert(nDocs == Tables.load(spark, sf001, "documents").count())
    assert(rows.forall { r =>
      val b = r.getLong(1); b > 0 && (b & (b - 1)) == 0
    })
  }

  test("q59 funnel: stage counts are monotonically non-increasing") {
    val r = Events.q59.run(spark, sf001).collect().head
    val (v, vc, f) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(v >= vc && vc >= f)
    assert(r.getDouble(3) == f.toDouble / v)
  }

  test("BPE trainer: textbook merges on the classic vocab, ties lexicographic") {
    import spark.implicits._
    import graft.operators.BpeTrainer
    val vocab = Seq(("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))
      .toDF("word", "n")
    val merges = BpeTrainer.learnMerges(vocab, 2)
    // "es" and "st" tie at weight 9 -> lexicographically smaller "e"+"s" wins;
    // after merging, "es"+"t" is the unique 9-weight pair.
    assert(merges == Seq(
      BpeTrainer.Merge("e", "s", 9L), BpeTrainer.Merge("es", "t", 9L)))
    assert(BpeTrainer.tokenize("newest", merges) == Seq("n", "e", "w", "est"))
    assert(BpeTrainer.tokenize("low", merges) == Seq("l", "o", "w"))
  }

  test("BPE trainer: supplementary characters stay whole symbols") {
    import spark.implicits._
    import graft.operators.BpeTrainer
    // U+1F600 is outside the BMP: UTF-16 code-unit splitting would shear it
    // into surrogate halves and merge garbage.
    val face = new String(Character.toChars(0x1F600))
    val vocab = Seq((s"$face$face", 3L), (s"${face}a", 2L)).toDF("word", "n")
    val merges = BpeTrainer.learnMerges(vocab, 1)
    assert(merges == Seq(BpeTrainer.Merge(face, face, 3L)))
    assert(BpeTrainer.tokenize(s"$face${face}a", merges) ==
      Seq(face + face, "a"))
  }

  test("BPE tokenizeColumn: distributed apply equals the driver-side replay") {
    import graft.operators.BpeTrainer
    val docs = Tables.load(spark, sf0001, "documents").limit(50)
    val merges = BpeTrainer.train(spark, docs, "text", 8)
    assert(merges.nonEmpty)
    val out = BpeTrainer.tokenizeColumn(docs, "text", "toks", merges)
      .select("text", "toks").collect()
    out.foreach { r =>
      val expected = r.getString(0).split(' ').toSeq
        .flatMap(w => BpeTrainer.tokenize(w, merges))
      assert(r.getSeq[String](1) == expected)
      // reassembling the tokens recovers the original words
      assert(r.getSeq[String](1).mkString == r.getString(0).replace(" ", ""))
    }
  }

  test("q98 top pair equals the trainer's first merge on real documents") {
    import graft.operators.{BpeTrainer, TextAnalysis}
    val top = TextAnalysis.q98.run(spark, sf0001).collect().head
    val firstMerge = BpeTrainer.train(spark,
      Tables.load(spark, sf0001, "documents"), "text", 1).head
    assert(top.getString(0) == firstMerge.left + firstMerge.right)
    assert(top.getLong(1) == firstMerge.weight)
  }

  test("q113 domain mix: weights rebalance sources to a uniform budget") {
    val out = graft.operators.Pipeline.q113.run(spark, sf0001).collect()
    val k = out.length
    // sum over sources of weight * src_chars re-spends exactly the total
    // budget: every source lands on total/k
    val total = out.map(_.getAs[Long]("src_chars")).sum.toDouble
    out.foreach { r =>
      val spent = r.getAs[Double]("mix_weight") * r.getAs[Long]("src_chars")
      assert(math.abs(spent - total / k) < 1e-6 * total)
    }
    // a small source is up-weighted, a large one down-weighted
    val byChars = out.sortBy(_.getAs[Long]("src_chars"))
    assert(byChars.head.getAs[Double]("mix_weight") >=
      byChars.last.getAs[Double]("mix_weight"))
  }

  test("q114 contamination: fraction well-formed, hit counts agree with q47") {
    val out = Dedup.q114.run(spark, sf0001).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (n, hit, frac) = (r.getAs[Long]("n_grams"), r.getAs[Long]("n_hit"),
        r.getAs[Double]("contamination"))
      assert(hit <= n && frac >= 0.0 && frac <= 1.0)
      assert(frac == hit.toDouble / n)
    }
    // the score must order consistently with q47's flag counts
    val flagged = Dedup.q47.run(spark, sf0001).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_contaminated_grams"))
      .toMap
    val scores = out.map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Long]("n_hit")).toMap
    flagged.foreach { case (id, nHit) =>
      assert(scores.get(id).contains(nHit),
        s"doc $id: q47 counts $nHit, q114 counts ${scores.get(id)}")
    }
  }

  test("q115 representatives: one per cluster, the longest member, sizes add up") {
    val reps = Dedup.q115.run(spark, sf0001).collect()
    val clusters = Dedup.q46.run(spark, sf0001).collect()
      .groupBy(_.getAs[Long]("component")).view.mapValues(_.length).toMap
    assert(reps.length == clusters.size, "exactly one representative per cluster")
    reps.foreach { r =>
      assert(clusters(r.getAs[Long]("component")) ==
        r.getAs[Long]("cluster_size"))
    }
    assert(reps.map(_.getAs[Long]("cluster_size")).sum == clusters.values.sum)
  }

  test("q116 inverted index: df sorted, postings are the smallest doc ids") {
    val out = TextAnalysis.q116.run(spark, sf0001).collect()
    assert(out.nonEmpty && out.length <= 30)
    val dfs = out.map(_.getAs[Long]("df"))
    assert(dfs.sameElements(dfs.sorted.reverse), "df must be descending")
    out.foreach { r =>
      val postings = r.getAs[String]("postings_head").split(",").map(_.toLong)
      assert(postings.length == math.min(5L, r.getAs[Long]("df")))
      assert(postings.sameElements(postings.sorted), "postings sorted ascending")
    }
  }

  test("q117 banded near-dup counts equal the brute-force all-pairs") {
    // The banding is supposed to be EXACT for Hamming <= 3 (pigeonhole
    // over 4 bands); prove it against an in-Spark all-pairs on sf0.001.
    val banded = Dedup.q117.run(spark, sf0001).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val h = Dedup.q44.run(spark, sf0001).select("doc_id", "simhash")
    val a = h.select(col("doc_id").as("ia"), col("simhash").as("ha"))
    val b = h.select(col("doc_id").as("ib"), col("simhash").as("hb"))
    val brute = a.join(b, col("ia") < col("ib"))
      .select(expr("CAST(bit_count(ha ^ hb) AS INT)").as("ham"))
      .filter(col("ham") <= 3)
      .groupBy("ham").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(banded == brute, s"banded=$banded brute=$brute")
  }

  test("q118 LM score: probabilities bounded, bigram counts consistent") {
    val out = TextAnalysis.q118.run(spark, sf0001).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (n, p) = (r.getLong(1), r.getDouble(2))
      assert(n > 0)
      assert(p > 0.0 && p <= 1.0, s"avg_p out of range: $p")
    }
    // a doc made of one repeated bigram would score ~1; sanity-check the
    // scale: corpus-average must be well below certainty
    val mean = out.map(_.getDouble(2)).sum / out.length
    assert(mean < 0.5, s"suspicious corpus mean $mean")
  }

  test("orc:// connector round-trips orders exactly") {
    import graft.sources.ConnectorRegistry
    val orders = Tables.load(spark, sf0001, "orders")
    val out = java.nio.file.Files.createTempDirectory("orc_rt").toString
    ConnectorRegistry.write(orders, s"orc://$out/o")
    val back = ConnectorRegistry.read(spark, s"orc://$out/o")
    assert(back.schema == orders.schema)
    assert(back.exceptAll(orders).isEmpty && orders.exceptAll(back).isEmpty)
  }
}
