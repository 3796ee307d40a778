package graft.operators

import graft.core.Checkpoints._
import graft.{Query, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Similarity search over the `embeddings` table (64-d float vectors).
  *
  * Scale design (100 TB): brute-force top-k against a single query vector
  * is a broadcast (the query) + map (codegen'd fold over the array) +
  * `TakeOrderedAndProject` — no shuffle of the corpus at all, linear scan
  * at full parallelism. The all-pairs threshold join (q51) is the oracle
  * for semantics; its scale path is q53: random-hyperplane LSH bucketing
  * so the join key is a small bucket id and the quadratic part runs only
  * within buckets.
  *
  * All arithmetic is double, computed by sequential left-folds so Spark and
  * DuckDB produce bit-identical results.
  */
object Similarity {

  /** Linear-compute queries read the table as-is: scan parallelism at
    * production scale comes from file splits, and at bench scale a
    * repartition of a 2k-row table costs more in task scheduling than the
    * cosines cost in compute. Only the quadratic all-pairs step (q51)
    * balances first.
    */
  private def emb(s: SparkSession, dir: String) = Tables.load(s, dir, "embeddings")
  private def embBalanced(s: SparkSession, dir: String) =
    Tables.loadBalanced(s, dir, "embeddings")

  /** Cosine via the codegen'd `cosine_similarity` Expression
    * (graft.functions), bit-identical to the oracle's left-fold `cosSql`
    * on non-zero vectors. Precondition: no zero-norm vector. There the
    * expression returns NaN (0/0 in Java), where the oracle's SQL division
    * returns NULL — and NaN sorts ABOVE every double in a descending top-k
    * while NULL sorts last. The testdata has no zero-norm vectors at any SF.
    */
  private def cosCol(a: String, b: String): Column =
    expr(s"cosine_similarity($a, $b)")

  private def dotSql(a: String, b: String): String =
    s"""list_sum(list_transform(list_zip($a, $b),
       |  s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))""".stripMargin
  private def cosSql(a: String, b: String): String =
    s"${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"

  // -- q50: brute-force cosine top-k for one query vector -------------------
  val q50 = Query.sql(
    "q50_knn_brute",
    (s, dir) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      e.filter(col("vec_id") =!= 0)
        .crossJoin(Bounded.probe(q, 1)) // vec_id = 0: exactly one row
        .select(col("vec_id"), col("label"),
          cosCol("embedding", "qv").as("cos_sim"))
        .orderBy(desc("cos_sim"), asc("vec_id"))
        .limit(10)
    },
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
       |SELECT vec_id, label, ${cosSql("embedding", "qv")} AS cos_sim
       |FROM embeddings, q WHERE vec_id <> 0
       |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin)

  // -- q51: threshold similarity join (all-pairs oracle) --------------------
  //   Vectors are L2-normalized ONCE map-side, so the quadratic inner step
  //   is a single dot product (3× less arithmetic than cos per pair).
  //   All-pairs is the semantic oracle, bounded to vec_id < 1000 (covers
  //   the sf0.01 corpus fully); the unbounded scale path is q53's LSH.
  val q51 = Query.sql(
    "q51_sim_threshold",
    (s, dir) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      val e = embBalanced(s, dir).filter(col("vec_id") < 1000)
      val a = e.select(col("vec_id").as("id_a"), col("embedding").as("ea"))
      val b = e.select(col("vec_id").as("id_b"), col("embedding").as("eb"))
      a.join(b, col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          expr("cosine_similarity(ea, eb)").as("cos_sim"))
        .filter(col("cos_sim") > 0.35)
        .orderBy(desc("cos_sim"), asc("id_a"), asc("id_b"))
    },
    s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |  ${cosSql("a.embedding", "b.embedding")} AS cos_sim
       |FROM embeddings a JOIN embeddings b
       |  ON a.vec_id < b.vec_id AND a.vec_id < 1000 AND b.vec_id < 1000
       |WHERE ${cosSql("a.embedding", "b.embedding")} > 0.35
       |ORDER BY cos_sim DESC, id_a, id_b""".stripMargin)

  // -- q52: per-label vector stats (exact decimal-accumulated averages) -----
  val q52 = Query.sql(
    "q52_label_stats",
    (s, dir) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      emb(s, dir)
        .select(col("label"),
          expr("sqrt(dot_product(embedding, embedding))").as("norm"))
        .groupBy("label")
        .agg(
          count(lit(1)).as("n"),
          (sum(col("norm").cast(DecimalType(18, 6))).cast("double") / count(lit(1)))
            .as("avg_norm"),
          min(col("norm")).as("min_norm"),
          max(col("norm")).as("max_norm"))
        .orderBy("label")
    },
    s"""SELECT label, COUNT(*) AS n,
       |  CAST(SUM(CAST(sqrt(${dotSql("embedding", "embedding")}) AS DECIMAL(18,6)))
       |    AS DOUBLE) / COUNT(*) AS avg_norm,
       |  MIN(sqrt(${dotSql("embedding", "embedding")})) AS min_norm,
       |  MAX(sqrt(${dotSql("embedding", "embedding")})) AS max_norm
       |FROM embeddings GROUP BY label ORDER BY label""".stripMargin)

  // -- q53: random-hyperplane LSH bucketing + recall check (oracle-exact) ---
  //   Bucket id = 8 sign bits of dots with deterministic pseudo-random
  //   hyperplanes. Components are ±1 derived by PURE INTEGER ARITHMETIC
  //   from the (plane, dim) index — a Knuth multiplicative mix, no hash
  //   call at all — so the same expression runs in DuckDB and the whole
  //   pipeline (bucketing, candidate probe, recall vs brute-force top-10)
  //   is verified hash-exact. The stats row reports bucket shape and the
  //   recall of bucket-restricted search for query vec 0.
  val q53 = {
    val planes = 8
    Query.sql(
      "q53_ann_lsh",
      (s, dir) => {
        graft.functions.GraftFunctions.ensureRegistered(s)
        import s.implicits._
        // sign(p,i) = ±1 from bit 7 of (p·64+i)·2654435761 (products < 2^53:
        // exact in int64 and in DuckDB's BIGINT arithmetic). The hyperplane
        // components are a pure function of (p, i), so they are materialized
        // ONCE as a literal 8×64 array and each projection is a single
        // fused-loop native dot_product — the equivalent HOF formulation
        // (what the oracle runs) costs planes×dims lambda dispatches per
        // row.
        val planesLit = typedLit(Seq.tabulate(planes, 64) { (p, i) =>
          if ((((p * 64 + i) * 2654435761L) >> 7) % 2 == 0) 1.0 else -1.0
        }.map(_.toSeq))
        val bucket = aggregate(
          transform(sequence(lit(0), lit(planes - 1)), p =>
            when(call_function("dot_product", col("embedding"),
              element_at(planesLit, p + 1)) > 0.0,
              call_function("shiftleft", lit(1L), p.cast("int")))
              .otherwise(lit(0L))),
          lit(0L), (acc, v) => acc + v)
        val bucketed = emb(s, dir).select(col("vec_id"), col("embedding"),
          bucket.as("bucket"))
        bucketed.cache()
        // Recall is computed DISTRIBUTIVELY: the SF-growing candidate
        // bucket (≈ N/256 of the table) is semi-joined against the
        // brute-force top-10 (10 rows, broadcast) and counted — the only
        // driver-side values are the 1-row q0 bucket id and the final
        // scalar count. No collect() over an SF-growing set.
        val q0Bucket = bucketed.filter(col("vec_id") === 0)
          .select("bucket").as[Long].head()
        val brute10 = q54.run(s, dir).select("vec_id")
        val hit = bucketed
          .filter(col("bucket") === q0Bucket && col("vec_id") =!= 0)
          .join(broadcast(brute10), Seq("vec_id"), "left_semi")
          .count()
        val recall = hit / 10.0
        // bounded: single global-agg stats row
        val Array((nBuckets, maxBucket, avgBucket)) =
          bucketed.groupBy("bucket").agg(count(lit(1)).as("sz"))
            .agg(count(lit(1)), max(col("sz")),
              sum(col("sz")).cast("double") / count(lit(1)))
            .as[(Long, Long, Double)].collect()
        bucketed.unpersist()
        // Literal result row: re-evaluating the returned frame (the caller
        // counts it, Verify writes it) must not re-run the whole pipeline
        // against the now-unpersisted bucket table.
        s.range(1).select(
          lit(nBuckets).as("n_buckets"), lit(maxBucket).as("max_bucket"),
          lit(avgBucket).as("avg_bucket"), lit(recall).as("recall_at_10_q0"))
      },
      s"""WITH planes AS (SELECT unnest(generate_series(0, ${planes - 1})) AS p),
         |dots AS (
         |  SELECT e.vec_id, pl.p,
         |    list_sum(list_transform(list_zip(e.embedding, generate_series(0, 63)),
         |      s -> CAST(s[1] AS DOUBLE) *
         |        (CASE WHEN ((pl.p * 64 + s[2]) * 2654435761 >> 7) % 2 = 0
         |              THEN 1.0 ELSE -1.0 END))) AS dot
         |  FROM embeddings e, planes pl),
         |buckets AS (
         |  SELECT vec_id,
         |    CAST(SUM(CASE WHEN dot > 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END)
         |      AS BIGINT) AS bucket
         |  FROM dots GROUP BY vec_id),
         |q0 AS (SELECT bucket FROM buckets WHERE vec_id = 0),
         |cand AS (
         |  SELECT b.vec_id FROM buckets b, q0
         |  WHERE b.bucket = q0.bucket AND b.vec_id <> 0),
         |brute AS (
         |  SELECT vec_id FROM (
         |    SELECT e.vec_id, ${cosSql("e.embedding", "q.qv")} AS cos_sim
         |    FROM embeddings e,
         |      (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
         |    WHERE e.vec_id <> 0
         |    ORDER BY cos_sim DESC, e.vec_id LIMIT 10)),
         |hit AS (SELECT COUNT(*) AS h FROM cand JOIN brute USING (vec_id)),
         |shape AS (
         |  SELECT COUNT(*) AS n_buckets, MAX(sz) AS max_bucket,
         |    CAST(SUM(sz) AS DOUBLE) / COUNT(*) AS avg_bucket
         |  FROM (SELECT bucket, COUNT(*) AS sz FROM buckets GROUP BY bucket))
         |SELECT n_buckets, max_bucket, avg_bucket,
         |  CAST(h AS DOUBLE) / 10.0 AS recall_at_10_q0
         |FROM shape, hit""".stripMargin)
  }

  // -- q54: same search as q50 but through the NATIVE codegen'd
  //   cosine_similarity Expression (graft.functions.CosineSimilarity) and
  //   the TopKAggregator (partial+final agg, no global sort). Bit-identical
  //   accumulation order means it shares q50's oracle semantics.
  val q54 = Query.sql(
    "q54_knn_native",
    (s, dir) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      e.filter(col("vec_id") =!= 0)
        .crossJoin(Bounded.probe(q, 1)) // vec_id = 0: exactly one row
        .select(col("vec_id"), expr("cosine_similarity(embedding, qv)").as("cos_sim"))
        .agg(graft.functions.TopK.topK(10)(col("cos_sim"), col("vec_id")).as("top"))
        .select(explode(col("top")).as("t"))
        .select(col("t.id").as("vec_id"), col("t.score").as("cos_sim"))
        .orderBy(desc("cos_sim"), asc("vec_id"))
    },
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
       |SELECT vec_id, ${cosSql("embedding", "qv")} AS cos_sim
       |FROM embeddings, q WHERE vec_id <> 0
       |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin)

  // -- q55: IVF-style ANN (oracle-exact) ------------------------------------
  //   Inverted-file variant: vectors are assigned to their nearest of
  //   nCells seed centroids (deterministic seeds = first nCells vectors; a
  //   production build would k-means them, the partition/probe mechanics
  //   are identical). A query probes only the nProbe nearest cells, so the
  //   scan is corpus/nCells*nProbe instead of the full corpus. The stats
  //   row carries cell-shape and measured recall@10 vs the brute-force
  //   result for query vec 0 — all reproduced in the DuckDB oracle (the
  //   native cosine Expression folds bit-identically to list_sum).
  val q55 = {
    val nCells = 16
    val nProbe = 4
    Query.sql(
      "q55_ann_ivf",
      (s, dir) => {
        graft.functions.GraftFunctions.ensureRegistered(s)
        import s.implicits._
        val e = emb(s, dir)
        // Centroids are nCells rows: collect once and ship as a LITERAL
        // array, so cell assignment is a map-only argmax fold (array_max
        // over struct(sim, cell) == max(struct(sim, cell)): deterministic
        // on impossible sim ties). The previous crossJoin+groupBy form
        // shuffled every (vector × cell) row WITH its embedding payload —
        // 16× the corpus through the wire; this form shuffles nothing.
        // bounded: nCells centroid rows, shipped as a literal
        val centLocal = e.filter(col("vec_id") < nCells)
          .select(col("vec_id"), col("embedding"))
          .as[(Long, Seq[Float])].collect().sortBy(_._1)
        val centsLit = typedLit(centLocal.map(_._2).toSeq)
        val bestCell = array_max(transform(
          sequence(lit(0), lit(nCells - 1)),
          c => struct(
            call_function("cosine_similarity", col("embedding"),
              element_at(centsLit, c + 1)).as("sim"),
            c.cast("long").as("cell")))).getField("cell")
        val assigned = e.select(col("vec_id"), col("embedding"),
          bestCell.as("cell")).cache()
        // Probe selection runs on the driver over the collected centroids
        // with the same sequential double fold as the native Expression —
        // bit-identical sims, zero Spark jobs.
        def cos(a: Seq[Float], b: Seq[Float]): Double = {
          var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
          val n = math.min(a.length, b.length)
          while (i < n) {
            val x = a(i).toDouble; val y = b(i).toDouble
            dot += x * y; na += x * x; nb += y * y; i += 1
          }
          dot / (math.sqrt(na) * math.sqrt(nb))
        }
        val qv = centLocal.find(_._1 == 0L).get._2
        val probeSet = centLocal.map { case (cell, cv) => (cos(qv, cv), cell) }
          .sortBy { case (sim, cell) => (-sim, -cell) }.take(nProbe).map(_._2)
        // Recall computed distributively: the probe's top-10 (already a
        // distributed TakeOrdered) is semi-joined against the broadcast
        // brute-force top-10 and counted — no driver-side set math.
        val cand10 = assigned
          .filter(col("cell").isin(probeSet: _*) && col("vec_id") =!= 0)
          .select(col("vec_id"),
            call_function("cosine_similarity", col("embedding"),
              typedLit(qv)).as("sim"))
          .orderBy(desc("sim"), asc("vec_id")).limit(10)
          .select("vec_id")
        val hit = cand10
          .join(broadcast(q54.run(s, dir).select("vec_id")),
            Seq("vec_id"), "left_semi")
          .count()
        val recall = hit / 10.0
        // bounded: single global-agg stats row
        val Array((searched, total)) = assigned.agg(
          sum(when(col("cell").isin(probeSet: _*), 1L).otherwise(0L)),
          count(lit(1))).as[(Long, Long)].collect()
        assigned.unpersist()
        s.range(1).select(
          lit(nCells).as("n_cells"), lit(nProbe).as("n_probe"),
          lit(searched).as("vectors_searched"), lit(total).as("corpus_size"),
          lit(recall).as("recall_at_10_q0"))
      },
      s"""WITH cents AS (
         |  SELECT vec_id AS cell, embedding AS cv FROM embeddings
         |  WHERE vec_id < $nCells),
         |sims AS (
         |  SELECT e.vec_id, e.embedding, c.cell,
         |    ${cosSql("e.embedding", "c.cv")} AS sim
         |  FROM embeddings e, cents c),
         |assigned AS (
         |  SELECT vec_id, embedding, cell FROM (
         |    SELECT vec_id, embedding, cell,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY sim DESC, cell DESC) AS rn
         |    FROM sims) WHERE rn = 1),
         |probe AS (
         |  SELECT cell FROM sims WHERE vec_id = 0
         |  ORDER BY sim DESC, cell DESC LIMIT $nProbe),
         |cand AS (
         |  SELECT a.vec_id,
         |    ${cosSql("a.embedding", "q.qv")} AS sim
         |  FROM assigned a JOIN probe USING (cell),
         |    (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
         |  WHERE a.vec_id <> 0
         |  ORDER BY sim DESC, a.vec_id LIMIT 10),
         |brute AS (
         |  SELECT vec_id FROM (
         |    SELECT e.vec_id, ${cosSql("e.embedding", "q.qv")} AS cos_sim
         |    FROM embeddings e,
         |      (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
         |    WHERE e.vec_id <> 0
         |    ORDER BY cos_sim DESC, e.vec_id LIMIT 10)),
         |hit AS (SELECT COUNT(*) AS h FROM cand JOIN brute USING (vec_id)),
         |sr AS (SELECT COUNT(*) AS searched
         |       FROM assigned JOIN probe USING (cell)),
         |tot AS (SELECT COUNT(*) AS total FROM assigned)
         |SELECT CAST($nCells AS INTEGER) AS n_cells,
         |  CAST($nProbe AS INTEGER) AS n_probe,
         |  searched AS vectors_searched, total AS corpus_size,
         |  CAST(h AS DOUBLE) / 10.0 AS recall_at_10_q0
         |FROM sr, tot, hit""".stripMargin)
  }

  // -- q56: batched KNN — top-5 neighbors for EACH of the first 20 query
  //   vectors in one plan (broadcast the query block, window-rank per
  //   query). The realistic serving shape: one pass over the corpus
  //   answers the whole query batch.
  val q56 = Query.sql(
    "q56_knn_batch",
    (s, dir) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      val e = emb(s, dir)
      val queries = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy(desc("cos_sim"), asc("vec_id"))
      e.filter(col("vec_id") >= 20)
        .crossJoin(Bounded.probe(queries, 20)) // vec_id < 20: <= 20 rows
        .select(col("q_id"), col("vec_id"),
          expr("cosine_similarity(embedding, qv)").as("cos_sim"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 5)
        .orderBy("q_id", "rk")
    },
    s"""SELECT q_id, vec_id, cos_sim, rk FROM (
       |  SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
       |    ${cosSql("e.embedding", "q.embedding")} AS cos_sim,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY ${cosSql("e.embedding", "q.embedding")} DESC, e.vec_id)
       |      AS rk
       |  FROM embeddings e JOIN embeddings q
       |    ON q.vec_id < 20 AND e.vec_id >= 20)
       |WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin)

  // -- q156: MMR diverse top-k (maximal marginal relevance) -----------------
  //   The diversity-aware selection step curation uses where plain top-k
  //   returns near-duplicates: greedily pick argmax of
  //   rel(d) − λ·max_{s∈selected} sim(d, s) (Carbonell & Goldstein,
  //   SIGIR 1998), λ = 0.5, k = 5. Each round is one corpus map +
  //   TakeOrderedAndProject(1) with the selected set shipped as LITERAL
  //   vectors (q55's centroid pattern — driver state is k embeddings, the
  //   corpus never shuffles); at 100 TB the standard pre-step is a top-M
  //   relevance cut, then these same k passes over the M survivors. Both
  //   engines compute sims with the identical sequential double fold, so
  //   scores — and hence the greedy argmax at every round — match
  //   bit-for-bit. Bounded to vec_id < 500 for the oracle's unrolled
  //   correlated-MAX rounds.
  val q156 = {
    val k = 5
    val lambda = 0.5
    Query.sql(
      "q156_mmr_select",
      (s, dir) => {
        graft.functions.GraftFunctions.ensureRegistered(s)
        import s.implicits._
        val e = emb(s, dir)
        val qv = e.filter(col("vec_id") === 0)
          .select(col("embedding")).as[Seq[Float]].head()
        val cand = e.filter(col("vec_id") > 0 && col("vec_id") < 500)
          .select(col("vec_id"), col("embedding"),
            call_function("cosine_similarity", col("embedding"),
              typedLit(qv)).as("rel"))
        var selected = List.empty[(Long, Seq[Float], Double)] // id, vec, score
        for (_ <- 1 to k) {
          val score =
            if (selected.isEmpty) col("rel")
            else {
              val sims = selected.map { case (_, sv, _) =>
                call_function("cosine_similarity", col("embedding"),
                  typedLit(sv)) }
              val maxSim = if (sims.size == 1) sims.head else greatest(sims: _*)
              col("rel") - lit(lambda) * maxSim
            }
          val pick = cand
            .filter(!col("vec_id").isin(selected.map(_._1): _*))
            .select(col("vec_id"), col("embedding"), score.as("score"))
            .orderBy(desc("score"), asc("vec_id"))
            .as[(Long, Seq[Float], Double)].head()
          selected = selected :+ pick
        }
        selected.zipWithIndex
          .map { case ((id, _, sc), i) => (i + 1L, id, sc) }
          .toDF("pick_no", "vec_id", "mmr_score")
      }, {
        val simTo = (v: String) => cosSql("r.embedding", v)
        val rounds = (2 to k).map { i =>
          val prev = (1 until i).map(j => s"SELECT * FROM s$j").mkString(" UNION ALL ")
          s"""s$i AS MATERIALIZED (
             |  SELECT r.vec_id, r.embedding,
             |    r.rel - $lambda * (SELECT MAX(${simTo("sel.embedding")})
             |      FROM ($prev) sel) AS score
             |  FROM rel r
             |  WHERE r.vec_id NOT IN (SELECT vec_id FROM ($prev) p)
             |  ORDER BY score DESC, r.vec_id LIMIT 1)""".stripMargin
        }.mkString(",\n")
        val out = (1 to k)
          .map(i => s"SELECT $i AS pick_no, vec_id, score FROM s$i")
          .mkString(" UNION ALL ")
        s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
           |rel AS MATERIALIZED (
           |  SELECT vec_id, embedding, ${cosSql("embedding", "qv")} AS rel
           |  FROM embeddings, q WHERE vec_id > 0 AND vec_id < 500),
           |s1 AS MATERIALIZED (
           |  SELECT vec_id, embedding, rel AS score FROM rel
           |  ORDER BY rel DESC, vec_id LIMIT 1),
           |$rounds
           |SELECT CAST(pick_no AS BIGINT) AS pick_no, vec_id,
           |  score AS mmr_score
           |FROM ($out) ORDER BY pick_no""".stripMargin
      })
  }

  // -- q213: retrieval eval — hit-rate@10 and MRR@10 by label ----------------
  //   The eval harness for any ANN index: treat each of the first 50
  //   vectors as a query, rank the rest by cosine, and score whether a
  //   SAME-LABEL vector appears in the top 10 (hit) and at which first
  //   rank (MRR). Reciprocal ranks are kept EXACT by scaling to the
  //   common denominator lcm(1..10)=2520 — each hit contributes the
  //   integer 2520/rank, so the MRR is one BIGINT sum and one final
  //   division instead of an order-dependent float accumulation. Bounded
  //   query batch (q56's pattern): one corpus pass answers all 50 queries;
  //   per-query ranking is a window over the 50-partition keyspace.
  val q213 = Query.sql(
    "q213_retrieval_eval",
    (s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 50)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          col("label").as("qlabel"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(desc("cos_sim"), asc("vec_id"))
      val ranked = e.filter(col("vec_id") >= 50)
        .crossJoin(Bounded.probe(q, 50)) // vec_id < 50: <= 50 rows
        .select(col("qid"), col("qlabel"), col("vec_id"), col("label"),
          call_function("cosine_similarity",
            col("embedding"), col("qv")).as("cos_sim"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 10)
      ranked.groupBy("qid")
        .agg(min(when(col("label") === col("qlabel"), col("rn")))
          .as("first_hit"))
        .agg(count(lit(1)).as("n_queries"),
          sum(when(col("first_hit").isNotNull, 1L).otherwise(0L))
            .as("n_hits"),
          sum(when(col("first_hit").isNotNull,
            expr("2520 div first_hit")).otherwise(0L)).as("rr_scaled"))
        .select(col("n_queries"), col("n_hits"),
          (col("n_hits").cast("double") / col("n_queries").cast("double"))
            .as("hit_rate"),
          (col("rr_scaled").cast("double") /
            (col("n_queries") * 2520).cast("double")).as("mrr"))
    },
    s"""WITH q AS (
       |  SELECT vec_id AS qid, embedding AS qv, label AS qlabel
       |  FROM embeddings WHERE vec_id < 50),
       |ranked AS (
       |  SELECT qid, qlabel, e.vec_id, e.label,
       |    row_number() OVER (PARTITION BY qid
       |      ORDER BY ${cosSql("e.embedding", "qv")} DESC, e.vec_id)
       |      AS rn
       |  FROM embeddings e CROSS JOIN q WHERE e.vec_id >= 50
       |  QUALIFY rn <= 10),
       |per AS (
       |  SELECT qid,
       |    MIN(CASE WHEN label = qlabel THEN rn END) AS first_hit
       |  FROM ranked GROUP BY qid)
       |SELECT COUNT(*) AS n_queries,
       |  CAST(SUM(CASE WHEN first_hit IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_hits,
       |  CAST(SUM(CASE WHEN first_hit IS NOT NULL THEN 1 ELSE 0 END)
       |      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS hit_rate,
       |  CAST(CAST(SUM(CASE WHEN first_hit IS NOT NULL
       |      THEN 2520 // first_hit ELSE 0 END) AS BIGINT) AS DOUBLE) /
       |    CAST(COUNT(*) * 2520 AS DOUBLE) AS mrr
       |FROM per""".stripMargin)

  // -- q223: mutual nearest neighbors (reciprocal best match) ----------------
  //   Pairs where each vector is the OTHER's single nearest neighbor —
  //   the high-precision matching rule used for bitext alignment and
  //   near-dup confirmation (one-directional NN is noisy; mutuality
  //   filters hubs). Bounded all-pairs oracle (vec_id < 400, q51's
  //   pattern); at scale the NN step comes from the LSH/IVF path and only
  //   the mutuality join below survives. Each direction's argmax is a
  //   max(struct) over the candidate list — no per-vector sort; the
  //   canonical (lo, hi) self-join then keeps reciprocal pairs once.
  val q223 = Query.sql(
    "q223_mutual_nn",
    (s, dir) => {
      val e = emb(s, dir).filter(col("vec_id") < 400)
        .select(col("vec_id"), col("embedding"))
        .barrier()
      val best = e.as("a").join(e.as("b"),
          col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"),
          call_function("cosine_similarity",
            col("a.embedding"), col("b.embedding")).as("cs"))
        .groupBy("src")
        .agg(max(struct(col("cs").as("cs"), (-col("dst")).as("nd")))
          .as("b"))
        .select(col("src"), (-col("b.nd")).as("nn"), col("b.cs").as("cs"))
        // one row per vector — materialize so the x/y self-join below does
        // not recompute the all-pairs scoring twice
        .barrier()
      best.as("x").join(best.as("y"),
          col("x.src") === col("y.nn") && col("x.nn") === col("y.src") &&
            col("x.src") < col("y.src"))
        .select(col("x.src").as("id_a"), col("y.src").as("id_b"),
          col("x.cs").as("cos_ab"))
        .orderBy("id_a")
    },
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings
       |           WHERE vec_id < 400),
       |scored AS (
       |  SELECT a.vec_id AS src, b.vec_id AS dst,
       |    ${cosSql("a.embedding", "b.embedding")} AS cs,
       |    row_number() OVER (PARTITION BY a.vec_id
       |      ORDER BY ${cosSql("a.embedding", "b.embedding")} DESC,
       |        b.vec_id ASC) AS rn
       |  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
       |best AS (SELECT src, dst AS nn, cs FROM scored WHERE rn = 1)
       |SELECT x.src AS id_a, y.src AS id_b, x.cs AS cos_ab
       |FROM best x JOIN best y
       |  ON x.src = y.nn AND x.nn = y.src AND x.src < y.src
       |ORDER BY id_a""".stripMargin)

  // -- q232: k-fold CV assignment + class-balance audit ---------------------
  //   Deterministic 5-fold split of the labeled vectors (fold = salted
  //   md5 prefix mod 5 — reproducible on any engine, no RNG, no
  //   assignment table to persist) and the audit that matters before
  //   training on it: each fold's per-label share vs the global share.
  //   skew = share/global_share is a ratio of two identically-computed
  //   IEEE divisions, so cross-engine equality is structural. Map-side
  //   classification + one (fold, label) rollup; the label marginals are
  //   a broadcast-size aggregate.
  val q232 = Query.sql(
    "q232_cv_fold_audit",
    (s, dir) => {
      val assigned = emb(s, dir).select(
        (expr("CAST(conv(substring(md5(concat('cv:', CAST(vec_id AS STRING))), 1, 7), 16, 10) AS BIGINT)")
          % 5).as("fold"),
        col("label").cast("long").as("label"))
      val byCell = assigned.groupBy("fold", "label")
        .agg(count(lit(1)).as("n"))
        .barrier() // k×|labels| rows; read for 3 rollups
      val foldTot = byCell.groupBy("fold").agg(sum("n").as("fold_total"))
      val labelTot = byCell.groupBy("label").agg(sum("n").as("label_total"))
      val grand = byCell.agg(sum("n").as("grand")).select("grand")
      byCell.join(broadcast(foldTot), "fold")
        .join(broadcast(labelTot), "label")
        .crossJoin(broadcast(grand))
        .select(col("fold"), col("label"), col("n"), col("fold_total"),
          (col("n").cast("double") / col("fold_total").cast("double"))
            .as("share"),
          ((col("n").cast("double") / col("fold_total").cast("double")) /
            (col("label_total").cast("double") / col("grand").cast("double")))
            .as("skew"))
        .orderBy("fold", "label")
    },
    """WITH assigned AS (
      |  SELECT ('0x' || substring(md5('cv:' || CAST(vec_id AS VARCHAR)), 1, 7))::BIGINT
      |           % 5 AS fold,
      |         CAST(label AS BIGINT) AS label
      |  FROM embeddings),
      |bc AS (SELECT fold, label, COUNT(*) AS n FROM assigned GROUP BY 1, 2),
      |ft AS (SELECT fold, CAST(SUM(n) AS BIGINT) AS fold_total FROM bc GROUP BY 1),
      |lt AS (SELECT label, CAST(SUM(n) AS BIGINT) AS label_total FROM bc GROUP BY 1),
      |g AS (SELECT CAST(SUM(n) AS BIGINT) AS grand FROM bc)
      |SELECT fold, label, n, fold_total,
      |  CAST(n AS DOUBLE) / CAST(fold_total AS DOUBLE) AS share,
      |  (CAST(n AS DOUBLE) / CAST(fold_total AS DOUBLE)) /
      |    (CAST(label_total AS DOUBLE) / CAST(grand AS DOUBLE)) AS skew
      |FROM bc JOIN ft USING (fold) JOIN lt USING (label) CROSS JOIN g
      |ORDER BY fold, label""".stripMargin)

  // -- q244: contrastive-pair mining (positives + hard negatives) -----------
  //   Training data for embedding models: for each query vector, the top-3
  //   nearest SAME-label corpus vectors (positives) and the top-3 nearest
  //   DIFFERENT-label ones (hard negatives — high-similarity confusables
  //   that carry most of the contrastive gradient). Queries broadcast once
  //   (the q50 pattern), one corpus pass scores all (query, kind) groups,
  //   and the per-group top-3 is a (qid, kind)-partitioned window — 10
  //   small independent partitions here; at 10⁹ vectors the same shape
  //   swaps the window for the bounded TopKAggregator (q54) per group.
  val q244 = Query.sql(
    "q244_hard_negatives",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      graft.functions.GraftFunctions.ensureRegistered(s)
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("label").as("qlabel"),
          col("embedding").as("qv"))
      val w = Window.partitionBy("qid", "kind")
        .orderBy(desc("cos_sim"), asc("vec_id"))
      e.filter(col("vec_id") >= 5)
        .crossJoin(Bounded.probe(q, 5)) // vec_id < 5: <= 5 rows
        .select(col("qid"), col("vec_id"), col("label"),
          cosCol("embedding", "qv").as("cos_sim"),
          when(col("label") === col("qlabel"), lit("positive"))
            .otherwise(lit("hard_negative")).as("kind"))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 3)
        .select("qid", "kind", "rnk", "vec_id", "label", "cos_sim")
        .orderBy("qid", "kind", "rnk")
    },
    s"""WITH q AS (
       |  SELECT vec_id AS qid, label AS qlabel, embedding AS qv
       |  FROM embeddings WHERE vec_id < 5),
       |scored AS (
       |  SELECT qid, vec_id, label,
       |    ${cosSql("embedding", "qv")} AS cos_sim,
       |    CASE WHEN label = qlabel THEN 'positive'
       |      ELSE 'hard_negative' END AS kind
       |  FROM embeddings, q WHERE vec_id >= 5),
       |rk AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid, kind
       |    ORDER BY cos_sim DESC, vec_id) AS rnk FROM scored)
       |SELECT qid, kind, rnk, vec_id, label, cos_sim
       |FROM rk WHERE rnk <= 3 ORDER BY qid, kind, rnk""".stripMargin)

  // -- q291: DBSCAN density clustering over embeddings ----------------------
  //   Full DBSCAN semantics (Ester et al. 1996) on the cosine ε-graph:
  //   CORE points have ≥ minPts ε-neighbors, clusters are connected
  //   components of the core–core subgraph (ConnectedComponents.run —
  //   pointer jumping, the q46 machinery), BORDER points attach to their
  //   minimum core-neighbor's cluster, everything else is NOISE. The
  //   density-based near-dup grouping that survives chains a plain
  //   threshold join would over-merge.
  //
  //   Bounded all-pairs oracle (vec_id < 500, the q51 contract); the
  //   scale path replaces the ε-graph build with q53's LSH buckets and
  //   keeps everything downstream unchanged. Cosines are the same
  //   sequential left-folds (bit-identical both engines); cluster labels
  //   come from the same min-reachable fixpoint the q46 oracle walks.
  val q291 = Query.sql(
    "q291_density_clusters",
    (s, dir) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      val eps = 0.3
      val minPts = 3
      val e = embBalanced(s, dir).filter(col("vec_id") < 500)
        .select(col("vec_id"), col("embedding"))
        .barrier()
      val pairs = e.as("a")
        .join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
        .filter(expr("cosine_similarity(a.embedding, b.embedding)") > eps)
        .select(col("a.vec_id").as("x"), col("b.vec_id").as("y"))
        .barrier()
      val sym = pairs.union(pairs.select(col("y").as("x"), col("x").as("y")))
      val deg = sym.groupBy(col("x").as("id")).agg(count(lit(1)).as("deg"))
      val core = deg.filter(col("deg") >= minPts).select("id")
        .barrier()
      val coreEdges = sym
        .join(core.select(col("id").as("cx")), col("x") === col("cx"))
        .join(core.select(col("id").as("cy")), col("y") === col("cy"))
        .select(col("x").as("a"), col("y").as("b"))
      val comp = ConnectedComponents.run(core, coreEdges) // (id, component)
      val borderLabel = sym
        .join(core.select(col("id").as("cn")), col("y") === col("cn"))
        .join(comp.select(col("id").as("cid"), col("component")),
          col("y") === col("cid"))
        .groupBy(col("x").as("bid")).agg(min(col("component")).as("bcluster"))
      e.select(col("vec_id"))
        .join(comp.select(col("id").as("vid"), col("component")),
          col("vec_id") === col("vid"), "left")
        .join(borderLabel, col("vec_id") === col("bid"), "left")
        .select(col("vec_id"),
          when(col("component").isNotNull, "core")
            .when(col("bcluster").isNotNull, "border")
            .otherwise("noise").as("role"),
          coalesce(col("component"),
            when(col("bcluster").isNotNull, col("bcluster"))).as("cluster"))
        .orderBy("vec_id")
    },
    s"""WITH RECURSIVE e AS (
       |  SELECT vec_id, embedding FROM embeddings WHERE vec_id < 500),
       |pairs AS MATERIALIZED (
       |  SELECT a.vec_id AS x, b.vec_id AS y
       |  FROM e a JOIN e b ON a.vec_id < b.vec_id
       |  WHERE ${cosSql("a.embedding", "b.embedding")} > 0.3),
       |sym AS MATERIALIZED (
       |  SELECT x, y FROM pairs UNION ALL SELECT y, x FROM pairs),
       |deg AS (SELECT x AS id, COUNT(*) AS deg FROM sym GROUP BY x),
       |core AS MATERIALIZED (SELECT id FROM deg WHERE deg >= 3),
       |ce AS MATERIALIZED (
       |  SELECT s.x AS a, s.y AS b FROM sym s
       |  JOIN core cx ON s.x = cx.id JOIN core cy ON s.y = cy.id),
       |reach(id, r) AS (
       |  SELECT id, id FROM core
       |  UNION
       |  SELECT ce.b, reach.r FROM ce JOIN reach ON ce.a = reach.id),
       |comp AS MATERIALIZED (
       |  SELECT id, MIN(r) AS component FROM reach GROUP BY id),
       |border AS (
       |  SELECT s.x AS bid, MIN(c.component) AS bcluster
       |  FROM sym s JOIN core co ON s.y = co.id
       |  JOIN comp c ON s.y = c.id
       |  GROUP BY s.x)
       |SELECT e.vec_id,
       |  CASE WHEN comp.component IS NOT NULL THEN 'core'
       |       WHEN border.bcluster IS NOT NULL THEN 'border'
       |       ELSE 'noise' END AS role,
       |  COALESCE(comp.component,
       |    CASE WHEN border.bcluster IS NOT NULL THEN border.bcluster END)
       |    AS cluster
       |FROM e
       |LEFT JOIN comp ON e.vec_id = comp.id
       |LEFT JOIN border ON e.vec_id = border.bid
       |ORDER BY e.vec_id""".stripMargin)

  // -- q292: label-noise detection (k-NN majority disagreement) -------------
  //   Confident-learning-style QA for labeled embeddings: a vector whose
  //   5 nearest neighbors' majority label disagrees with its own label is
  //   a mislabel candidate (Northcutt et al. 2021's intuition, as the
  //   exact k-NN vote). Output: the disagreeing vectors with their own
  //   label, the neighborhood majority, and the vote count.
  //
  //   Bounded all-pairs oracle (vec_id < 300, q51's contract; scale path
  //   = LSH/IVF neighbor generation feeding the same vote). Ranks break
  //   cosine ties on neighbor id; the majority vote breaks count ties on
  //   the smaller label — every ordering total, both engines identical.
  val q292 = Query.sql(
    "q292_label_noise",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      graft.functions.GraftFunctions.ensureRegistered(s)
      val e = embBalanced(s, dir).filter(col("vec_id") < 300)
        .select(col("vec_id"), col("embedding"), col("label"))
        .barrier()
      val wNn = Window.partitionBy("a").orderBy(desc("cs"), asc("b"))
      val votes = e.as("x").join(e.as("y"), col("x.vec_id") =!= col("y.vec_id"))
        .select(col("x.vec_id").as("a"), col("x.label").as("own"),
          col("y.vec_id").as("b"), col("y.label").as("nl"),
          expr("cosine_similarity(x.embedding, y.embedding)").as("cs"))
        .withColumn("rk", row_number().over(wNn))
        .filter(col("rk") <= 5)
        .groupBy(col("a"), col("own"), col("nl"))
        .agg(count(lit(1)).as("votes"))
      val wMaj = Window.partitionBy("a").orderBy(desc("votes"), asc("nl"))
      votes.withColumn("mr", row_number().over(wMaj))
        .filter(col("mr") === 1 && col("nl") =!= col("own"))
        .select(col("a").as("vec_id"), col("own").as("own_label"),
          col("nl").as("majority_label"), col("votes").as("majority_votes"))
        .orderBy("vec_id")
    },
    s"""WITH e AS (
       |  SELECT vec_id, embedding, label FROM embeddings WHERE vec_id < 300),
       |nn AS (
       |  SELECT x.vec_id AS a, x.label AS own, y.vec_id AS b,
       |    y.label AS nl,
       |    ${cosSql("x.embedding", "y.embedding")} AS cs
       |  FROM e x JOIN e y ON x.vec_id <> y.vec_id),
       |rk AS (
       |  SELECT a, own, nl,
       |    row_number() OVER (PARTITION BY a ORDER BY cs DESC, b) AS rk
       |  FROM nn),
       |votes AS (
       |  SELECT a, own, nl, COUNT(*) AS votes
       |  FROM rk WHERE rk <= 5 GROUP BY 1, 2, 3),
       |maj AS (
       |  SELECT a, own, nl, votes,
       |    row_number() OVER (PARTITION BY a ORDER BY votes DESC, nl) AS mr
       |  FROM votes)
       |SELECT a AS vec_id, own AS own_label, nl AS majority_label,
       |  votes AS majority_votes
       |FROM maj WHERE mr = 1 AND nl <> own ORDER BY vec_id""".stripMargin)

  // -- q325: grid-bucketed spatial neighbor join ----------------------------
  //   The 2-D range self-join (geo points, UI coordinates, feature pairs):
  //   for every point, count neighbors within Chebyshev radius r. The
  //   all-pairs form is O(n²); the scale path buckets points into r-sized
  //   grid cells so candidates come only from the 3×3 cell neighborhood —
  //   each point probes 9 cells and each true pair is found EXACTLY once
  //   (the neighbor's home cell is unique), so no dedup pass. The oracle
  //   keeps the naive all-pairs SQL, proving the grid plan computes the
  //   same counts. Shuffle carries (cell, point) rows; per-cell skew is
  //   the density bound a real geo pipeline audits with q103's profile.
  //   Coordinates are exact integers (n_chars × a decimal fold of doc_id).
  val q325 = {
    val r = 8L
    Query.sql(
      "q325_grid_spatial_join",
      (s, dir) => {
        val pts = Tables.loadBalanced(s, dir, "documents")
          .select(col("doc_id").as("id"), col("n_chars").cast("long").as("x"),
            pmod(col("doc_id"), lit(479L)).as("y"))
        val cells = pts
          .withColumn("cx", floor(col("x") / r))
          .withColumn("cy", floor(col("y") / r))
          .barrier() // probe side (×9) and build side share this frame
        val probe = cells
          .crossJoin(s.sql(
            "SELECT explode(sequence(-1, 1)) AS dx")
            .crossJoin(s.sql("SELECT explode(sequence(-1, 1)) AS dy")))
          .select(col("id").as("ida"), col("x").as("xa"), col("y").as("ya"),
            (col("cx") + col("dx")).as("cx"), (col("cy") + col("dy")).as("cy"))
        val nbr = probe
          .join(cells.select(col("id").as("idb"), col("x").as("xb"),
            col("y").as("yb"), col("cx"), col("cy")), Seq("cx", "cy"))
          .filter(col("ida") =!= col("idb") &&
            abs(col("xa") - col("xb")) <= r && abs(col("ya") - col("yb")) <= r)
          .groupBy("ida").agg(count(lit(1)).as("nn"))
        pts.join(nbr, pts("id") === nbr("ida"), "left")
          .select(coalesce(col("nn"), lit(0L)).as("n_neighbors"))
          .groupBy("n_neighbors").agg(count(lit(1)).as("n_points"))
          .orderBy("n_neighbors")
      },
      s"""WITH pts AS (
         |  SELECT doc_id AS id, CAST(n_chars AS BIGINT) AS x,
         |    doc_id % 479 AS y
         |  FROM documents),
         |nbr AS (
         |  SELECT a.id, COUNT(b.id) AS nn
         |  FROM pts a JOIN pts b
         |    ON a.id <> b.id AND abs(a.x - b.x) <= $r AND abs(a.y - b.y) <= $r
         |  GROUP BY a.id)
         |SELECT COALESCE(nn, 0) AS n_neighbors, COUNT(*) AS n_points
         |FROM pts LEFT JOIN nbr USING (id)
         |GROUP BY 1 ORDER BY n_neighbors""".stripMargin)
  }

  // -- q337: average precision @10 (MAP component, exact rationals) --------
  //   Completes q213's eval battery: AP@10 per query over the same 50-query
  //   batch. P@i = hits_i / i is kept EXACT by scaling to lcm(1..10)=2520 —
  //   every hit contributes the integer hits_i * (2520 div i), so the AP
  //   numerator is a BIGINT and the only float op is ONE final division by
  //   2520 * min(R, 10). R (relevant corpus docs per query label) is a tiny
  //   per-label count broadcast back. Scale: identical to q213 — one corpus
  //   pass scores all queries, ranking is a window over the 50-key space;
  //   per-query output rows are O(|queries|), never O(corpus).
  val q337 = Query.sql(
    "q337_average_precision",
    (s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 50)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          col("label").as("qlabel"))
      val relCounts = e.filter(col("vec_id") >= 50)
        .groupBy(col("label").as("qlabel"))
        .agg(count(lit(1)).as("r_total"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(desc("cos_sim"), asc("vec_id"))
      val wCum = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy("rn")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val ranked = e.filter(col("vec_id") >= 50)
        .crossJoin(Bounded.probe(q, 50))
        .select(col("qid"), col("qlabel"), col("vec_id"), col("label"),
          call_function("cosine_similarity",
            col("embedding"), col("qv")).as("cos_sim"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 10)
        .withColumn("hit", when(col("label") === col("qlabel"), 1L).otherwise(0L))
        .withColumn("hits_at", sum(col("hit")).over(wCum))
      ranked.groupBy("qid", "qlabel")
        .agg(sum(col("hit")).as("n_hits10"),
          sum(when(col("hit") === 1L,
            col("hits_at") * expr("2520 div rn")).otherwise(0L))
            .as("ap_scaled"))
        .join(broadcast(relCounts), "qlabel")
        .select(col("qid"), col("r_total"), col("n_hits10"),
          (col("ap_scaled").cast("double") /
            (least(col("r_total"), lit(10L)) * 2520L).cast("double"))
            .as("ap10"))
        .orderBy("qid")
    },
    s"""WITH q AS (
       |  SELECT vec_id AS qid, embedding AS qv, label AS qlabel
       |  FROM embeddings WHERE vec_id < 50),
       |rc AS (
       |  SELECT label AS qlabel, COUNT(*) AS r_total
       |  FROM embeddings WHERE vec_id >= 50 GROUP BY label),
       |ranked AS (
       |  SELECT qid, qlabel, e.vec_id, e.label,
       |    row_number() OVER (PARTITION BY qid
       |      ORDER BY ${cosSql("e.embedding", "qv")} DESC, e.vec_id)
       |      AS rn
       |  FROM embeddings e CROSS JOIN q WHERE e.vec_id >= 50
       |  QUALIFY rn <= 10),
       |hits AS (
       |  SELECT qid, qlabel, rn,
       |    CASE WHEN label = qlabel THEN 1 ELSE 0 END AS hit,
       |    SUM(CASE WHEN label = qlabel THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY qid ORDER BY rn
       |            ROWS UNBOUNDED PRECEDING) AS hits_at
       |  FROM ranked),
       |per AS (
       |  SELECT qid, qlabel,
       |    CAST(SUM(hit) AS BIGINT) AS n_hits10,
       |    CAST(SUM(CASE WHEN hit = 1 THEN hits_at * (2520 // rn)
       |      ELSE 0 END) AS BIGINT) AS ap_scaled
       |  FROM hits GROUP BY qid, qlabel)
       |SELECT qid, r_total, n_hits10,
       |  CAST(ap_scaled AS DOUBLE) /
       |    CAST(LEAST(r_total, 10) * 2520 AS DOUBLE) AS ap10
       |FROM per JOIN rc USING (qlabel)
       |ORDER BY qid""".stripMargin)

  // -- q338: nDCG@10 with a linear (transcendental-free) discount -----------
  //   The standard log2 discount would make scores depend on libm rounding;
  //   the engine's deterministic variant discounts rank i by 1/(i+1) —
  //   same monotone shape, but every DCG is an EXACT integer after scaling
  //   by lcm(2..11)=27720. The ideal DCG for m = min(R, 10) relevant docs
  //   is the closed prefix sum Σ_{i=1..m} 27720/(i+1), computed by a
  //   bounded sequence fold in both engines. One double division per query
  //   at the very end. Scale: same one-pass batch shape as q213/q337.
  val q338 = Query.sql(
    "q338_ndcg",
    (s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 50)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          col("label").as("qlabel"))
      val relCounts = e.filter(col("vec_id") >= 50)
        .groupBy(col("label").as("qlabel"))
        .agg(count(lit(1)).as("r_total"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(desc("cos_sim"), asc("vec_id"))
      e.filter(col("vec_id") >= 50)
        .crossJoin(Bounded.probe(q, 50))
        .select(col("qid"), col("qlabel"), col("vec_id"), col("label"),
          call_function("cosine_similarity",
            col("embedding"), col("qv")).as("cos_sim"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 10)
        .groupBy("qid", "qlabel")
        .agg(sum(when(col("label") === col("qlabel"),
          expr("27720 div (rn + 1)")).otherwise(0L)).as("dcg_scaled"))
        .join(broadcast(relCounts), "qlabel")
        .withColumn("m", least(col("r_total"), lit(10L)))
        .withColumn("idcg_scaled", expr(
          "aggregate(sequence(2L, m + 1L), 0L, (acc, x) -> acc + 27720 div x)"))
        .select(col("qid"), col("dcg_scaled"),
          (col("dcg_scaled").cast("double") / col("idcg_scaled").cast("double"))
            .as("ndcg10"))
        .orderBy("qid")
    },
    s"""WITH q AS (
       |  SELECT vec_id AS qid, embedding AS qv, label AS qlabel
       |  FROM embeddings WHERE vec_id < 50),
       |rc AS (
       |  SELECT label AS qlabel, COUNT(*) AS r_total
       |  FROM embeddings WHERE vec_id >= 50 GROUP BY label),
       |ranked AS (
       |  SELECT qid, qlabel, e.vec_id, e.label,
       |    row_number() OVER (PARTITION BY qid
       |      ORDER BY ${cosSql("e.embedding", "qv")} DESC, e.vec_id)
       |      AS rn
       |  FROM embeddings e CROSS JOIN q WHERE e.vec_id >= 50
       |  QUALIFY rn <= 10),
       |per AS (
       |  SELECT qid, qlabel,
       |    CAST(SUM(CASE WHEN label = qlabel THEN 27720 // (rn + 1)
       |      ELSE 0 END) AS BIGINT) AS dcg_scaled
       |  FROM ranked GROUP BY qid, qlabel),
       |norm AS (
       |  SELECT qid, dcg_scaled,
       |    CAST(list_sum(list_transform(
       |      range(2, CAST(LEAST(r_total, 10) AS INT) + 2),
       |      x -> 27720 // x)) AS BIGINT) AS idcg_scaled
       |  FROM per JOIN rc USING (qlabel))
       |SELECT qid, dcg_scaled,
       |  CAST(dcg_scaled AS DOUBLE) / CAST(idcg_scaled AS DOUBLE) AS ndcg10
       |FROM norm ORDER BY qid""".stripMargin)

  val all: Seq[Query] =
    Seq(q50, q51, q52, q53, q54, q55, q56, q156, q213, q223, q232, q244,
      q291, q292, q325, q337, q338)
}
