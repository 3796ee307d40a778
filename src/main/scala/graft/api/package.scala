package graft

import graft.core.Checkpoints._
import graft.operators.{AsOfJoin, RangeJoin, SkewJoin}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

package object api {

  /** Extension methods putting graft's operators on DataFrame itself —
    * the Scala answer to the reference's `method_overlay` dynamic
    * connector patching (`base.py:110-151`): static, discoverable, and
    * Catalyst-visible.
    *
    * {{{
    * import graft.api._
    * events.asofJoin(quotes, "sym", "ts", "q_ts", Map("px" -> "last_px"))
    * docs.dedupExactBy("text")
    * corpus.topK(10, $"score", $"id")
    * }}}
    */
  implicit final class GraftOps(private val df: DataFrame) {

    /** Latest right row at-or-before each left row's time, per key
      * (`direction = "forward"` flips to earliest at-or-after). */
    def asofJoin(right: DataFrame, key: String, leftTime: String,
        rightTime: String, payload: Map[String, String],
        direction: String = "backward"): DataFrame =
      AsOfJoin.asof(df, right, key, leftTime, rightTime, payload, direction)

    /** Rows joined to the intervals containing them (time-bucketed). */
    def intervalJoin(intervals: DataFrame, pointTs: String, startCol: String,
        endCol: String, binSeconds: Long = 3600): DataFrame =
      RangeJoin.intervalJoin(df, pointTs, intervals, startCol, endCol, binSeconds)

    /** Skew-safe inner equi-join via salting. */
    def saltedJoin(right: DataFrame, key: String, salts: Int = 16): DataFrame =
      SkewJoin.saltedInnerJoin(df, right, key, salts)

    /** Keep the first row (smallest tie-break) per exact content key,
      * grouping on a 128-bit digest so the shuffle never carries the
      * content itself.
      */
    def dedupExactBy(contentCol: String, tieBreak: String): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(md5(col(contentCol).cast("string")))
        .orderBy(col(tieBreak))
      df.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
    }

    /** Top-k rows by score via bounded-state aggregation (no global sort);
      * returns (score, id) pairs exploded back to rows.
      */
    def topK(k: Int, score: Column, id: Column): DataFrame =
      df.agg(graft.functions.TopK.topK(k)(score, id).as("top"))
        .select(explode(col("top")).as("t"))
        .select(col("t.score").as("score"), col("t.id").as("id"))

    /** Deterministic train/eval split: a row's side depends only on the
      * hash of its key, so the split is stable across runs, partitionings
      * and cluster sizes — reproducible dataset versioning without
      * storing membership lists.
      */
    def deterministicSplit(keyCol: String, trainPct: Int): (DataFrame, DataFrame) = {
      val bucket = pmod(xxhash64(col(keyCol)), lit(100))
      (df.filter(bucket < trainPct), df.filter(bucket >= trainPct))
    }

    /** The k rows whose `vecCol` is most cosine-similar to `queryVec`. */
    def cosineTopK(k: Int, vecCol: String, queryVec: Seq[Float]): DataFrame = {
      graft.functions.GraftFunctions.ensureRegistered(df.sparkSession)
      df.withColumn("__qv", typedLit(queryVec))
        .withColumn("cos_sim", expr(s"cosine_similarity($vecCol, __qv)"))
        .drop("__qv")
        .orderBy(desc("cos_sim"))
        .limit(k)
    }

    /** As-of join planned through the custom physical operator
      * (`plans.NativeAsOfJoin`): same contract as [[asofJoin]], one
      * buffered row of state per partition instead of a window sweep.
      */
    def asofJoinNative(right: DataFrame, key: String, leftTime: String,
        rightTime: String, payload: Map[String, String]): DataFrame =
      graft.plans.NativeAsOfJoin.asof(df, right, key, leftTime, rightTime, payload)

    /** Deterministic hash sample keeping ~`pct`% of rows: RNG-free,
      * partition-invariant, reproducible across runs and cluster sizes
      * (salted md5 bucket of the key, cf. q48).
      */
    def hashSample(keyCol: String, pct: Int, salt: String = "s42"): DataFrame = {
      val bucket = pmod(
        conv(substring(md5(concat(lit(s"$salt:"), col(keyCol).cast("string"))), 1, 6), 16, 10)
          .cast("long"), lit(100L))
      df.filter(bucket < pct)
    }

    /** Add a deterministic shard id in [0, shards) for balanced output
      * fan-out (`write.partitionBy("shard")` / `repartition($"shard")`).
      */
    def shardBy(keyCol: String, shards: Int, outCol: String = "shard"): DataFrame =
      df.withColumn(outCol, pmod(
        conv(substring(md5(concat(lit("s42:"), col(keyCol).cast("string"))), 1, 6), 16, 10)
          .cast("long"), lit(shards.toLong)))

    /** Z-order the physical layout on two numeric columns: rank-normalize
      * each to an 8-bit equi-depth code (distinct-value histogram — cf.
      * q121/q122), bit-interleave, then range-partition + sort by the
      * z-value. Every output file's zone map then bounds BOTH columns, so
      * scans filtering on either dimension prune files — the
      * Delta/Iceberg `OPTIMIZE ZORDER BY` shape as a plain DataFrame op.
      */
    def zorderBy(xCol: String, yCol: String, partitions: Int): DataFrame = {
      val cx = graft.operators.Warehouse.depthCode(df, xCol)
      val cy = graft.operators.Warehouse.depthCode(df, yCol)
      df.join(cx, xCol).join(cy, yCol)
        .withColumn("__z", expr(
          s"""aggregate(sequence(0, 7), CAST(0 AS BIGINT), (acc, j) ->
             |  acc + shiftleft(shiftright(${xCol}_code, j) & 1, 2 * j)
             |      + shiftleft(shiftright(${yCol}_code, j) & 1, 2 * j + 1))"""
            .stripMargin))
        .repartitionByRange(partitions, col("__z"))
        .sortWithinPartitions("__z")
        // restore the caller's column order (joins float their keys left)
        .select(df.columns.map(col).toIndexedSeq: _*)
    }

    /** PageRank treating this frame as a directed edge list (symmetrize
      * first for undirected graphs); returns (node, deg, rank). Result is
      * bit-identical under any partitioning — see
      * [[graft.operators.Graph.pageRank]] for the determinism contract.
      */
    def pageRank(srcCol: String, dstCol: String, iters: Int = 3,
        damping: Double = 0.85): DataFrame =
      graft.operators.Graph.pageRank(df, srcCol, dstCol, iters, damping)

    /** BFS hop distances from `seeds` over this frame as a directed edge
      * list, bounded by `radius`; returns (node, dist), unreachable nodes
      * absent. Frontier-based — round r shuffles only the new frontier;
      * see [[graft.operators.Recursive.bfsDistances]].
      */
    def bfsDistances(srcCol: String, dstCol: String, seeds: DataFrame,
        seedCol: String, radius: Int): DataFrame =
      graft.operators.Recursive.bfsDistances(df, srcCol, dstCol, seeds,
        seedCol, radius)

    /** Ancestor closure of this frame as (child, parent) pointers of a
      * forest, by pointer doubling — O(log depth) self-joins; returns
      * (node, anc, dist ≥ 1). See
      * [[graft.operators.Recursive.ancestorClosure]].
      */
    def ancestorClosure(childCol: String, parentCol: String,
        rounds: Int): DataFrame =
      graft.operators.Recursive.ancestorClosure(df, childCol, parentCol, rounds)

    /** Cheapest total cost from `seeds` within ≤ `rounds` edges over this
      * frame as a weighted edge list (min-plus Bellman–Ford rounds);
      * returns (node, cost). See
      * [[graft.operators.Recursive.boundedBellmanFord]].
      */
    def boundedBellmanFord(srcCol: String, dstCol: String, costCol: String,
        seeds: DataFrame, seedCol: String, rounds: Int): DataFrame =
      graft.operators.Recursive.boundedBellmanFord(df, srcCol, dstCol,
        costCol, seeds, seedCol, rounds)

    /** Deterministic global shuffle for training-data export: total order
      * by a salted hash of the key, realized as range partitioning + a
      * per-partition sort — sorted, disjoint output shards and NO
      * single-partition stage (cf. q57's scale note).
      */
    def globalShuffle(keyCol: String, partitions: Int): DataFrame = {
      val keyed = df.withColumn("__shuffle_key",
        md5(concat(lit("shuf:"), col(keyCol).cast("string"))))
      keyed.repartitionByRange(partitions, col("__shuffle_key"))
        .sortWithinPartitions("__shuffle_key")
        .drop("__shuffle_key")
    }

    /** Exact Jaccard ≥ num/den set-similarity self-join via prefix
      * filtering (no false negatives) over (idCol, toksCol array with
      * distinct elements) — the exact complement of MinHash LSH; see
      * [[graft.operators.Dedup.prefixSimJoin]] and q147's scale notes.
      */
    def prefixSimJoin(idCol: String, toksCol: String,
        num: Int = 3, den: Int = 5): DataFrame =
      graft.operators.Dedup.prefixSimJoin(df, idCol, toksCol, num, den)

    /** EXACT substring-dedup report: per-doc maximal cross-doc
      * duplicated L-gram spans (count / char coverage / longest) — the
      * Lee et al. 2022 repeated-passage detector; see
      * [[graft.operators.Dedup.duplicatedSpans]] and q355's scale notes.
      */
    def duplicatedSpans(idCol: String = "doc_id",
        textCol: String = "text", L: Int = 20): DataFrame =
      graft.operators.Dedup.duplicatedSpans(df, idCol, textCol, L)

    /** APPLY exact substring dedup: cut every non-corpus-first
      * duplicated span and return (id, cleaned) — the deduplicated
      * corpus; see [[graft.operators.Dedup.removeDuplicatedSpans]] and
      * q356's scale notes.
      */
    def removeDuplicatedSpans(idCol: String = "doc_id",
        textCol: String = "text", L: Int = 20): DataFrame =
      graft.operators.Dedup.removeDuplicatedSpans(df, idCol, textCol, L)

    /** Pareto frontier on (maximize xCol, maximize yCol) — exact
      * sort-sweep, one shuffle plus a distinct-value sweep; see
      * [[graft.operators.Warehouse.skyline2D]] and q149's scale notes.
      */
    def skyline2D(xCol: String, yCol: String): DataFrame =
      graft.operators.Warehouse.skyline2D(df, xCol, yCol)

    /** Exact global row numbers 1..N in `(orderCols)` order WITHOUT the
      * single-partition stage a bare `row_number() OVER (ORDER BY …)`
      * costs: range-repartition + per-partition sort gives globally
      * ordered disjoint partitions, then `zipWithIndex` assigns offsets
      * with one lightweight count job (driver state = one long per
      * partition, never the data). PRECONDITION: `orderCols` must be a
      * total order (include a unique key) — with ties, rows that straddle
      * a range boundary would be numbered nondeterministically, exactly
      * the scd2 tiebreak contract. Cf. q148's oracle-checked use.
      */
    def globalRowNumber(out: String, orderCols: Column*): DataFrame = {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types.LongType
      val sorted = df.repartitionByRange(orderCols: _*)
        .sortWithinPartitions(orderCols: _*)
      val schema = sorted.schema.add(out, LongType, nullable = false)
      val rdd = sorted.rdd.zipWithIndex.map { case (r, i) =>
        Row.fromSeq(r.toSeq :+ (i + 1L))
      }
      // classify the RDD leaf for PlanAudit: the input's growth verdict
      // carries through, and the row number itself is a per-row entity id
      // over a growing input (grouping on it downstream bounds nothing)
      val verdict = graft.PlanAudit.unboundedGrowing(df.queryExecution.analyzed)
      graft.core.BarrierLedger.register(
        df.sparkSession.createDataFrame(rdd, schema), verdict,
        if (verdict.nonEmpty) Set(out) else Set.empty)
    }

    /** Exclusive prefix sums of LongType `sumCols` in `(orderCols)` total
      * order WITHOUT the single-partition stage a bare
      * `sum(c) OVER (ORDER BY …)` costs — the cumulative-histogram
      * companion of [[globalRowNumber]]. Range-repartition + per-partition
      * sort gives globally ordered disjoint partitions; pass 1 collects one
      * long per (partition × column) to the driver (bounded state, never
      * the data); pass 2 adds the per-partition offsets to local running
      * sums. Appends `<prefix><c>` = sum of `c` over all STRICTLY
      * PRECEDING rows (the `ROWS UNBOUNDED PRECEDING AND 1 PRECEDING`
      * frame), and with `withTotals` also `<totalPrefix><c>` = the grand
      * total as a constant column (replacing the
      * `OVER (ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)`
      * companion window). PRECONDITION: `orderCols` is a total order —
      * the distinct-value-histogram callers key on the groupBy column
      * itself, which is unique by construction.
      */
    def histCumSum(orderCols: Seq[Column], sumCols: Seq[String],
        prefix: String = "cum_", withTotals: Boolean = false,
        totalPrefix: String = "tot_"): DataFrame = {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types.LongType
      sumCols.foreach { c =>
        require(df.schema(c).dataType == LongType,
          s"histCumSum needs LongType for '$c', got ${df.schema(c).dataType}")
      }
      val idx = sumCols.map(df.schema.fieldIndex).toArray
      val sorted = df.repartitionByRange(orderCols: _*)
        .sortWithinPartitions(orderCols: _*)
      // one RDD object shared by both passes: the range partitioner is
      // computed once and the shuffle output is reused, so the partition
      // assignment pass 2 sees is exactly the one pass 1 summed
      val rdd = sorted.rdd
      val totals = rdd.mapPartitionsWithIndex { (pid, it) =>
        val acc = new Array[Long](idx.length)
        it.foreach { r =>
          var j = 0
          while (j < idx.length) { acc(j) += r.getLong(idx(j)); j += 1 }
        }
        Iterator.single(pid -> acc)
      }.collect().sortBy(_._1).map(_._2)
      val offsets = totals.scanLeft(new Array[Long](idx.length)) { (acc, t) =>
        acc.zip(t).map { case (a, b) => a + b }
      }
      val grand = offsets.lastOption.getOrElse(new Array[Long](idx.length))
      val schema0 = sumCols.foldLeft(sorted.schema)(
        (s, c) => s.add(prefix + c, LongType, nullable = false))
      val out = rdd.mapPartitionsWithIndex { (pid, it) =>
        val run = offsets(pid).clone()
        it.map { r =>
          val cums = run.clone()
          var j = 0
          while (j < idx.length) { run(j) += r.getLong(idx(j)); j += 1 }
          Row.fromSeq(r.toSeq ++ cums)
        }
      }
      // PlanAudit classification: growth carries through; a cumulative sum
      // over a growing input is per-row-indexed, so the cum columns count
      // as entity ids downstream (the grand totals are constants — safe)
      val verdict = graft.PlanAudit.unboundedGrowing(df.queryExecution.analyzed)
      val base = graft.core.BarrierLedger.register(
        df.sparkSession.createDataFrame(out, schema0), verdict,
        if (verdict.nonEmpty) sumCols.map(prefix + _).toSet else Set.empty)
      if (!withTotals) base
      else sumCols.zipWithIndex.foldLeft(base) { case (d, (c, j)) =>
        d.withColumn(totalPrefix + c, lit(grand(j)))
      }
    }

    /** PER-GROUP exclusive prefix sums of LongType `sumCols`, ordered by
      * `orderCols` within each `groupCols` key — the
      * `SUM(c) OVER (PARTITION BY g ORDER BY v ROWS … 1 PRECEDING)`
      * replacement whose parallelism does NOT collapse to the number of
      * groups. A per-group window gives one task per group; with five
      * event types over a 100 TB histogram that is five tasks sorting
      * everything. Here the data range-partitions on (group, value), so
      * a huge group spans MANY partitions; pass 1 ships to the driver
      * only each partition's first/last group key and their in-partition
      * totals (state O(partitions), regardless of group count), the
      * driver chains boundary groups, and pass 2 seeds each partition's
      * leading group with its carried offset. PRECONDITION: (groupCols,
      * orderCols) is a total order — the (group, value)-histogram callers
      * satisfy it by construction.
      */
    def groupedHistCumSum(groupCols: Seq[String], orderCols: Seq[Column],
        sumCols: Seq[String], prefix: String = "cum_"): DataFrame = {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types.LongType
      sumCols.foreach { c =>
        require(df.schema(c).dataType == LongType,
          s"groupedHistCumSum needs LongType for '$c', got ${df.schema(c).dataType}")
      }
      val gIdx = groupCols.map(df.schema.fieldIndex).toArray
      val sIdx = sumCols.map(df.schema.fieldIndex).toArray
      val sortCols = groupCols.map(col) ++ orderCols
      val sorted = df.repartitionByRange(sortCols: _*)
        .sortWithinPartitions(sortCols: _*)
      val rdd = sorted.rdd // shared by both passes: one partitioner
      def keyOf(r: Row): Seq[Any] = gIdx.toSeq.map(r.get)
      // pass 1: (firstKey, firstTotals, lastKey, lastTotals) per partition;
      // when a partition holds a single group first==last and the totals
      // are the same array (counted once by the driver chain below)
      val edges = rdd.mapPartitionsWithIndex { (pid, it) =>
        if (!it.hasNext) Iterator.empty
        else {
          val first = it.next()
          val firstKey = keyOf(first)
          var curKey = firstKey
          var firstTotals: Array[Long] = null
          var cur = new Array[Long](sIdx.length)
          def add(r: Row): Unit = {
            var j = 0
            while (j < sIdx.length) { cur(j) += r.getLong(sIdx(j)); j += 1 }
          }
          add(first)
          it.foreach { r =>
            val k = keyOf(r)
            if (k != curKey) {
              if (firstTotals == null) firstTotals = cur
              curKey = k
              cur = new Array[Long](sIdx.length)
            }
            add(r)
          }
          if (firstTotals == null) firstTotals = cur // single-group partition
          Iterator.single((pid, firstKey, firstTotals, curKey, cur))
        }
      }.collect().sortBy(_._1)
      // driver chain: offset for partition p's FIRST group = accumulated
      // totals of that same group from the contiguous run of preceding
      // partitions ending in it
      val offsets = Array.fill(rdd.getNumPartitions)(
        new Array[Long](sIdx.length))
      var carryKey: Seq[Any] = null
      var carryAcc = new Array[Long](sIdx.length)
      edges.foreach { case (pid, firstKey, firstTotals, lastKey, lastTotals) =>
        val off =
          if (carryKey != null && carryKey == firstKey) carryAcc
          else new Array[Long](sIdx.length)
        offsets(pid) = off
        if (firstKey == lastKey)
          carryAcc = off.zip(firstTotals).map { case (a, b) => a + b }
        else carryAcc = lastTotals.clone()
        carryKey = lastKey
      }
      val schema0 = sumCols.foldLeft(sorted.schema)(
        (s, c) => s.add(prefix + c, LongType, nullable = false))
      val out = rdd.mapPartitionsWithIndex { (pid, it) =>
        var curKey: Seq[Any] = null
        var run: Array[Long] = null
        var leading = true
        it.map { r =>
          val k = keyOf(r)
          if (curKey == null) { curKey = k; run = offsets(pid).clone() }
          else if (k != curKey) {
            curKey = k; run = new Array[Long](sIdx.length); leading = false
          }
          val cums = run.clone()
          var j = 0
          while (j < sIdx.length) { run(j) += r.getLong(sIdx(j)); j += 1 }
          Row.fromSeq(r.toSeq ++ cums)
        }
      }
      // PlanAudit classification — same contract as histCumSum above
      val verdict = graft.PlanAudit.unboundedGrowing(df.queryExecution.analyzed)
      graft.core.BarrierLedger.register(
        df.sparkSession.createDataFrame(out, schema0), verdict,
        if (verdict.nonEmpty) sumCols.map(prefix + _).toSet else Set.empty)
    }

    /** Exclusive prefix sum of ONE DecimalType `sumCol` in `(orderCols)`
      * total order — [[histCumSum]]'s decimal sibling for money-exact
      * cumulatives (ABC/Pareto heads, Lorenz shares) where scaling to
      * BIGINT would overflow at large SF. Same two-phase plan; the driver
      * holds one java.math.BigDecimal per partition (exact, unbounded
      * precision — bounded STATE, O(partitions)). Appends
      * `<prefix><sumCol>` as DECIMAL(38, s) = sum over all STRICTLY
      * PRECEDING rows, and with `withTotal` the grand total
      * `<totalPrefix><sumCol>` as a constant column. Same total-order
      * precondition as histCumSum.
      */
    def histCumSumDecimal(orderCols: Seq[Column], sumCol: String,
        prefix: String = "cum_", withTotal: Boolean = false,
        totalPrefix: String = "tot_"): DataFrame = {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types.DecimalType
      val vi = df.schema.fieldIndex(sumCol)
      val scale = df.schema(vi).dataType match {
        case d: DecimalType => d.scale
        case other => throw new IllegalArgumentException(
          s"histCumSumDecimal needs DecimalType for '$sumCol', got $other")
      }
      val zero = java.math.BigDecimal.ZERO.setScale(scale)
      val sorted = df.repartitionByRange(orderCols: _*)
        .sortWithinPartitions(orderCols: _*)
      val rdd = sorted.rdd // shared by both passes: one partitioner
      // bounded collect: one BigDecimal per partition
      val totals = rdd.mapPartitionsWithIndex { (pid, it) =>
        var acc = zero
        it.foreach { r => if (!r.isNullAt(vi)) acc = acc.add(r.getDecimal(vi)) }
        Iterator.single(pid -> acc)
      }.collect().sortBy(_._1).map(_._2)
      val offsets = totals.scanLeft(zero)(_.add(_))
      val grand = offsets.lastOption.getOrElse(zero)
      val outType = DecimalType(38, scale)
      val schema = sorted.schema.add(prefix + sumCol, outType, nullable = false)
      val out = rdd.mapPartitionsWithIndex { (pid, it) =>
        var run = offsets(pid)
        it.map { r =>
          val cum = run
          if (!r.isNullAt(vi)) run = run.add(r.getDecimal(vi))
          Row.fromSeq(r.toSeq :+ cum)
        }
      }
      // PlanAudit classification — same contract as histCumSum above
      val verdict = graft.PlanAudit.unboundedGrowing(df.queryExecution.analyzed)
      val base = graft.core.BarrierLedger.register(
        df.sparkSession.createDataFrame(out, schema), verdict,
        if (verdict.nonEmpty) Set(prefix + sumCol) else Set.empty)
      if (!withTotal) base
      else base.withColumn(totalPrefix + sumCol, lit(grand).cast(outType))
    }

    /** Exclusive prefix MAX of `valCol` in `(orderCols)` total order —
      * [[histCumSum]]'s running-max sibling (the skyline sweep's
      * "best y among all strictly better x" accumulator). Same two-phase
      * plan: range-partition + sort, collect one max per partition
      * (bounded driver state), add per-partition offsets. Appends `out` =
      * max of `valCol` over all STRICTLY PRECEDING rows, null when no
      * predecessor has a non-null value. Works for any Comparable-backed
      * column type (numerics, decimals, timestamps, dates, strings).
      */
    def histCumMax(orderCols: Seq[Column], valCol: String,
        out: String): DataFrame = {
      import org.apache.spark.sql.Row
      val vi = df.schema.fieldIndex(valCol)
      val dt = df.schema(vi).dataType
      def maxOf(a: Any, b: Any): Any =
        if (a == null) b
        else if (b == null) a
        else if (a.asInstanceOf[Comparable[Any]].compareTo(b) >= 0) a else b
      val sorted = df.repartitionByRange(orderCols: _*)
        .sortWithinPartitions(orderCols: _*)
      val rdd = sorted.rdd // shared by both passes: one partitioner
      val maxes = rdd.mapPartitionsWithIndex { (pid, it) =>
        var m: Any = null
        it.foreach { r => if (!r.isNullAt(vi)) m = maxOf(m, r.get(vi)) }
        Iterator.single(pid -> m)
      }.collect().sortBy(_._1).map(_._2)
      val offsets = maxes.scanLeft(null: Any)(maxOf)
      val schema = sorted.schema.add(out, dt, nullable = true)
      val outRdd = rdd.mapPartitionsWithIndex { (pid, it) =>
        var run: Any = offsets(pid)
        it.map { r =>
          val prev = run
          if (!r.isNullAt(vi)) run = maxOf(run, r.get(vi))
          Row.fromSeq(r.toSeq :+ prev)
        }
      }
      // PlanAudit classification: growth carries through; the running max
      // over a growing input is row-indexed, so `out` counts as an entity
      // id downstream (conservative — its distinct count can reach the
      // input's row count)
      val verdict = graft.PlanAudit.unboundedGrowing(df.queryExecution.analyzed)
      graft.core.BarrierLedger.register(
        df.sparkSession.createDataFrame(outRdd, schema), verdict,
        if (verdict.nonEmpty) Set(out) else Set.empty)
    }

    /** Explode `textCol` into overlapping token chunks (cf. q79): one row
      * per chunk with `chunk_no`, `chunk_text`, `n_tokens`.
      */
    def chunkTokens(textCol: String, size: Int = 64, stride: Int = 48): DataFrame = {
      require(stride > 0 && size >= stride, "need 0 < stride <= size")
      val t = split(col(textCol), " ")
      df.withColumn("__c", explode(transform(
          sequence(lit(1), org.apache.spark.sql.functions.size(t), lit(stride)),
          st => struct(
            ((st - 1) / stride).cast("long").as("chunk_no"),
            concat_ws(" ", slice(t, st, lit(size))).as("chunk_text")))))
        .withColumn("chunk_no", col("__c.chunk_no"))
        .withColumn("chunk_text", col("__c.chunk_text"))
        .withColumn("n_tokens",
          org.apache.spark.sql.functions.size(split(col("chunk_text"), " ")).cast("long"))
        .drop("__c")
    }

    /** PII detector counts + a redacted copy of `textCol` (cf. q350):
      * appends `n_emails`/`n_phones`/`n_digit_runs` and `redacted` with
      * emails/phones masked. Pure map-side codegen'd regexp work.
      */
    def piiSignals(textCol: String): DataFrame =
      graft.operators.PiiScan.piiSignals(df, textCol)

    /** Schema-dynamic profile of EVERY column, any type (cf. q351; the
      * numeric-only companion is `profile(cols*)` below): one row per
      * column with row/null/distinct counts and min/max as strings.
      * `exact = false` uses HLL distinct counts for a cheap production
      * fingerprint.
      */
    def profileAll(exact: Boolean = true): DataFrame =
      graft.operators.PiiScan.profile(df, exact)

    /** Gopher-style repetition signals per row (cf. q87): appends
      * `dup_token_frac` (1 − distinct/total tokens) and `top_bigram_frac`
      * (share of bigram slots taken by the most frequent bigram). Both are
      * computed inside the row, with no shuffle: the top bigram's count is
      * the longest run of equal elements in the row's sorted bigrams, found
      * by one `aggregate` lambda. Each row gets its own signals; rows that
      * share an id are not merged (q87 groups its bigrams by `doc_id`, so
      * the two agree wherever ids are unique).
      */
    def repetitionSignals(textCol: String): DataFrame = {
      val sz = org.apache.spark.sql.functions.size _
      // the token array materializes once per row: an inline split inside
      // the lambda would re-tokenize per bigram
      val topBigram = expr(
        """aggregate(
          |  array_sort(IF(size(__t) < 2, array(),
          |    transform(sequence(1, size(__t) - 1),
          |      i -> concat(element_at(__t, i), ' ', element_at(__t, i + 1))))),
          |  named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'top', 0L),
          |  (acc, b) -> named_struct('prev', b,
          |    'run', IF(acc.prev = b, acc.run + 1, 1L),
          |    'top', greatest(acc.top, IF(acc.prev = b, acc.run + 1, 1L))),
          |  acc -> acc.top)""".stripMargin)
      df.withColumn("__t", split(col(textCol), " "))
        .withColumn("__n", sz(col("__t")).cast("long"))
        .withColumn("__d", sz(array_distinct(col("__t"))).cast("long"))
        .withColumn("dup_token_frac",
          (col("__n") - col("__d")).cast("double") / col("__n"))
        .withColumn("top_bigram_frac",
          when(col("__n") > 1, topBigram.cast("double") / (col("__n") - 1))
            .otherwise(lit(0.0)))
        .drop("__t", "__n", "__d")
    }

    /** Cross-corpus passage dedup stats per row (cf. q88): cuts `textCol`
      * into non-overlapping `span`-token passages and appends
      * `n_passages`, `n_shared` (passages whose digest occurs in ≥2 rows)
      * and `tokens_kept` (tokens in globally-unique passages). The corpus
      * state is one shuffle keyed on a 16-byte digest.
      */
    def passageDedupStats(idCol: String, textCol: String, span: Int = 32): DataFrame = {
      val passages = df.select(col(idCol), split(col(textCol), " ").as("__t"))
        .select(col(idCol), explode(expr(
          s"transform(sequence(1, size(__t), $span), st -> slice(__t, st, $span))"))
          .as("__p"))
        .select(col(idCol),
          org.apache.spark.sql.functions.size(col("__p")).cast("long").as("__pt"),
          md5(concat_ws(" ", col("__p"))).as("__dg"))
      val counts = passages.groupBy("__dg")
        .agg(countDistinct(col(idCol)).as("__nd"))
      val stats = passages.join(counts, "__dg")
        .groupBy(idCol)
        .agg(count(lit(1)).as("n_passages"),
          sum(when(col("__nd") > 1, 1L).otherwise(0L)).as("n_shared"),
          sum(when(col("__nd") === 1, col("__pt")).otherwise(0L)).as("tokens_kept"))
      df.join(stats, Seq(idCol), "left")
    }

    /** Profile NUMERIC columns (cf. q99): one row per named column with
      * count, nulls, distinct count, min and max. Values go long-format
      * (col_name, value) before the aggregate so there is ONE distinct
      * path however many columns are profiled — k countDistincts in one
      * wide aggregate would plan an Expand duplicating every input row
      * k× (measured 4× slower at bench scale).
      */
    def profile(columns: String*): DataFrame = {
      require(columns.nonEmpty, "profile needs at least one column")
      val pairs = columns.map(c =>
        struct(lit(c).as("col_name"), col(c).cast("double").as("v")))
      df.select(explode(array(pairs: _*)).as("p"))
        .select(col("p.col_name").as("col_name"), col("p.v").as("v"))
        .groupBy("col_name")
        .agg(count(lit(1)).as("n"),
          sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_nulls"),
          countDistinct(col("v")).as("n_distinct"),
          min(col("v")).as("min_v"), max(col("v")).as("max_v"))
        .orderBy("col_name")
    }

    /** SCD2 history build (cf. q100): per `keyCol`, ordered by `tsCol`,
      * collapse consecutive runs of equal `attrCol` into one row with
      * `valid_from` / `valid_to` (the next run's start, null while open),
      * `n_events` and `is_current`. Both windows and the run aggregation
      * partition on the key, so the whole build is ONE shuffle.
      *
      * Rows must be uniquely ordered within a key: either `(keyCol, tsCol)`
      * is unique, or `tiebreak` columns complete the order. With ties and
      * no tiebreak, run segmentation is nondeterministic across runs.
      */
    def scd2(keyCol: String, attrCol: String, tsCol: String,
        tiebreak: String*): DataFrame = {
      val win = org.apache.spark.sql.expressions.Window
      val order = (tsCol +: tiebreak).map(col)
      val w = win.partitionBy(keyCol).orderBy(order: _*)
      val runs = df.select(
          (Seq(keyCol, tsCol, attrCol) ++ tiebreak).distinct.map(col): _*)
        .withColumn("__chg",
          when(lag(col(attrCol), 1).over(w).isNull ||
            lag(col(attrCol), 1).over(w) =!= col(attrCol), 1L).otherwise(0L))
        .withColumn("__run",
          sum(col("__chg")).over(w.rowsBetween(win.unboundedPreceding, 0)))
        .groupBy(keyCol, "__run")
        .agg(first(col(attrCol)).as(attrCol),
          min(col(tsCol)).as("valid_from"),
          count(lit(1)).as("n_events"))
      val wr = win.partitionBy(keyCol).orderBy("valid_from")
      runs.withColumn("valid_to", lead(col("valid_from"), 1).over(wr))
        .withColumn("is_current", col("valid_to").isNull)
        .drop("__run")
    }

    /** MERGE INTO semantics (cf. q101): rows of `changes` (same schema)
      * replace same-key rows of this frame; unmatched change rows are
      * appended; everything else passes through. ONE full outer join on
      * the merge key — the plan shape Delta/Iceberg use for MERGE.
      */
    def mergeUpsert(changes: DataFrame, keyCol: String): DataFrame = {
      val others = df.columns.filterNot(_ == keyCol)
      require(changes.columns.sorted.sameElements(df.columns.sorted),
        "mergeUpsert needs identical schemas")
      // A presence marker (not per-column coalesce) so a matched change row
      // replaces the base row wholesale, NULL columns included — the MERGE
      // INTO UPDATE SET * semantics Delta/Iceberg implement.
      val marked = changes.withColumn("__present", lit(true))
      df.as("__b").join(marked.as("__c"), Seq(keyCol), "full_outer")
        .select(col(keyCol) +: others.map(c =>
          when(col("__present").isNotNull, col(s"__c.$c"))
            .otherwise(col(s"__b.$c")).as(c)): _*)
    }

    /** Snapshot reconciliation (cf. q104): classify every key as added /
      * removed / changed / unchanged against `other` (same schema),
      * comparing all non-key columns. One co-partitioned full outer join;
      * null-safe struct equality so null attribute values compare stably.
      */
    def snapshotDiff(other: DataFrame, keyCol: String): DataFrame = {
      val others = df.columns.filterNot(_ == keyCol)
      val pack: String => Column = side =>
        struct(others.map(c => col(s"$side.$c")): _*)
      val aTag = col(s"__a.$keyCol").isNotNull
      val bTag = col(s"__b.$keyCol").isNotNull
      df.as("__a").join(other.as("__b"),
          col(s"__a.$keyCol") === col(s"__b.$keyCol"), "full_outer")
        .select(coalesce(col(s"__a.$keyCol"), col(s"__b.$keyCol")).as(keyCol),
          when(!aTag, "added").when(!bTag, "removed")
            .when(pack("__a") <=> pack("__b"), "unchanged")
            .otherwise("changed").as("change_type"))
    }

    /** Key-distribution diagnostics (cf. q103): the `topN` heaviest keys
      * with count, corpus share, and the global max/mean skew factor —
      * the pre-flight check before picking broadcast vs shuffle vs salted
      * join. Map-side-combined count shuffle; totals broadcast back.
      */
    def skewProfile(keyCol: String, topN: Int = 10): DataFrame = {
      val counts = df.groupBy(keyCol).agg(count(lit(1)).as("c"))
      val stats = counts.agg(sum(col("c")).as("__total"),
        max(col("c")).as("__cmax"), count(lit(1)).as("__nkeys"))
      counts.orderBy(desc("c"), asc(keyCol)).limit(topN)
        .crossJoin(broadcast(stats))
        .select(col(keyCol), col("c"),
          (col("c").cast("double") / col("__total")).as("share"),
          ((col("__cmax") * col("__nkeys")).cast("double") / col("__total"))
            .as("skew_factor"))
        .orderBy(desc("c"), asc(keyCol))
    }

    /** Retention-cohort matrix (cf. q108): cohort rows by the key's
      * first-seen week of `dateCol`, count distinct keys active at each
      * whole-week offset. Two co-partitioned shuffles on the key, then a
      * cohorts-sized aggregate.
      */
    def retentionCohorts(keyCol: String, dateCol: String): DataFrame = {
      val acts = df.select(col(keyCol), col(dateCol).cast("date").as("__d"))
      val firsts = acts.groupBy(keyCol).agg(min(col("__d")).as("__first"))
      acts.join(firsts, keyCol)
        .select(
          date_format(date_trunc("week", col("__first")), "yyyy-MM-dd")
            .as("cohort_week"),
          expr(s"datediff(__d, __first) div 7").as("week_offset"),
          col(keyCol))
        .groupBy("cohort_week", "week_offset")
        .agg(countDistinct(col(keyCol)).as("n_active"))
        .orderBy("cohort_week", "week_offset")
    }

    /** Per-group quantile gate (cf. q102): keep rows whose `scoreCol` is
      * at or above their group's exact interpolated `q`-quantile. The
      * per-group cutoffs are a groups-sized table broadcast back, so the
      * gate itself is map-side.
      */
    def quantileGate(groupCol: String, scoreCol: String, q: Double = 0.5): DataFrame = {
      require(q >= 0 && q <= 1, "quantile must be in [0, 1]")
      val cuts = df.groupBy(groupCol)
        .agg(expr(s"percentile($scoreCol, $q)").as("__cut"))
      df.join(broadcast(cuts), groupCol)
        .filter(col(scoreCol) >= col("__cut")).drop("__cut")
    }

    /** Two-sample Kolmogorov–Smirnov distance between the `valueCol`
      * distributions of rows matching `a` vs `b` (cf. q151): one row
      * (n1, n2, d_num, ks_stat). Integer-exact sweep over the pooled
      * distinct-value histogram; the only float op is the final division.
      * `a` and `b` should be disjoint predicates (a row matching both
      * counts in both samples); if either sample is empty, ks_stat is
      * NaN (0/0) — treat as "no comparison possible".
      */
    def ksTest(valueCol: String, a: Column, b: Column): DataFrame = {
      val h = df.filter((a || b) && col(valueCol).isNotNull)
        .groupBy(valueCol).agg(
          sum(when(a, 1L).otherwise(0L)).as("__c1"),
          sum(when(b, 1L).otherwise(0L)).as("__c2"))
      // two-phase range-partitioned cumulative (histCumSum): the pooled
      // distinct-value histogram of a continuous metric grows with the
      // corpus — no single-partition window, and the grand totals ride
      // along instead of a second histogram scan
      val cum = h
        .histCumSum(Seq(col(valueCol)), Seq("__c1", "__c2"),
          withTotals = true, totalPrefix = "__n")
        .withColumn("__f1", col("cum___c1") + col("__c1"))
        .withColumn("__f2", col("cum___c2") + col("__c2"))
      cum
        .agg(max(col("__n__c1")).as("n1"), max(col("__n__c2")).as("n2"),
          max(abs(col("__f1") * col("__n__c2") - col("__f2") * col("__n__c1")))
            .as("d_num"))
        .select(col("n1"), col("n2"), col("d_num"),
          (col("d_num").cast("double") /
            (col("n1") * col("n2")).cast("double")).as("ks_stat"))
    }

    /** Per-group median absolute deviation with LOWER-median semantics
      * (cf. q152): (group, n, median_val, mad). Histogram-shaped — no
      * per-group sort; every output is an actual data value.
      */
    def madBy(groupCol: String, valueCol: String): DataFrame = {
      // per-group two-phase cumulative (groupedHistCumSum): the histogram
      // of a continuous metric is huge at scale, so the per-group
      // cumulative must not collapse to one task per group; per-group
      // totals ride a broadcast join instead of a second window
      def lowerMedian(h: DataFrame, v: String, out: String): DataFrame =
        h.groupedHistCumSum(Seq(groupCol), Seq(col(v)), Seq("__c"))
          .withColumn("__cum", col("cum___c") + col("__c"))
          .join(broadcast(
            h.groupBy(groupCol).agg(sum(col("__c")).as("__n"))), Seq(groupCol))
          .groupBy(groupCol)
          .agg(min(when(col("__cum") >= expr("(__n + 1) DIV 2"), col(v))).as(out))
      // ONE corpus scan: everything downstream — both medians, the
      // deviation histogram, and the group counts — derives from the
      // (group, value) histogram. The deviation of a row depends only on
      // its (group, value), so the deviation histogram is a weighted
      // re-key of h1 (carry __c), never a re-scan of the raw rows; the
      // barrier materializes h1 once where the four consumers used to
      // re-read the source (4 scans → 1 in the q152 plan pin).
      val h1 = df.filter(col(valueCol).isNotNull)
        .groupBy(groupCol, valueCol).agg(count(lit(1)).as("__c"))
        .barrier()
      val med = lowerMedian(h1, valueCol, "median_val")
      val h2 = h1.join(broadcast(med), Seq(groupCol))
        .groupBy(col(groupCol),
          abs(col(valueCol) - col("median_val")).as("__d"))
        .agg(sum(col("__c")).as("__c"))
      val mad = lowerMedian(h2, "__d", "mad")
      h1.groupBy(groupCol).agg(sum(col("__c")).as("n"))
        .join(med, Seq(groupCol)).join(mad, Seq(groupCol))
    }

    /** Floor-at-zero running balance per key (cf. q168): adds `out` =
      * max(0, prev + delta) per row via the closed form
      * prefix − min(0, running-min prefix) — two stacked windows on one
      * (key, order) sort, no sequential scan. `orderCols` must totally
      * order rows within a key. Works on any numeric `deltaCol`; use
      * integer units (cents) for cross-engine exactness.
      */
    def clampedBalance(keyCol: String, deltaCol: String, out: String,
        orderCols: Column*): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(keyCol).orderBy(orderCols: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      df.withColumn("__prefix", sum(col(deltaCol)).over(w))
        .withColumn("__runmin", min(col("__prefix")).over(w))
        .withColumn(out,
          col("__prefix") - least(lit(0L).cast(df.schema(deltaCol).dataType),
            col("__runmin")))
        .drop("__prefix", "__runmin")
    }

    /** Equi-width histogram of an integral column (cf. q165): k buckets
      * with integer-exact edges — width = range DIV k + 1 guarantees
      * bucket ∈ [0, k) with no float boundary drift. Returns
      * (bucket, n, lo, hi).
      */
    def equiWidthHist(valueCol: String, k: Int): DataFrame = {
      val c = df.select(col(valueCol).cast("long").as("__v"))
      val bounds = c.agg(min(col("__v")).as("__mn"), max(col("__v")).as("__mx"))
        .select(col("__mn"), expr(s"(__mx - __mn) DIV $k + 1").as("__w"))
      c.crossJoin(broadcast(bounds))
        .withColumn("bucket", expr("(__v - __mn) DIV __w"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          min(col("__mn") + col("bucket") * col("__w")).as("lo"),
          min(col("__mn") + (col("bucket") + 1) * col("__w") - 1).as("hi"))
    }

    /** Distributed Lloyd's k-means over an `array<float>` column (cf.
      * q135, which pins one step to the DuckDB oracle). Returns the input
      * plus a `cluster` column from the final assignment.
      *
      * Per iteration: ONE map-side pass assigns each row to its nearest
      * centroid (the k centroids travel as a broadcast literal, no row
      * expansion, no shuffle), and ONE map-side-combined aggregation of
      * floor-scaled integer component sums recomputes the means — the
      * only driver-side data is the k×dims centroid matrix, which is how
      * every distributed k-means (MLlib included) closes the loop.
      * Determinism: distances are floor-scaled to BIGINT before the
      * argmin (tie → lowest cluster id), and component sums are exact
      * integers, so the fit is invariant to partitioning and run order.
      * Seeds are the first k rows by `idCol` — deterministic, and at
      * production scale the caller passes pre-sampled seed ids.
      */
    def kmeansFit(vecCol: String, idCol: String, k: Int = 8,
        iters: Int = 3): DataFrame = {
      require(k > 0 && iters > 0, "k and iters must be positive")
      def dspExpr(c: String): String =
        s"""CAST(FLOOR(1e9 * aggregate(zip_with($vecCol, $c,
           |  (x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))
           |          * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))),
           |  CAST(0 AS DOUBLE), (acc, v) -> acc + v)) AS BIGINT)""".stripMargin
      def assign(centroids: Seq[Seq[Double]]): DataFrame = {
        val lits = typedLit(centroids)
        df.withColumn("__cents", lits)
          .withColumn("cluster", expr(
            s"""aggregate(sequence(0, ${k - 1}),
               |  named_struct('dsp', CAST(9223372036854775807 AS BIGINT),
               |               'cl', CAST(-1 AS BIGINT)),
               |  (acc, j) -> CASE
               |    WHEN ${dspExpr("element_at(__cents, j + 1)")} < acc.dsp
               |    THEN named_struct('dsp', ${dspExpr("element_at(__cents, j + 1)")},
               |                      'cl', CAST(j AS BIGINT))
               |    ELSE acc END).cl""".stripMargin))
          .drop("__cents")
      }
      var centroids: Seq[Seq[Double]] = df
        .orderBy(idCol).limit(k)
        .select(expr(s"transform($vecCol, x -> CAST(x AS DOUBLE))"))
        .collect().map(_.getSeq[Double](0).toSeq).toSeq
      for (_ <- 1 to iters) {
        val sums = assign(centroids)
          .select(col("cluster"), posexplode(expr(
            s"transform($vecCol, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1e7) AS BIGINT))"))
            .as(Seq("__pos", "__vsp")))
          .groupBy("cluster", "__pos")
          .agg(sum(col("__vsp")).as("__s"), count(lit(1)).as("__n"))
          .collect()
        val byCl = sums.groupBy(_.getLong(0))
        centroids = centroids.indices.map { j =>
          byCl.get(j.toLong) match {
            case Some(rows) =>
              rows.sortBy(_.getInt(1)).map(r =>
                r.getLong(2).toDouble / r.getLong(3) / 1e7).toSeq
            case None => centroids(j) // empty cluster keeps its centroid
          }
        }
      }
      assign(centroids)
    }

    /** Isotonic score calibration (PAV, Zadrozny & Elkan 2002): appends
      * `calibrated` = the isotonic estimate of P(label=1 | bucket).
      * `bucketCol` must be an integral quantized score (e.g.
      * `floor(margin / step)`) with bounded cardinality — the driver PAV
      * runs over one (n, Σy) counter pair per bucket. See
      * [[graft.operators.Calibration]].
      */
    def isotonicCalibrate(bucketCol: String, labelCol: String): DataFrame =
      graft.operators.Calibration.isotonicCalibrate(df, bucketCol, labelCol)

    /** SPFHP sequence packing (Krell et al. 2021, arXiv:2107.02027):
      * assign each row to a fixed-capacity context window (`bin_id`) such
      * that every bin's Σ `lenCol` ≤ `capacity`, with near-optimal bin
      * count. The solve runs on the driver over the LENGTH HISTOGRAM only
      * (≤ `capacity` counters — corpus-size-independent, the paper's key
      * trick); assignment is a broadcast join. See
      * [[graft.operators.Packing]].
      */
    def packSequences(lenCol: String, idCol: String,
        capacity: Int): DataFrame =
      graft.operators.Packing.packSequences(df, lenCol, idCol, capacity)

    /** SemDeDup (Abbas et al. 2023, arXiv:2303.03540): k-means-cluster the
      * embedding column with [[kmeansFit]], then mark near-duplicates by
      * cosine similarity WITHIN each cluster only — greedy keep-first
      * (lowest `idCol`). Returns the input plus `cluster` and a nullable
      * `kept_as` (null ⇒ the row is kept; otherwise the id it duplicates).
      * Filter `kept_as IS NULL` for the deduplicated corpus.
      *
      * Scale: the clustering bound turns all-pairs O(n²) cosine work into
      * O(n²/k); the only quadratic runs inside a per-cluster shuffle
      * bucket, so with k grown proportionally to the corpus (the paper
      * uses k ≈ n/10⁴) per-bucket work is constant. One-step oracle pin:
      * q357 (Dedup.scala).
      */
    def semDedup(vecCol: String, idCol: String, k: Int = 8, iters: Int = 3,
        threshold: Double = 0.4): DataFrame = {
      graft.functions.GraftFunctions.ensureRegistered(df.sparkSession)
      // barrier: the assignment fold is k distance evaluations per row and
      // feeds BOTH sides of the intra-cluster self-join below — without it
      // the join recomputes the full assignment twice.
      val assigned = df.kmeansFit(vecCol, idCol, k, iters).barrier()
      val a = assigned.select(col("cluster").as("__cl"),
        col(idCol).as("__id_keep"), col(vecCol).as("__ea"))
      val b = assigned.select(col("cluster").as("__cl"),
        col(idCol).as("__id_dup"), col(vecCol).as("__eb"))
      val dups = a.join(b, Seq("__cl"))
        .filter(col("__id_keep") < col("__id_dup") &&
          expr(s"cosine_similarity(__ea, __eb)") > threshold)
        .groupBy("__id_dup")
        .agg(min(col("__id_keep")).as("kept_as"))
      assigned.join(dups, assigned(idCol) === dups("__id_dup"), "left")
        .drop("__id_dup")
    }

    /** Exact covariance matrix of an `Array[Float]` embedding column in ONE
      * pass: per-row outer products floor-scaled to BIGINT (partition-order
      * invariant, q146's math at full dimension), map-side-combined into
      * d² sums — the only shuffle carries d² rows (64 KB at d=64) and the
      * driver holds one d×d matrix, however many input rows exist.
      */
    def covarianceMatrix(vecCol: String): Array[Array[Double]] = {
      val d = df.select(expr(s"size($vecCol)")).head().getInt(0)
      // flattened upper-triangle-and-diagonal index k = i*d + j
      val sums = df
        .select(posexplode(expr(
          s"""flatten(transform($vecCol, x ->
             |  transform($vecCol, y ->
             |    CAST(FLOOR(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) * 1e9)
             |      AS BIGINT))))""".stripMargin)).as(Seq("k", "p")))
        .groupBy("k").agg(sum(col("p")).as("sp"), count(lit(1)).as("n"))
        .collect()
      val means = df
        .select(posexplode(expr(
          s"transform($vecCol, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1e9) AS BIGINT))"))
          .as(Seq("i", "v")))
        .groupBy("i").agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
        .collect()
        .map(r => r.getInt(0) -> (r.getLong(1).toDouble / r.getLong(2) / 1e9))
        .toMap
      val n = sums.head.getLong(2).toDouble
      val m = Array.ofDim[Double](d, d)
      sums.foreach { r =>
        val k = r.getInt(0); val i = k / d; val j = k % d
        m(i)(j) = r.getLong(1).toDouble / n / 1e9 - means(i) * means(j)
      }
      m
    }

    /** Principal component via power iteration: the d×d covariance from
      * [[covarianceMatrix]] stays on the driver (bounded state, like
      * kmeansFit's centroids) and the O(d²·iters) eigen step runs locally —
      * no further cluster passes. Deterministic: fixed all-ones init, fixed
      * iteration count. Returns (eigenvector, eigenvalue).
      */
    def pcaTop(vecCol: String, iters: Int = 50): (Array[Double], Double) = {
      val m = covarianceMatrix(vecCol)
      val d = m.length
      var v = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
      var lambda = 0.0
      for (_ <- 1 to iters) {
        val mv = Array.tabulate(d)(i =>
          (0 until d).foldLeft(0.0)((acc, j) => acc + m(i)(j) * v(j)))
        val norm = math.sqrt(mv.map(x => x * x).sum)
        if (norm > 0) {
          v = mv.map(_ / norm)
          lambda = norm
        }
      }
      (v, lambda)
    }

    /** Markov transition matrix of `typeCol` sequences (cf. q186): one row
      * per (cur_type, next_type) with count `n` and conditional
      * probability `p`. Sequences are per `keyCol`, ordered by `orderCols`
      * (pass a unique tiebreak — segmentation is nondeterministic under
      * ties, same contract as [[scd2]]). One key-partitioned window; the
      * output is |types|² rows at any scale.
      */
    def transitionMatrix(keyCol: String, typeCol: String,
        orderCols: String*): DataFrame = {
      require(orderCols.nonEmpty, "transitionMatrix needs ordering columns")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keyCol).orderBy(orderCols.map(col): _*)
      df.withColumn("__next", lead(col(typeCol), 1).over(w))
        .filter(col("__next").isNotNull)
        .groupBy(col(typeCol).as("cur_type"), col("__next").as("next_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("p", col("n").cast("double") /
          sum(col("n")).over(org.apache.spark.sql.expressions.Window
            .partitionBy("cur_type")).cast("double"))
    }

    /** Maximum peak-to-trough drawdown of `valueCol` per `keyCol` (cf.
      * q201): running max then a plain aggregate over ONE key-partitioned
      * window shuffle. Returns (keyCol, n_obs, peak_value, max_drawdown).
      */
    def maxDrawdown(keyCol: String, valueCol: String,
        orderCols: String*): DataFrame = {
      require(orderCols.nonEmpty, "maxDrawdown needs ordering columns")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keyCol).orderBy(orderCols.map(col): _*)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      df.withColumn("__peak", max(col(valueCol)).over(w))
        .withColumn("__dd", col("__peak") - col(valueCol))
        .groupBy(keyCol)
        .agg(count(lit(1)).as("n_obs"),
          max(col("__peak")).as("peak_value"),
          max(col("__dd")).as("max_drawdown"))
    }

    /** Water-filling allocation of an integer `budget` across the groups
      * of `keyCol` weighted by Σ`weightCol` (cf. q196): every group is
      * capped at its own weight, the rest of the budget splits evenly
      * among the uncapped, and the floor-division remainder goes to the
      * first uncapped groups in ascending (weight, key) order — so the
      * returned `allocation` column sums to `min(budget, Σweights)`
      * EXACTLY. Closed-form single window pass (integer cross-
      * multiplication decides the cap — no float level, no iteration);
      * windows run over the per-group aggregate, never the input rows.
      */
    def waterfillAllocation(keyCol: String, weightCol: String,
        budget: Long): DataFrame = {
      require(budget >= 0, "waterfillAllocation needs a non-negative budget")
      // internal columns are __-prefixed: the input's key column may have
      // any name (including "k"/"avail") and must survive untouched
      val W = org.apache.spark.sql.expressions.Window
      val wAll = W.partitionBy(lit(1))
      val wAsc = W.partitionBy(lit(1)).orderBy("__avail", keyCol)
      val ranked = df.groupBy(keyCol)
        .agg(sum(col(weightCol)).cast("long").as("__avail"))
        .withColumn("__n_src", count(lit(1)).over(wAll))
        .withColumn("__k", row_number().over(wAsc))
        .withColumn("__pfx",
          coalesce(sum(col("__avail"))
            .over(wAsc.rowsBetween(W.unboundedPreceding, -1)), lit(0L)))
        .withColumn("__capped",
          col("__avail") * (col("__n_src") - col("__k") + 1) <=
            lit(budget) - col("__pfx"))
      ranked
        .withColumn("__s_capped",
          sum(when(col("__capped"), col("__avail")).otherwise(0L)).over(wAll))
        .withColumn("__n_level",
          sum(when(col("__capped"), 0L).otherwise(1L)).over(wAll))
        .withColumn("__level_rank",
          col("__k") - sum(when(col("__capped"), 1L).otherwise(0L))
            .over(wAsc.rowsBetween(W.unboundedPreceding, 0)))
        .withColumn("__rem", lit(budget) - col("__s_capped"))
        .withColumn("__alloc",
          when(col("__capped"), col("__avail"))
            .otherwise(expr("__rem div __n_level") +
              when(col("__level_rank") <= col("__rem") % col("__n_level"), 1L)
                .otherwise(0L)))
        .select(col(keyCol), col("__avail").as("avail"),
          col("__capped").as("capped"), col("__alloc").as("allocation"))
    }

    /** Resample a (group, time, value) stream to OHLC bars (cf. q230).
      * Open/close are struct-extrema argmin/argmax on (ts, tiebreak) —
      * order-free, so the result is identical under any partitioning or
      * arrival order; the same formulation runs streaming
      * ([[graft.streaming.Streams.ohlcStream]]). One (group, bucket)
      * shuffle, no per-bucket sort.
      */
    def ohlcBars(groupCol: String, tsCol: String, tieBreak: String,
        valueCol: String, bucket: String = "1 hour"): DataFrame =
      df.groupBy(col(groupCol), window(col(tsCol), bucket)
          .getField("start").as("bucket_start"))
        .agg(
          min(struct(col(tsCol), col(tieBreak), col(valueCol)))
            .getField(valueCol).as("open"),
          max(col(valueCol)).as("high"),
          min(col(valueCol)).as("low"),
          max(struct(col(tsCol), col(tieBreak), col(valueCol)))
            .getField(valueCol).as("close"),
          count(lit(1)).as("n"))

    /** Exact join-size forecast WITHOUT running the join (cf. q227):
      * output cardinality Σ_k n_left(k)·n_right(k), per-side max fanout,
      * and expansion vs the right side, from two key-local count rollups.
      * The plan this exists to protect against (a 10^14-row blowup) is
      * never executed — the profile costs two small aggregates.
      */
    def joinCardinality(right: DataFrame, leftKey: String,
        rightKey: String): DataFrame = {
      val lc = df.groupBy(col(leftKey).as("__k")).agg(count(lit(1)).as("__lc"))
      val rc = right.groupBy(col(rightKey).as("__k")).agg(count(lit(1)).as("__rc"))
      val rightTotal = right.count()
      lc.join(rc, "__k")
        .agg(count(lit(1)).as("matched_keys"),
          sum(col("__lc") * col("__rc")).as("join_rows"),
          max(col("__lc")).as("max_fanout_left"),
          max(col("__rc")).as("max_fanout_right"))
        .select(col("matched_keys"), col("join_rows"),
          col("max_fanout_left"), col("max_fanout_right"),
          (col("join_rows").cast("double") / lit(rightTotal).cast("double"))
            .as("expansion"))
    }

    /** Pairwise total-variation distance between the per-`groupCol` token
      * distributions of (group, token) occurrence rows (cf. q224).
      * Exact to one final division: Σ|c_a·N_b − c_b·N_a| over the union
      * vocab, computed as inner-join terms + disjoint mass so only tokens
      * present in both groups ever join. Returns (g_a, g_b, tv) for each
      * unordered group pair.
      */
    def tvDistance(groupCol: String, tokenCol: String): DataFrame = {
      val tc = df.groupBy(col(groupCol).as("__g"), col(tokenCol).as("__tok"))
        .agg(count(lit(1)).as("__c"))
        .barrier()
      val totals = tc.groupBy("__g").agg(sum("__c").as("__n"))
      val ta = tc.join(broadcast(totals), "__g")
      val inter = ta.as("a").join(ta.as("b"),
          col("a.__tok") === col("b.__tok") && col("a.__g") < col("b.__g"))
        .groupBy(col("a.__g").as("g_a"), col("b.__g").as("g_b"))
        .agg(
          sum(abs(col("a.__c") * col("b.__n") - col("b.__c") * col("a.__n")))
            .as("__s"),
          sum(col("a.__c")).as("__ia"), sum(col("b.__c")).as("__ib"))
      // every unordered group pair, so fully-disjoint vocabularies still
      // surface (as tv = 1) instead of silently dropping out of the join
      broadcast(totals).toDF("g_a", "__na")
        .crossJoin(broadcast(totals).toDF("g_b", "__nb"))
        .filter(col("g_a") < col("g_b"))
        .join(inter, Seq("g_a", "g_b"), "left")
        .select(col("g_a"), col("g_b"),
          ((coalesce(col("__s"), lit(0L)) +
            (col("__na") - coalesce(col("__ia"), lit(0L))) * col("__nb") +
            (col("__nb") - coalesce(col("__ib"), lit(0L))) * col("__na"))
            .cast("double") /
            (lit(2L) * col("__na") * col("__nb")).cast("double")).as("tv"))
    }

    /** Two-proportion z-test at α=0.05 over per-unit rows (cf. q229):
      * `successCol` must be 0/1 and `groupCol` must take exactly two
      * values (sorted: first = A). |z| > 1.96 is decided in
      * DECIMAL(38,0) by clearing denominators —
      * 625·N·(x_a·n_b − x_b·n_a)² > 2401·n_a·n_b·X·(N−X) — so the
      * verdict is exact at any count, immune to cancellation.
      */
    def twoProportionTest(groupCol: String, successCol: String): DataFrame = {
      val g = df.groupBy(col(groupCol).cast("string").as("__g"))
        .agg(count(lit(1)).as("__n"), sum(col(successCol)).as("__x"))
      def d(c: Column) = c.cast("decimal(38,0)")
      // the per-group rollup is exactly 2 rows — a bounded driver collect
      val two = g.orderBy("__g").collect()
      require(two.length == 2,
        s"twoProportionTest needs exactly 2 groups, got ${two.length}")
      val (ga, na, xa) = (two(0).getString(0), two(0).getLong(1), two(0).getLong(2))
      val (gb, nb, xb) = (two(1).getString(0), two(1).getLong(1), two(1).getLong(2))
      val spark = df.sparkSession
      import spark.implicits._
      val base = Seq((ga, na, xa, gb, nb, xb))
        .toDF("grp_a", "n_a", "x_a", "grp_b", "n_b", "x_b")
      val diff = d(col("x_a")) * d(col("n_b")) - d(col("x_b")) * d(col("n_a"))
      val bigN = d(col("n_a")) + d(col("n_b"))
      val bigX = d(col("x_a")) + d(col("x_b"))
      base.select(col("grp_a"), col("grp_b"), col("n_a"), col("x_a"),
        col("n_b"), col("x_b"),
        (col("x_a").cast("double") / col("n_a").cast("double")).as("rate_a"),
        (col("x_b").cast("double") / col("n_b").cast("double")).as("rate_b"),
        (lit(625L).cast("decimal(38,0)") * bigN * diff * diff >
          lit(2401L).cast("decimal(38,0)") * d(col("n_a")) * d(col("n_b")) *
            bigX * (bigN - bigX)).as("significant"))
    }

    /** Count, per row, the neighbors within Chebyshev radius `r` of its
      * integer point (`xCol`, `yCol`) — the grid-bucketed 2-D range
      * self-join (cf. q325): points bucket into r-sized cells, each point
      * probes its 3×3 cell neighborhood, and every true pair is found
      * exactly once (the neighbor's home cell is unique). Returns the
      * input plus `n_neighbors`. Shuffles (cell, point) rows; per-cell
      * density is the skew bound to audit (skewProfile on the cell key).
      */
    def gridNeighborJoin(idCol: String, xCol: String, yCol: String,
        r: Long): DataFrame = {
      val s = df.sparkSession
      val cells = df
        .withColumn("__cx", floor(col(xCol) / r))
        .withColumn("__cy", floor(col(yCol) / r))
      val probe = cells
        .select(col(idCol).as("__ida"), col(xCol).as("__xa"),
          col(yCol).as("__ya"), col("__cx"), col("__cy"))
        .crossJoin(s.sql("SELECT explode(sequence(-1, 1)) AS __dx")
          .crossJoin(s.sql("SELECT explode(sequence(-1, 1)) AS __dy")))
        .select(col("__ida"), col("__xa"), col("__ya"),
          (col("__cx") + col("__dx")).as("__cx"),
          (col("__cy") + col("__dy")).as("__cy"))
      val nbr = probe
        .join(cells.select(col(idCol).as("__idb"), col(xCol).as("__xb"),
          col(yCol).as("__yb"), col("__cx"), col("__cy")),
          Seq("__cx", "__cy"))
        .filter(col("__ida") =!= col("__idb") &&
          abs(col("__xa") - col("__xb")) <= r &&
          abs(col("__ya") - col("__yb")) <= r)
        .groupBy(col("__ida")).agg(count(lit(1)).as("__nn"))
      df.join(nbr, df(idCol) === nbr("__ida"), "left")
        .withColumn("n_neighbors", coalesce(col("__nn"), lit(0L)))
        .drop("__ida", "__nn")
    }

    /** Exact rolling median of `valueCol` over the trailing `window` rows
      * per group in `orderCol` order (cf. q327): the window is a fixed row
      * count, so the median comes from sorting that bounded slice — no
      * approximation, deterministic for integer values. Appends `out`.
      */
    def rollingMedian(groupCol: String, orderCol: String, valueCol: String,
        window: Int, out: String = "rolling_median"): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(groupCol).orderBy(orderCol)
        .rowsBetween(-(window - 1), 0)
      df.withColumn("__win", collect_list(col(valueCol)).over(w))
        .withColumn(out, expr(
          "element_at(array_sort(__win), CAST((size(__win) + 1) / 2 AS INT))"))
        .drop("__win")
    }

    /** Sorted-neighborhood candidate pairs (cf. q328): global rank by
      * `sortCol` (two-phase, never a single-partition window), then each
      * row pairs with its next `window` neighbors in sort order — the
      * linkage blocking pass that catches near-dups an attribute block
      * splits. Returns (`a`, `b`, `k`) id pairs with k = rank offset.
      */
    def snmPairs(idCol: String, sortCol: String, window: Int = 3): DataFrame = {
      val s = df.sparkSession
      val ranked = df.select(col(idCol), col(sortCol))
        .globalRowNumber("__r", col(sortCol), col(idCol))
      ranked.select(col("__r"), col(idCol).as("a"))
        .crossJoin(s.sql(s"SELECT explode(sequence(1, $window)) AS k")
          .select(col("k").cast("long").as("k")))
        .join(ranked.select(col("__r").as("__rb"), col(idCol).as("b")),
          col("__r") + col("k") === col("__rb"))
        .select(col("a"), col("b"), col("k"))
    }
  }
}
