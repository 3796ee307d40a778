package graft.operators

import graft.core.Checkpoints._
import graft.{Query, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Warehouse-maintenance operators: the change-capture and merge steps an
  * ETL framework runs around its transforms. The reference leaves both to
  * hand-written model code over row iterators (its connectors expose only
  * read/write access modes, cf. `lib/ayeaye/connect.py` access handling and
  * the add/overwrite semantics in `lib/ayeaye/connectors/parquet_connector
  * .py`); here each is one declarative plan whose single shuffle is on the
  * natural key, so it scales with the cluster instead of the driver.
  */
object Warehouse {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // -- q100: SCD2 history build (change log -> validity intervals) ----------
  //   The classic slowly-changing-dimension type-2 step: per user, ordered
  //   by event time, collapse consecutive runs of the same event_type into
  //   one row with [valid_from, valid_to) micros and an is_current flag.
  //   Everything — both windows and the run aggregation — partitions on
  //   user_id, so the whole history build is ONE shuffle however large the
  //   log; no driver-side iteration, no self-join.
  val q100 = Query.sql(
    "q100_scd2",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val runs = t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"), col("event_type"))
        .withColumn("chg",
          when(lag(col("event_type"), 1).over(w).isNull ||
            lag(col("event_type"), 1).over(w) =!= col("event_type"), 1L)
            .otherwise(0L))
        .withColumn("run_id",
          sum(col("chg")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "run_id")
        .agg(first(col("event_type")).as("event_type"),
          min(col("ts_us")).as("valid_from"),
          count(lit(1)).as("n_events"))
      val wr = Window.partitionBy("user_id").orderBy("valid_from")
      runs
        .withColumn("valid_to", lead(col("valid_from"), 1).over(wr))
        .withColumn("is_current", col("valid_to").isNull)
        .select("user_id", "event_type", "valid_from", "valid_to",
          "n_events", "is_current")
        .orderBy("user_id", "valid_from")
    },
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type
      |  FROM events),
      |flagged AS (
      |  SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
      |      OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
      |runs AS (
      |  SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |    ROWS UNBOUNDED PRECEDING) AS run_id
      |  FROM flagged),
      |grp AS (
      |  SELECT user_id, run_id, MIN(event_type) AS event_type,
      |    MIN(ts_us) AS valid_from, COUNT(*) AS n_events
      |  FROM runs GROUP BY user_id, run_id)
      |SELECT user_id, event_type, valid_from,
      |  lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from)
      |    AS valid_to,
      |  n_events,
      |  lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from)
      |    IS NULL AS is_current
      |FROM grp ORDER BY user_id, valid_from""".stripMargin)

  // -- q101: merge / upsert (MERGE INTO semantics via full outer join) ------
  //   The incremental-load step: a deterministic change set (updates to
  //   every 97th order, plus brand-new rows under shifted keys) merged into
  //   the base table — update wins, inserts appended, untouched rows pass
  //   through. Planned as ONE full outer join on the merge key (exactly how
  //   Delta/Iceberg execute MERGE): both sides shuffle on o_orderkey once;
  //   a small change set broadcasts under AQE. Output restricted to touched
  //   keys so the result stays inspectable at any scale.
  val q101 = Query.sql(
    "q101_merge_upsert",
    (s, dir) => {
      val base = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      val touched = base.filter(col("o_orderkey") % 97 === 0)
      val updates = touched
        .select(col("o_orderkey"), col("o_custkey"),
          lit("U").as("o_orderstatus"),
          (col("o_totalprice") * lit(1.1)).as("o_totalprice"))
      val inserts = updates
        .select((col("o_orderkey") + lit(100000000L)).as("o_orderkey"),
          col("o_custkey"), lit("N").as("o_orderstatus"), col("o_totalprice"))
      val changes = updates.union(inserts)
      base.as("b").join(changes.as("c"), Seq("o_orderkey"), "full_outer")
        .select(col("o_orderkey"),
          coalesce(col("c.o_custkey"), col("b.o_custkey")).as("o_custkey"),
          coalesce(col("c.o_orderstatus"), col("b.o_orderstatus"))
            .as("o_orderstatus"),
          coalesce(col("c.o_totalprice"), col("b.o_totalprice"))
            .as("o_totalprice"))
        .filter(col("o_orderkey") % 97 === 0 ||
          col("o_orderkey") >= 100000000L)
        .orderBy("o_orderkey")
    },
    """WITH base AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      |  FROM orders),
      |updates AS (
      |  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
      |    o_totalprice * CAST(1.1 AS DOUBLE) AS o_totalprice
      |  FROM base WHERE o_orderkey % 97 = 0),
      |changes AS (
      |  SELECT * FROM updates
      |  UNION ALL
      |  SELECT o_orderkey + 100000000, o_custkey, 'N', o_totalprice
      |  FROM updates)
      |SELECT COALESCE(c.o_orderkey, b.o_orderkey) AS o_orderkey,
      |  COALESCE(c.o_custkey, b.o_custkey) AS o_custkey,
      |  COALESCE(c.o_orderstatus, b.o_orderstatus) AS o_orderstatus,
      |  COALESCE(c.o_totalprice, b.o_totalprice) AS o_totalprice
      |FROM base b FULL OUTER JOIN changes c ON b.o_orderkey = c.o_orderkey
      |WHERE COALESCE(c.o_orderkey, b.o_orderkey) % 97 = 0
      |   OR COALESCE(c.o_orderkey, b.o_orderkey) >= 100000000
      |ORDER BY o_orderkey""".stripMargin)

  // -- q103: key-skew profiler (the pre-flight check before a big join) -----
  //   Distribution diagnostics for a join/aggregation key: per-key counts,
  //   the share of the heaviest keys, and the global max/mean skew factor.
  //   This is what decides between a plain shuffle join, AQE skew handling
  //   and explicit salting at 100 TB. One map-side-combined count shuffle;
  //   the single-row total broadcasts back, so the probe never funnels
  //   data through the driver.
  val q103 = Query.sql(
    "q103_skew_profile",
    (s, dir) => {
      val counts = t(s, dir, "events")
        .groupBy("user_id").agg(count(lit(1)).as("c"))
      val stats = counts.agg(
        sum(col("c")).as("total"),
        max(col("c")).as("cmax"),
        count(lit(1)).as("n_keys"))
      counts.orderBy(desc("c"), asc("user_id")).limit(10)
        .crossJoin(broadcast(stats))
        .select(col("user_id"), col("c"),
          (col("c").cast("double") / col("total")).as("share"),
          ((col("cmax") * col("n_keys")).cast("double") / col("total"))
            .as("skew_factor"))
        .orderBy(desc("c"), asc("user_id"))
    },
    """WITH counts AS (
      |  SELECT user_id, COUNT(*) AS c FROM events GROUP BY user_id),
      |stats AS (
      |  SELECT CAST(SUM(c) AS BIGINT) AS total, MAX(c) AS cmax,
      |    COUNT(*) AS n_keys
      |  FROM counts)
      |SELECT user_id, c,
      |  CAST(c AS DOUBLE) / total AS share,
      |  CAST(cmax * n_keys AS DOUBLE) / total AS skew_factor
      |FROM counts CROSS JOIN stats
      |ORDER BY c DESC, user_id LIMIT 10""".stripMargin)

  // -- q104: snapshot diff (audit an incremental load) ----------------------
  //   Row-level reconciliation of two table versions: classify every key as
  //   added / removed / changed / unchanged and aggregate per class with
  //   the exact total price delta. The second snapshot is derived
  //   deterministically (deletes every 89th key, reprices every 97th,
  //   appends shifted keys) so the expected classes are known. ONE full
  //   outer join on the key — the same plan as q101's merge, which is why
  //   a diff of 100 TB against yesterday costs one co-partitioned shuffle.
  val q104 = Query.sql(
    "q104_snapshot_diff",
    (s, dir) => {
      val base = t(s, dir, "orders")
        .select("o_orderkey", "o_totalprice")
      val snap = base
        .filter(col("o_orderkey") % 89 =!= 0)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 97 === 0,
            col("o_totalprice") * lit(1.05))
            .otherwise(col("o_totalprice")).as("o_totalprice"))
        .union(base.filter(col("o_orderkey") % 101 === 0)
          .select((col("o_orderkey") + lit(200000000L)).as("o_orderkey"),
            col("o_totalprice")))
      val D = org.apache.spark.sql.types.DecimalType(18, 6)
      base.as("a").join(snap.as("b"), Seq("o_orderkey"), "full_outer")
        .select(
          when(col("a.o_totalprice").isNull, "added")
            .when(col("b.o_totalprice").isNull, "removed")
            .when(col("a.o_totalprice") =!= col("b.o_totalprice"), "changed")
            .otherwise("unchanged").as("change_type"),
          coalesce(col("b.o_totalprice"), lit(0d))
            .minus(coalesce(col("a.o_totalprice"), lit(0d))).as("delta"))
        .groupBy("change_type")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("delta").cast(D)).cast("double").as("price_delta"))
        .orderBy("change_type")
    },
    """WITH base AS (
      |  SELECT o_orderkey, o_totalprice FROM orders),
      |snap AS (
      |  SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 97 = 0
      |      THEN o_totalprice * CAST(1.05 AS DOUBLE)
      |      ELSE o_totalprice END AS o_totalprice
      |  FROM base WHERE o_orderkey % 89 <> 0
      |  UNION ALL
      |  SELECT o_orderkey + 200000000, o_totalprice
      |  FROM base WHERE o_orderkey % 101 = 0)
      |SELECT CASE WHEN a.o_totalprice IS NULL THEN 'added'
      |    WHEN b.o_totalprice IS NULL THEN 'removed'
      |    WHEN a.o_totalprice <> b.o_totalprice THEN 'changed'
      |    ELSE 'unchanged' END AS change_type,
      |  COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(COALESCE(b.o_totalprice, 0) - COALESCE(a.o_totalprice, 0)
      |    AS DECIMAL(18,6))) AS DOUBLE) AS price_delta
      |FROM base a FULL OUTER JOIN snap b ON a.o_orderkey = b.o_orderkey
      |GROUP BY 1 ORDER BY 1""".stripMargin)

  // -- q105: incremental rollup maintenance ---------------------------------
  //   The never-recompute-history pattern: a stored monthly rollup of the
  //   closed past (orders before the cutoff) is merged with a fresh
  //   aggregation of only the new slice, and the result must equal a full
  //   re-aggregation — which is exactly what the oracle computes. The
  //   load-bearing detail for exactness at any scale: partial sums stay
  //   DECIMAL until the final merge (double partials would round before
  //   merging and drift from the full re-agg); the merge shuffles only
  //   pre-aggregated month rows, never the fact table.
  val q105 = {
    val D = org.apache.spark.sql.types.DecimalType(18, 6)
    def partial(df: DataFrame): DataFrame =
      df.groupBy(
          year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("mo"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(D)).as("rev_d"))
    Query.sql(
      "q105_incremental_rollup",
      (s, dir) => {
        val orders = t(s, dir, "orders")
        val cutoff = to_date(lit("1997-06-01"))
        val history = partial(orders
          .filter(col("o_orderdate").cast("date") < cutoff))
        val delta = partial(orders
          .filter(col("o_orderdate").cast("date") >= cutoff))
        history.union(delta)
          .groupBy("yr", "mo")
          .agg(sum(col("n")).as("n"),
            sum(col("rev_d")).cast("double").as("total"))
          .orderBy("yr", "mo")
      },
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
        |  CAST(month(o_orderdate) AS INTEGER) AS mo,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM orders GROUP BY 1, 2 ORDER BY yr, mo""".stripMargin)
  }

  // -- q122: Z-order clustering stats (multi-dimensional layout) ------------
  //   The data-layout step behind Delta/Iceberg OPTIMIZE ZORDER BY: bit-
  //   interleave two join/filter keys into one z-value, range-partition
  //   files by it, and point/range predicates on EITHER dimension prune
  //   files via zone maps. The query computes the per-z-bucket zone map
  //   (count + min/max of both dimensions) so the oracle verifies the
  //   interleave math exactly and the spec asserts the skipping win (both
  //   dims range-bounded per bucket). Scale: the z-value is a map-side
  //   integer fold; the only movement is the final 64-row aggregation —
  //   the production write path is `api.zorderBy` (repartitionByRange on
  //   the same value) which this query's math underlies.
  /** Rank-normalize a column to an 8-bit equi-depth code over the
    * distinct-value histogram. The histogram of a KEY column (partkey,
    * suppkey) grows with SF, so the cumulative is api.histCumSum —
    * repartitionByRange + per-partition carry-in offsets, never a
    * single-partition window (exactly the distinct-value-histogram use
    * the helper documents). */
  private[graft] def depthCode(dfIn: DataFrame, c: String): DataFrame = {
    import graft.api._
    dfIn.groupBy(col(c).as("v")).agg(count(lit(1)).as("cnt"))
      .histCumSum(Seq(col("v")), Seq("cnt"), withTotals = true)
      .select(col("v").as(c),
        least(lit(255L), expr("cum_cnt * 256 DIV tot_cnt"))
          .as(s"${c}_code"))
  }

  val q122 = Query.sql(
    "q122_zorder_stats",
    (s, dir) => {
      val li = t(s, dir, "lineitem").select("l_partkey", "l_suppkey")
      // Raw-value interleave degenerates when the dims span different
      // ranges, so (like Delta's OPTIMIZE ZORDER) each dim is first
      // rank-normalized to an 8-bit code; the code maps are tiny
      // (distinct values) and broadcast back onto the fact rows.
      val cx = depthCode(li, "l_partkey")
      val cy = depthCode(li, "l_suppkey")
      // Bit interleave unrolled to 16 shift/mask terms: the equivalent
      // aggregate(sequence(0,7), …) lambda is a non-codegen higher-order
      // function evaluated interpreted per row, allocating the sequence
      // array each time (guide §4: built-in expressions over closures in
      // the hot path). Same BIGINT, term order irrelevant to a sum.
      val zTerms = (0 to 7).flatMap(j => Seq(
        s"shiftleft(shiftright(l_partkey_code, $j) & 1, ${2 * j})",
        s"shiftleft(shiftright(l_suppkey_code, $j) & 1, ${2 * j + 1})"))
      val zExpr = s"CAST(${zTerms.mkString(" + ")} AS BIGINT)"
      li.join(cx, "l_partkey").join(cy, "l_suppkey")
        .select(col("l_partkey").as("x"), col("l_suppkey").as("y"),
          expr(zExpr).as("zval"))
        .groupBy(expr("shiftright(zval, 10)").as("z_bucket"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("x")).as("min_part"), max(col("x")).as("max_part"),
          min(col("y")).as("min_supp"), max(col("y")).as("max_supp"))
        .orderBy("z_bucket")
    },
    """WITH cx AS (
      |  SELECT v AS l_partkey, LEAST(255, cb * 256 // tot) AS xc FROM (
      |    SELECT l_partkey AS v, COUNT(*) AS cnt,
      |      COALESCE(SUM(COUNT(*)) OVER (ORDER BY l_partkey
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb,
      |      SUM(COUNT(*)) OVER () AS tot
      |    FROM lineitem GROUP BY l_partkey)),
      |cy AS (
      |  SELECT v AS l_suppkey, LEAST(255, cb * 256 // tot) AS yc FROM (
      |    SELECT l_suppkey AS v, COUNT(*) AS cnt,
      |      COALESCE(SUM(COUNT(*)) OVER (ORDER BY l_suppkey
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb,
      |      SUM(COUNT(*)) OVER () AS tot
      |    FROM lineitem GROUP BY l_suppkey)),
      |z AS (
      |  SELECT l.l_partkey AS x, l.l_suppkey AS y,
      |    CAST(list_sum(list_transform(generate_series(0, 7), j ->
      |      (((xc >> j) & 1) << (2 * j)) +
      |      (((yc >> j) & 1) << (2 * j + 1)))) AS BIGINT) AS zval
      |  FROM lineitem l JOIN cx USING (l_partkey) JOIN cy USING (l_suppkey))
      |SELECT zval >> 10 AS z_bucket, COUNT(*) AS n_rows,
      |  MIN(x) AS min_part, MAX(x) AS max_part,
      |  MIN(y) AS min_supp, MAX(y) AS max_supp
      |FROM z GROUP BY 1 ORDER BY 1""".stripMargin)

  // -- q127: backfill batch planning (cumulative bin packing) ---------------
  //   Slice a historical reload into contiguous date batches of bounded
  //   row volume — the work-unit planner behind a manifest-driven backfill
  //   (cf. Manifest.Mapper): daily counts, running total, batch id =
  //   cum_before DIV budget. Contiguity is by construction (batches are
  //   date-ordered prefixes), each batch stays under budget + one day's
  //   rows, and the plan is deterministic for a frozen table. The window
  //   runs over the DAILY rollup (bounded rows), never the fact table —
  //   same scale posture as q121's histogram ranks.
  val q127 = Query.sql(
    "q127_backfill_batches",
    (s, dir) => {
      val daily = t(s, dir, "orders")
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(count(lit(1)).as("n"))
      val w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
      daily
        .withColumn("cb", coalesce(sum(col("n")).over(w), lit(0L)))
        .withColumn("batch_id", expr("cb DIV 2000"))
        .groupBy("batch_id")
        .agg(count(lit(1)).as("n_days"),
          min(col("day")).as("first_day"), max(col("day")).as("last_day"),
          sum(col("n")).as("n_rows"))
        .orderBy("batch_id")
    },
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day, COUNT(*) AS n
      |  FROM orders GROUP BY 1),
      |c AS (
      |  SELECT day, n,
      |    COALESCE(SUM(n) OVER (ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
      |  FROM daily)
      |SELECT CAST(cb // 2000 AS BIGINT) AS batch_id,
      |  COUNT(*) AS n_days, MIN(day) AS first_day, MAX(day) AS last_day,
      |  CAST(SUM(n) AS BIGINT) AS n_rows
      |FROM c GROUP BY 1 ORDER BY 1""".stripMargin)

  // -- q141: CDC changelog apply (I/U/D, latest-wins) -----------------------
  //   The step q101's upsert cannot express: a change stream that also
  //   DELETES. A deterministic multi-op changelog (update-then-delete on one
  //   key family, delete-then-reinsert on another, plus brand-new keys) is
  //   collapsed to its latest op per key — one row_number window over the
  //   change stream, which at scale is the small side — then applied to the
  //   base with a single full-outer join on the key: D drops the row, U
  //   replaces the payload, absent keys pass through. This is exactly how
  //   Delta/Iceberg apply a CDC feed; nothing touches the driver, and the
  //   change-stream shuffle carries only changed keys, not the base table.
  //   Output restricted to touched keys so the surviving set is inspectable.
  val q141 = Query.sql(
    "q141_cdc_apply",
    (s, dir) => {
      val base = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      val fam1 = base.filter(col("o_orderkey") % 101 === 0) // update then delete
      val fam2 = base.filter(col("o_orderkey") % 103 === 0 &&
        col("o_orderkey") % 101 =!= 0) // delete then re-upsert
      val changes = fam1.select(col("o_orderkey"), lit(1L).as("seq"),
          lit("U").as("op"), (col("o_totalprice") * lit(1.2)).as("new_price"))
        .union(fam1.select(col("o_orderkey"), lit(2L).as("seq"),
          lit("D").as("op"), lit(null).cast("double").as("new_price")))
        .union(fam2.select(col("o_orderkey"), lit(1L).as("seq"),
          lit("D").as("op"), lit(null).cast("double").as("new_price")))
        .union(fam2.select(col("o_orderkey"), lit(2L).as("seq"),
          lit("U").as("op"), (col("o_totalprice") + lit(1000.0)).as("new_price")))
        .union(fam2.select((col("o_orderkey") + lit(200000000L)).as("o_orderkey"),
          lit(1L).as("seq"), lit("U").as("op"),
          (col("o_totalprice") + lit(0.5)).as("new_price")))
      val wSeq = Window.partitionBy("o_orderkey").orderBy(desc("seq"))
      val latest = changes
        .withColumn("rn", row_number().over(wSeq))
        .filter(col("rn") === 1)
        .select("o_orderkey", "op", "new_price")
      base.as("b").join(latest.as("c"), Seq("o_orderkey"), "full_outer")
        .filter(col("c.op").isNotNull) // touched keys only (inspectable)
        .filter(col("c.op") =!= "D")   // deletes drop out of the final state
        .select(col("o_orderkey"),
          col("b.o_custkey").as("o_custkey"),
          lit("C").as("o_orderstatus"),
          coalesce(col("c.new_price"), col("b.o_totalprice"))
            .as("o_totalprice"))
        .orderBy("o_orderkey")
    },
    """WITH base AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      |  FROM orders),
      |fam1 AS (SELECT * FROM base WHERE o_orderkey % 101 = 0),
      |fam2 AS (SELECT * FROM base
      |         WHERE o_orderkey % 103 = 0 AND o_orderkey % 101 <> 0),
      |changes AS (
      |  SELECT o_orderkey, 1 AS seq, 'U' AS op,
      |    o_totalprice * CAST(1.2 AS DOUBLE) AS new_price FROM fam1
      |  UNION ALL
      |  SELECT o_orderkey, 2, 'D', CAST(NULL AS DOUBLE) FROM fam1
      |  UNION ALL
      |  SELECT o_orderkey, 1, 'D', CAST(NULL AS DOUBLE) FROM fam2
      |  UNION ALL
      |  SELECT o_orderkey, 2, 'U',
      |    o_totalprice + CAST(1000 AS DOUBLE) FROM fam2
      |  UNION ALL
      |  SELECT o_orderkey + 200000000, 1, 'U',
      |    o_totalprice + CAST(0.5 AS DOUBLE) FROM fam2),
      |latest AS (
      |  SELECT o_orderkey, op, new_price FROM (
      |    SELECT *, row_number() OVER (PARTITION BY o_orderkey
      |      ORDER BY seq DESC) AS rn FROM changes) WHERE rn = 1)
      |SELECT COALESCE(c.o_orderkey, b.o_orderkey) AS o_orderkey,
      |  b.o_custkey AS o_custkey,
      |  'C' AS o_orderstatus,
      |  COALESCE(c.new_price, b.o_totalprice) AS o_totalprice
      |FROM base b FULL OUTER JOIN latest c ON b.o_orderkey = c.o_orderkey
      |WHERE c.op IS NOT NULL AND c.op <> 'D'
      |ORDER BY o_orderkey""".stripMargin)

  // -- q149: Pareto frontier (2-D skyline) ----------------------------------
  //   "Orders no other order beats on BOTH price and recency" — the skyline
  //   operator (Börzsönyi et al., ICDE 2001). The naive spec is an
  //   all-pairs NOT EXISTS (the oracle below); the scale plan is the exact
  //   sort-sweep decomposition:
  //     1. one map-side-combined shuffle collapses rows to one (price,
  //        max-date) row per DISTINCT price;
  //     2. a running max over that collapsed set, ordered by price desc,
  //        yields hmax = best date among all STRICTLY higher prices —
  //        computed by the two-phase range-partitioned prefix max
  //        (api.histCumMax) over distinct prices, so even a huge distinct
  //        domain never funnels through one task;
  //     3. survivors join back: date equals its price-group max (kills
  //        same-price strict domination; exact-duplicate points both
  //        survive, matching NOT EXISTS) and beats hmax strictly (kills
  //        higher-price domination, where date ties lose to the strict
  //        price). The join's build side is the collapsed price set —
  //        AQE broadcasts it, unhinted.
  //   Bounded to o_orderkey < 4000 only to keep the oracle's quadratic
  //   NOT EXISTS cheap; the Spark plan is the unbounded path.
  /** Rows not dominated on (maximize xCol, maximize yCol): the exact
    * sort-sweep decomposition described at q149. Preserves the input
    * columns; exact-duplicate points all survive (none dominates its
    * twin), matching the all-pairs NOT EXISTS spec. Rows with a null x
    * are excluded (the survivor join's null key never matches); a null y
    * never survives its group (`max` ignores nulls, `===` rejects them) —
    * i.e. null coordinates mean "not on the frontier". */
  def skyline2D(d: DataFrame, xCol: String, yCol: String): DataFrame = {
    import graft.api._
    val g = d.groupBy(xCol).agg(max(col(yCol)).as("__gmax"))
    // two-phase range-partitioned running max (api.histCumMax): the
    // distinct-x sweep must not funnel through one window task when the
    // x domain is a continuous metric (price, score) growing with corpus
    val g2 = g.histCumMax(Seq(col(xCol).desc), "__gmax", "__hmax")
    d.join(g2, Seq(xCol))
      .filter(col(yCol) === col("__gmax") &&
        (col("__hmax").isNull || col(yCol) > col("__hmax")))
      .select(d.columns.map(col).toIndexedSeq: _*)
  }

  val q149 = Query.sql(
    "q149_pareto_frontier",
    (s, dir) =>
      skyline2D(
        t(s, dir, "orders").filter(col("o_orderkey") < 4000)
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate")),
        "o_totalprice", "o_orderdate")
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderdate").cast("date").as("order_date"))
        .orderBy("o_orderkey"),
    """WITH o AS (SELECT o_orderkey, o_totalprice, o_orderdate
      |           FROM orders WHERE o_orderkey < 4000)
      |SELECT o_orderkey, o_totalprice, CAST(o_orderdate AS DATE) AS order_date
      |FROM o b
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM o a
      |  WHERE a.o_totalprice >= b.o_totalprice
      |    AND a.o_orderdate >= b.o_orderdate
      |    AND (a.o_totalprice > b.o_totalprice
      |         OR a.o_orderdate > b.o_orderdate))
      |ORDER BY o_orderkey""".stripMargin)

  // -- q154: incremental rollup maintenance via mergeable partial states ----
  //   The nightly-agg shape: a stored per-customer rollup absorbs a delta
  //   batch WITHOUT rescanning history. Works because every kept statistic
  //   is a mergeable state — (n, decimal-sum, min, max) combine by
  //   (+, +, least, greatest) — and the derived mean is computed only at
  //   read time from the merged state. The oracle recomputes from the FULL
  //   table: hash-equality proves merge(old, delta) == recompute(all)
  //   exactly (decimal addition is associative; doubles would drift here).
  //   At scale the merge is one co-partitioned outer join of two agg
  //   tables — history rows never move again.
  val q154 = {
    val D = org.apache.spark.sql.types.DecimalType(18, 6)
    Query.sql(
      "q154_rollup_merge",
      (s, dir) => {
        val o = t(s, dir, "orders")
        def part(p: org.apache.spark.sql.Column) =
          o.filter(p).groupBy("o_custkey").agg(
            count(lit(1)).as("n"),
            sum(col("o_totalprice").cast(D)).as("total"),
            min(col("o_totalprice")).as("mn"),
            max(col("o_totalprice")).as("mx"))
        val hist = part(pmod(col("o_orderkey"), lit(5)) =!= 0)
        val delta = part(pmod(col("o_orderkey"), lit(5)) === 0)
        hist.select(col("o_custkey"), col("n"), col("total"), col("mn"), col("mx"))
          .unionAll(delta.select(col("o_custkey"), col("n"), col("total"),
            col("mn"), col("mx")))
          .groupBy("o_custkey")
          .agg(sum(col("n")).as("n_orders"),
            sum(col("total")).as("t"),
            min(col("mn")).as("min_price"),
            max(col("mx")).as("max_price"))
          .select(col("o_custkey"), col("n_orders"),
            col("t").cast("double").as("total_price"),
            col("min_price"), col("max_price"),
            (col("t").cast("double") / col("n_orders").cast("double"))
              .as("avg_price"))
          .orderBy("o_custkey")
      },
      """SELECT o_custkey, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
        |    AS total_price,
        |  MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS avg_price
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)
  }

  // -- q157: referential-integrity audit (FK orphan counts) -----------------
  //   The post-build check a warehouse runs after every load, as one
  //   operator: per FK relation, child cardinality and orphan count via a
  //   key-projected LEFT ANTI join — only the key column moves, each
  //   relation is an independent co-partitioned join (they run as parallel
  //   stages), and the result is a constant-size report however large the
  //   tables. Mirrors the reference's pre/post_build_check surface
  //   (lib/ayeaye/common_pattern/checks.py) with the checks pushed into
  //   the engine instead of driver iteration.
  val q157 = Query.sql(
    "q157_fk_audit",
    (s, dir) => {
      def check(rel: String, c: DataFrame, ck: String,
          p: DataFrame, pk: String): DataFrame = {
        val orphans = c.select(col(ck))
          .join(p.select(col(pk).as(ck)), Seq(ck), "left_anti")
        c.agg(count(lit(1)).as("n_child"))
          .crossJoin(orphans.agg(count(lit(1)).as("n_orphans")))
          .select(lit(rel).as("relation"), col("n_child"), col("n_orphans"))
      }
      val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      val cu = t(s, dir, "customer"); val su = t(s, dir, "supplier")
      val pa = t(s, dir, "part"); val na = t(s, dir, "nation")
      val re = t(s, dir, "region")
      Seq(
        check("customer->nation", cu, "c_nationkey", na, "n_nationkey"),
        check("lineitem->orders", li, "l_orderkey", o, "o_orderkey"),
        check("lineitem->part", li, "l_partkey", pa, "p_partkey"),
        check("lineitem->supplier", li, "l_suppkey", su, "s_suppkey"),
        check("nation->region", na, "n_regionkey", re, "r_regionkey"),
        check("orders->customer", o, "o_custkey", cu, "c_custkey"),
        check("supplier->nation", su, "s_nationkey", na, "n_nationkey"))
        .reduce(_.unionAll(_))
        .orderBy("relation")
    },
    """SELECT 'customer->nation' AS relation,
      |  (SELECT COUNT(*) FROM customer) AS n_child,
      |  (SELECT COUNT(*) FROM customer
      |   WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation)) AS n_orphans
      |UNION ALL SELECT 'lineitem->orders',
      |  (SELECT COUNT(*) FROM lineitem),
      |  (SELECT COUNT(*) FROM lineitem
      |   WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
      |UNION ALL SELECT 'lineitem->part',
      |  (SELECT COUNT(*) FROM lineitem),
      |  (SELECT COUNT(*) FROM lineitem
      |   WHERE l_partkey NOT IN (SELECT p_partkey FROM part))
      |UNION ALL SELECT 'lineitem->supplier',
      |  (SELECT COUNT(*) FROM lineitem),
      |  (SELECT COUNT(*) FROM lineitem
      |   WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier))
      |UNION ALL SELECT 'nation->region',
      |  (SELECT COUNT(*) FROM nation),
      |  (SELECT COUNT(*) FROM nation
      |   WHERE n_regionkey NOT IN (SELECT r_regionkey FROM region))
      |UNION ALL SELECT 'orders->customer',
      |  (SELECT COUNT(*) FROM orders),
      |  (SELECT COUNT(*) FROM orders
      |   WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
      |UNION ALL SELECT 'supplier->nation',
      |  (SELECT COUNT(*) FROM supplier),
      |  (SELECT COUNT(*) FROM supplier
      |   WHERE s_nationkey NOT IN (SELECT n_nationkey FROM nation))
      |ORDER BY relation""".stripMargin)

  // -- q173: primary-key uniqueness audit (q157's sibling) ------------------
  //   Per table: cardinality, distinct key count, duplicate surplus, null
  //   keys — the uniqueness half of constraint checking (q157 covers the
  //   referential half). Each table is one map-side-combined aggregate;
  //   the report is constant-size.
  val q173 = Query.sql(
    "q173_pk_audit",
    (s, dir) => {
      def audit(tbl: String, pk: String): DataFrame =
        t(s, dir, tbl).agg(
          count(lit(1)).as("n_rows"),
          countDistinct(col(pk)).as("n_distinct"),
          (count(col(pk)) - countDistinct(col(pk))).as("n_dup_surplus"),
          sum(when(col(pk).isNull, 1L).otherwise(0L)).as("n_null_keys"))
          .select(lit(s"$tbl.$pk").as("pk"), col("n_rows"),
            col("n_distinct"), col("n_dup_surplus"), col("n_null_keys"))
      Seq(
        audit("customer", "c_custkey"), audit("nation", "n_nationkey"),
        audit("orders", "o_orderkey"), audit("part", "p_partkey"),
        audit("region", "r_regionkey"), audit("supplier", "s_suppkey"))
        .reduce(_.unionAll(_))
        .orderBy("pk")
    },
    Seq(("customer", "c_custkey"), ("nation", "n_nationkey"),
      ("orders", "o_orderkey"), ("part", "p_partkey"),
      ("region", "r_regionkey"), ("supplier", "s_suppkey"))
      .map { case (tbl, pk) =>
        s"""SELECT '$tbl.$pk' AS pk, COUNT(*) AS n_rows,
           |  COUNT(DISTINCT $pk) AS n_distinct,
           |  CAST(COUNT($pk) - COUNT(DISTINCT $pk) AS BIGINT)
           |    AS n_dup_surplus,
           |  CAST(SUM(CASE WHEN $pk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_null_keys
           |FROM $tbl""".stripMargin }
      .mkString("", "\nUNION ALL\n", "\nORDER BY pk"))

  // -- q211: incremental JOIN-view maintenance (delta algebra) ---------------
  //   q154 maintains a GROUPED view incrementally; this maintains a JOIN
  //   view: with orders = O_b∪O_d and lineitem = L_b∪L_d (simulating a
  //   batch of new arrivals on BOTH sides), the view over the full join
  //   is rebuilt from FOUR partial aggregates — O_b⋈L_b (the standing
  //   view) plus the delta terms O_b⋈L_d, O_d⋈L_b, O_d⋈L_d — merged by a
  //   group-wise sum. Partial revenue sums stay in DECIMAL(18,6) until
  //   AFTER the merge (merging doubles would re-introduce order-dependent
  //   rounding), so the maintained view is bit-identical to the oracle's
  //   direct full-join aggregate: the PASS proves the delta algebra, not
  //   just approximate agreement. At scale only the delta joins touch new
  //   data — the standing view is a constant-size merge input.
  val q211 = Query.sql(
    "q211_incremental_join",
    (s, dir) => {
      val D = org.apache.spark.sql.types.DecimalType(18, 6)
      val o = Tables.load(s, dir, "orders").select("o_orderkey", "o_custkey")
      val l = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_returnflag"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("rev"))
      val oB = o.filter(col("o_orderkey") % 7 =!= 0)
      val oD = o.filter(col("o_orderkey") % 7 === 0)
      val lB = l.filter(col("l_orderkey") % 3 =!= 0)
      val lD = l.filter(col("l_orderkey") % 3 === 0)
      def partial(os: DataFrame, ls: DataFrame): DataFrame =
        os.join(ls, col("o_orderkey") === col("l_orderkey"))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("pc"), sum(col("rev").cast(D)).as("pr"))
      partial(oB, lB).unionAll(partial(oB, lD))
        .unionAll(partial(oD, lB)).unionAll(partial(oD, lD))
        .groupBy("l_returnflag")
        .agg(sum(col("pc")).as("n_items"),
          sum(col("pr")).cast("double").as("revenue"))
        .orderBy("l_returnflag")
    },
    """SELECT l_returnflag, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
      |    AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)

  // -- q216: fact reconciliation (header vs line-item totals) ----------------
  //   The numeric sibling of the q157 FK audit: does each order header's
  //   total agree with the recomputed sum of its lines within 1%? All
  //   comparisons run in DECIMAL (the 1% band via ×100 integer scaling —
  //   no float threshold), line sums accumulate in DECIMAL(18,6), and the
  //   corpus-level billing ratio is one division of two exactly-summed
  //   totals. One co-partitioned join + one constant-size rollup. On this
  //   synthetic corpus the audit correctly reports the generator does NOT
  //   enforce the invariant — that discovery is the op's purpose.
  val q216 = Query.sql(
    "q216_fact_reconciliation",
    (s, dir) => {
      val D = org.apache.spark.sql.types.DecimalType(18, 6)
      val ls = Tables.load(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
          (lit(1.0) + col("l_tax"))).cast(D)).as("computed"))
      Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice").cast(D).as("billed"))
        .join(ls, col("o_orderkey") === col("l_orderkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum(when(abs(col("billed") - col("computed")) * 100 <=
            col("billed"), 1L).otherwise(0L)).as("n_within_1pct"),
          sum(col("billed")).cast("double").as("total_billed"),
          sum(col("computed")).cast("double").as("total_computed"))
        .withColumn("billing_ratio",
          col("total_billed") / col("total_computed"))
    },
    """WITH ls AS (
      |  SELECT l_orderkey,
      |    SUM(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)
      |      AS DECIMAL(18,6))) AS computed
      |  FROM lineitem GROUP BY l_orderkey),
      |j AS (
      |  SELECT CAST(o_totalprice AS DECIMAL(18,6)) AS billed, computed
      |  FROM orders JOIN ls ON o_orderkey = l_orderkey)
      |SELECT COUNT(*) AS n_orders,
      |  CAST(SUM(CASE WHEN abs(billed - computed) * 100 <= billed
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_within_1pct,
      |  CAST(SUM(billed) AS DOUBLE) AS total_billed,
      |  CAST(SUM(computed) AS DOUBLE) AS total_computed,
      |  CAST(SUM(billed) AS DOUBLE) / CAST(SUM(computed) AS DOUBLE)
      |    AS billing_ratio
      |FROM j""".stripMargin)

  // -- q227: join cardinality / fanout profiler -----------------------------
  //   The "will this join explode" planning pass run BEFORE shipping a
  //   100 TB join: for each candidate join key, the exact output
  //   cardinality Σ_k n_left(k)·n_right(k), per-side max fanout, and the
  //   expansion factor vs the fact side. Per profiled join this is two
  //   key-local count rollups joined on the key — the heavy tables are
  //   never joined row-to-row, so the profile costs a pair of small
  //   aggregates even when the real join would produce 10^14 rows (the
  //   exact situation the profiler exists to catch). All counts BIGINT;
  //   the one division is exact-input IEEE on both engines.
  val q227 = Query.sql(
    "q227_join_profile",
    (s, dir) => {
      def profile(name: String, left: DataFrame, lk: String,
          right: DataFrame, rk: String): DataFrame = {
        val lc = left.groupBy(col(lk).as("k")).agg(count(lit(1)).as("lc"))
        val rc = right.groupBy(col(rk).as("k")).agg(count(lit(1)).as("rc"))
        val rightTotal = right.count()
        lc.join(rc, "k")
          .agg(
            count(lit(1)).as("matched_keys"),
            sum(col("lc") * col("rc")).as("join_rows"),
            max(col("lc")).as("max_fanout_left"),
            max(col("rc")).as("max_fanout_right"))
          .select(lit(name).as("join_name"), col("matched_keys"),
            col("join_rows"), col("max_fanout_left"),
            col("max_fanout_right"),
            (col("join_rows").cast("double") /
              lit(rightTotal).cast("double")).as("expansion"))
      }
      val cust = t(s, dir, "customer")
      val ord = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      profile("customer_orders", cust, "c_custkey", ord, "o_custkey")
        .unionByName(
          profile("orders_lineitem", ord, "o_orderkey", li, "l_orderkey"))
        .orderBy("join_name")
    },
    """WITH co AS (
      |  SELECT 'customer_orders' AS join_name,
      |    COUNT(*) AS matched_keys,
      |    CAST(SUM(lc * rc) AS BIGINT) AS join_rows,
      |    CAST(MAX(lc) AS BIGINT) AS max_fanout_left,
      |    CAST(MAX(rc) AS BIGINT) AS max_fanout_right,
      |    CAST(SUM(lc * rc) AS DOUBLE) /
      |      CAST((SELECT COUNT(*) FROM orders) AS DOUBLE) AS expansion
      |  FROM (SELECT c_custkey AS k, COUNT(*) AS lc FROM customer GROUP BY 1) l
      |  JOIN (SELECT o_custkey AS k, COUNT(*) AS rc FROM orders GROUP BY 1) r
      |    USING (k)),
      |ol AS (
      |  SELECT 'orders_lineitem' AS join_name,
      |    COUNT(*) AS matched_keys,
      |    CAST(SUM(lc * rc) AS BIGINT) AS join_rows,
      |    CAST(MAX(lc) AS BIGINT) AS max_fanout_left,
      |    CAST(MAX(rc) AS BIGINT) AS max_fanout_right,
      |    CAST(SUM(lc * rc) AS DOUBLE) /
      |      CAST((SELECT COUNT(*) FROM lineitem) AS DOUBLE) AS expansion
      |  FROM (SELECT o_orderkey AS k, COUNT(*) AS lc FROM orders GROUP BY 1) l
      |  JOIN (SELECT l_orderkey AS k, COUNT(*) AS rc FROM lineitem GROUP BY 1) r
      |    USING (k))
      |SELECT * FROM co UNION ALL SELECT * FROM ol
      |ORDER BY join_name""".stripMargin)

  // -- q238: k-anonymity audit over quasi-identifiers -----------------------
  //   Before a table (or a training corpus's metadata) is released, the
  //   re-identification surface is the equivalence-class size histogram
  //   over the quasi-identifier columns: a row in a class of size < k is
  //   k-anonymity-violating at that k. QI here = (nation, market segment,
  //   account-balance band); the report gives, per policy threshold k ∈
  //   {2,5,10,20}, how many classes and rows fall below it and the share
  //   of rows at risk. One aggregation over the table → a bounded class
  //   histogram (|QI value combinations|), then a 4× threshold cross on
  //   that histogram — the base table is scanned once, never re-joined.
  val q238 = Query.sql(
    "q238_k_anonymity",
    (s, dir) => {
      val cls = Tables.load(s, dir, "customer")
        .groupBy(col("c_nationkey").as("nat"), col("c_mktsegment").as("seg"),
          floor(col("c_acctbal") / 100).as("band"))
        .agg(count(lit(1)).as("cnt"))
      cls.crossJoin(s.sql(
          "SELECT explode(array(2L, 5L, 10L, 20L)) AS k"))
        .groupBy("k")
        .agg(count(lit(1)).as("n_classes"),
          sum(when(col("cnt") < col("k"), 1L).otherwise(0L))
            .as("risky_classes"),
          sum(when(col("cnt") < col("k"), col("cnt")).otherwise(0L))
            .as("risky_rows"),
          min(col("cnt")).as("min_class_size"),
          (sum(when(col("cnt") < col("k"), col("cnt")).otherwise(0L))
            .cast("double") / sum(col("cnt")).cast("double")).as("risk_share"))
        .orderBy("k")
    },
    """WITH cls AS (
      |  SELECT c_nationkey AS nat, c_mktsegment AS seg,
      |    FLOOR(c_acctbal / 100) AS band, COUNT(*) AS cnt
      |  FROM customer GROUP BY 1, 2, 3),
      |ks AS (SELECT UNNEST([2, 5, 10, 20]) AS k)
      |SELECT CAST(k AS BIGINT) AS k, COUNT(*) AS n_classes,
      |  CAST(SUM(CASE WHEN cnt < k THEN 1 ELSE 0 END) AS BIGINT)
      |    AS risky_classes,
      |  CAST(SUM(CASE WHEN cnt < k THEN cnt ELSE 0 END) AS BIGINT)
      |    AS risky_rows,
      |  CAST(MIN(cnt) AS BIGINT) AS min_class_size,
      |  CAST(SUM(CASE WHEN cnt < k THEN cnt ELSE 0 END) AS DOUBLE) /
      |    CAST(SUM(cnt) AS DOUBLE) AS risk_share
      |FROM cls CROSS JOIN ks GROUP BY k ORDER BY k""".stripMargin)

  // -- q322: l-diversity audit (the k-anonymity follow-up) ------------------
  //   k-anonymity (q238) bounds class SIZE; l-diversity bounds what a class
  //   LEAKS: if everyone in a quasi-identifier class shares the same
  //   sensitive value, membership alone discloses it, however large the
  //   class. Per QI class (nation, segment) count DISTINCT sensitive values
  //   (account-balance kilo-band), then cross the tiny class histogram with
  //   policy thresholds l ∈ {2,3,5}. Same scale shape as q238: ONE scan of
  //   the table into a bounded (|QI| classes) histogram — the threshold
  //   cross and the report never touch base rows again.
  val q322 = Query.sql(
    "q322_l_diversity",
    (s, dir) => {
      val cls = t(s, dir, "customer")
        .groupBy(col("c_nationkey").as("nat"), col("c_mktsegment").as("seg"))
        .agg(count(lit(1)).as("cnt"),
          countDistinct(floor(col("c_acctbal") / 1000)).as("lv"))
      cls.crossJoin(s.sql("SELECT explode(array(2L, 3L, 5L)) AS l"))
        .groupBy("l")
        .agg(count(lit(1)).as("n_classes"),
          sum(when(col("lv") < col("l"), 1L).otherwise(0L))
            .as("undiverse_classes"),
          sum(when(col("lv") < col("l"), col("cnt")).otherwise(0L))
            .as("exposed_rows"),
          min(col("lv")).as("min_diversity"))
        .orderBy("l")
    },
    """WITH cls AS (
      |  SELECT c_nationkey AS nat, c_mktsegment AS seg, COUNT(*) AS cnt,
      |    COUNT(DISTINCT FLOOR(c_acctbal / 1000)) AS lv
      |  FROM customer GROUP BY 1, 2),
      |ls AS (SELECT UNNEST([2, 3, 5]) AS l)
      |SELECT CAST(l AS BIGINT) AS l, COUNT(*) AS n_classes,
      |  CAST(SUM(CASE WHEN lv < l THEN 1 ELSE 0 END) AS BIGINT)
      |    AS undiverse_classes,
      |  CAST(SUM(CASE WHEN lv < l THEN cnt ELSE 0 END) AS BIGINT)
      |    AS exposed_rows,
      |  CAST(MIN(lv) AS BIGINT) AS min_diversity
      |FROM cls CROSS JOIN ls GROUP BY l ORDER BY l""".stripMargin)

  // -- q318: bucketed co-located join (zero-shuffle SMJ) --------------------
  //   THE shuffle-elimination tool at 100 TB: both fact tables are written
  //   bucketed (and bucket-sorted) on the join key into the catalog, so the
  //   repeated daily join needs no Exchange and no Sort on either side —
  //   Spark matches bucket spec to the join's required distribution. The
  //   one-time bucketing write costs a single shuffle; every subsequent
  //   join of the two tables is map-side. PlanSpec pins the zero-Exchange
  //   plan (with broadcast disabled, so the pin survives AQE's small-input
  //   shortcut); the oracle proves the bucketed layout returns exactly the
  //   plain join's answer.
  val q318 = Query.sql(
    "q318_bucketed_join",
    (s, dir) => {
      bucketedPair(s, dir) match { case (lt, ot) =>
        s.table(lt).join(s.table(ot), col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_items"),
            sum(col("l_extendedprice")
              .cast(org.apache.spark.sql.types.DecimalType(18, 6)))
              .cast("double").as("revenue"))
          .orderBy("o_orderpriority")
      }
    },
    """SELECT o_orderpriority, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
      |    AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)

  /** Write (once per sf-dir) lineitem + orders as 8-bucket tables on the
    * join key, external under /tmp; returns the catalog table names.
    * Idempotent across a session so PlanSpec and Verify share the layout.
    */
  def bucketedPair(s: SparkSession, dir: String): (String, String) = {
    val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val (lt, ot) = (s"graft_li_bkt_$tag", s"graft_or_bkt_$tag")
    if (!s.catalog.tableExists(lt)) {
      graft.sources.Layout.writeBucketed(
        t(s, dir, "lineitem").select("l_orderkey", "l_extendedprice"),
        lt, "l_orderkey", 8, Seq("l_orderkey"),
        Some(s"/tmp/graft_bkt_$tag/lineitem"))
      graft.sources.Layout.writeBucketed(
        t(s, dir, "orders").select("o_orderkey", "o_orderpriority"),
        ot, "o_orderkey", 8, Seq("o_orderkey"),
        Some(s"/tmp/graft_bkt_$tag/orders"))
    }
    (lt, ot)
  }

  // -- q265: small-file compaction plan (OPTIMIZE bin packing) --------------
  //   The lakehouse maintenance step: given a file inventory (simulated
  //   here as per-source "files" of ~100 docs each with their byte sizes),
  //   assign each file to an output group so groups approach a target size
  //   — Delta/Iceberg OPTIMIZE's first phase. Greedy sequential packing:
  //   group = (running size BEFORE this file) div target, which never
  //   splits a file and keeps every group except the last ≥ target once
  //   closed.
  //
  //   Plan: the inventory rollup is one (source, fid) aggregation; the
  //   packing itself is a per-source ordered cumulative (RANGE-free ROWS
  //   window over the tiny inventory, not the data), and the group rollup
  //   keys on (source, grp). Everything is BIGINT arithmetic — integer
  //   division is the floor both engines share. At 100 TB the inventory
  //   is file metadata (listings), ~10⁶ rows per 10⁹ data rows: the plan
  //   never touches payload bytes.
  val q265 = Query.sql(
    "q265_compaction_plan",
    (s, dir) => {
      val target = 200000L // bytes per output group
      val inv = t(s, dir, "documents")
        .groupBy(col("source"), expr("doc_id div 100").as("fid"))
        .agg(sum(col("n_chars")).as("sz"))
      val w = Window.partitionBy("source").orderBy("fid")
        .rowsBetween(Window.unboundedPreceding, -1)
      inv
        .withColumn("before", coalesce(sum(col("sz")).over(w), lit(0L)))
        .withColumn("grp", expr(s"before div $target"))
        .groupBy("source", "grp")
        .agg(count(lit(1)).as("n_files"), sum(col("sz")).as("bytes"),
          min(col("fid")).as("first_fid"), max(col("fid")).as("last_fid"))
        .orderBy("source", "grp")
    },
    """WITH inv AS (
      |  SELECT source, doc_id // 100 AS fid, CAST(SUM(n_chars) AS BIGINT) AS sz
      |  FROM documents GROUP BY 1, 2),
      |packed AS (
      |  SELECT source, fid, sz,
      |    COALESCE(SUM(sz) OVER (PARTITION BY source ORDER BY fid
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
      |  FROM inv)
      |SELECT source, CAST(before // 200000 AS BIGINT) AS grp, COUNT(*) AS n_files,
      |  CAST(SUM(sz) AS BIGINT) AS bytes,
      |  MIN(fid) AS first_fid, MAX(fid) AS last_fid
      |FROM packed GROUP BY source, before // 200000
      |ORDER BY source, grp""".stripMargin)

  // -- q266: zone-map pruning simulation (layout A/B for data skipping) -----
  //   Quantifies what min/max zone maps (parquet row-group stats, the
  //   engine behind q122's z-order layout) buy for point lookups under two
  //   layouts: natural insertion order vs sorted-by-column. Per layout:
  //   per-file [min, max] of n_chars; a deterministic probe set (every
  //   97th doc's n_chars) counts how many files CANNOT be skipped
  //   (min ≤ probe ≤ max). The sorted layout should collapse the average
  //   scan set to ~1 file per probe — the measured argument for paying a
  //   sort/cluster at write time.
  //
  //   Plan: two inventory aggregations; the sorted layout ranks EVERY
  //   documents row, so the rank is api.globalRowNumber (q148's
  //   repartitionByRange + per-partition offsets — no single-partition
  //   window over an SF-growing row stream); probes broadcast into a
  //   range-condition join against the TINY file inventory, never the
  //   data. Counts exact; one final division.
  val q266 = Query.sql(
    "q266_zonemap_pruning",
    (s, dir) => {
      import graft.api._
      val d = t(s, dir, "documents").select(col("doc_id"), col("n_chars"))
        .barrier() // feeds both layouts + the probe set
      val nat = d.groupBy(expr("doc_id div 100").as("fid"))
        .agg(min(col("n_chars")).as("mn"), max(col("n_chars")).as("mx"))
        .select(lit("natural").as("layout"), col("fid"), col("mn"), col("mx"))
      val srt = d.globalRowNumber("rn", col("n_chars"), col("doc_id"))
        .groupBy(expr("(rn - 1) div 100").as("fid"))
        .agg(min(col("n_chars")).as("mn"), max(col("n_chars")).as("mx"))
        .select(lit("sorted").as("layout"), col("fid"), col("mn"), col("mx"))
      val files = nat.union(srt).barrier()
      val probes = d.filter(col("doc_id") % 97 === 0)
        .select(col("n_chars").as("p")).distinct().barrier()
      val nProbes = probes.agg(count(lit(1)).as("n_probes"))
      val hits = files.join(broadcast(probes),
          col("p") >= col("mn") && col("p") <= col("mx"))
        .groupBy("layout").agg(count(lit(1)).as("total_hits"))
      files.groupBy("layout").agg(count(lit(1)).as("n_files"))
        .join(hits, "layout")
        .crossJoin(broadcast(nProbes))
        .select(col("layout"), col("n_files"), col("n_probes"),
          col("total_hits"),
          (col("total_hits").cast("double") / col("n_probes").cast("double"))
            .as("avg_files_per_probe"))
        .orderBy("layout")
    },
    """WITH d AS (SELECT doc_id, n_chars FROM documents),
      |nat AS (
      |  SELECT 'natural' AS layout, doc_id // 100 AS fid,
      |    MIN(n_chars) AS mn, MAX(n_chars) AS mx
      |  FROM d GROUP BY 1, 2),
      |srt AS (
      |  SELECT 'sorted' AS layout, (rn - 1) // 100 AS fid,
      |    MIN(n_chars) AS mn, MAX(n_chars) AS mx
      |  FROM (SELECT n_chars,
      |          row_number() OVER (ORDER BY n_chars, doc_id) AS rn
      |        FROM d)
      |  GROUP BY 1, 2),
      |files AS (SELECT * FROM nat UNION ALL SELECT * FROM srt),
      |probes AS (
      |  SELECT DISTINCT n_chars AS p FROM d WHERE doc_id % 97 = 0),
      |np AS (SELECT COUNT(*) AS n_probes FROM probes),
      |hits AS (
      |  SELECT layout, COUNT(*) AS total_hits
      |  FROM files JOIN probes ON p >= mn AND p <= mx
      |  GROUP BY layout),
      |nf AS (SELECT layout, COUNT(*) AS n_files FROM files GROUP BY layout)
      |SELECT nf.layout, n_files, n_probes, total_hits,
      |  CAST(total_hits AS DOUBLE) / CAST(n_probes AS DOUBLE)
      |    AS avg_files_per_probe
      |FROM nf JOIN hits ON nf.layout = hits.layout CROSS JOIN np
      |ORDER BY nf.layout""".stripMargin)

  // -- q286: join-cardinality estimation audit ------------------------------
  //   The cost-model check a planner (or a capacity review) runs before a
  //   big join: for each candidate equi-join, the TRUE output cardinality
  //   Σ_k cA(k)·cB(k) from the two key histograms, against the textbook
  //   uniform estimate |A|·|B| / max(ndv_A, ndv_B) (System-R / Selinger).
  //   The ratio tells you exactly how much key skew breaks the uniform
  //   assumption — the number that justifies AQE skew handling.
  //
  //   Exactness: everything is BIGINT arithmetic; the estimate keeps its
  //   div floor and the ratio is one final double division. Plan: per
  //   join, two map-side-combined key histograms joined on the key
  //   (inner — keys absent from either side contribute 0), aggregated to
  //   one row; the audited tables are scanned once each.
  val q286 = Query.sql(
    "q286_join_cardinality",
    (s, dir) => {
      def audit(name: String, a: DataFrame, b: DataFrame): DataFrame = {
        val ca = a.groupBy("k").agg(count(lit(1)).as("ca"))
        val cb = b.groupBy("k").agg(count(lit(1)).as("cb"))
        val sa = ca.agg(sum(col("ca")).as("na"), count(lit(1)).as("da"))
        val sb = cb.agg(sum(col("cb")).as("nb"), count(lit(1)).as("db"))
        ca.join(cb, "k")
          .agg(sum(col("ca") * col("cb")).as("actual"))
          .crossJoin(broadcast(sa)).crossJoin(broadcast(sb))
          .select(lit(name).as("join_name"), col("actual"),
            expr("na * nb div greatest(da, db)").as("est_uniform"),
            expr("CAST(actual AS DOUBLE) /" +
              " CAST(na * nb div greatest(da, db) AS DOUBLE)").as("skew_ratio"))
      }
      val orders = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      val cust = t(s, dir, "customer")
      audit("orders_lineitem",
          orders.select(col("o_orderkey").as("k")),
          li.select(col("l_orderkey").as("k")))
        .union(audit("customer_orders",
          cust.select(col("c_custkey").as("k")),
          orders.select(col("o_custkey").as("k"))))
        .union(audit("part_lineitem",
          t(s, dir, "part").select(col("p_partkey").as("k")),
          li.select(col("l_partkey").as("k"))))
        .orderBy("join_name")
    },
    """WITH
      |ol AS (
      |  SELECT 'orders_lineitem' AS join_name,
      |    (SELECT CAST(SUM(ca * cb) AS BIGINT) FROM
      |      (SELECT o_orderkey AS k, COUNT(*) AS ca FROM orders GROUP BY 1) a
      |      JOIN (SELECT l_orderkey AS k, COUNT(*) AS cb FROM lineitem
      |            GROUP BY 1) b USING (k)) AS actual,
      |    (SELECT COUNT(*) FROM orders) * (SELECT COUNT(*) FROM lineitem)
      |      // GREATEST((SELECT COUNT(DISTINCT o_orderkey) FROM orders),
      |                  (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem))
      |      AS est_uniform),
      |co AS (
      |  SELECT 'customer_orders' AS join_name,
      |    (SELECT CAST(SUM(ca * cb) AS BIGINT) FROM
      |      (SELECT c_custkey AS k, COUNT(*) AS ca FROM customer GROUP BY 1) a
      |      JOIN (SELECT o_custkey AS k, COUNT(*) AS cb FROM orders
      |            GROUP BY 1) b USING (k)) AS actual,
      |    (SELECT COUNT(*) FROM customer) * (SELECT COUNT(*) FROM orders)
      |      // GREATEST((SELECT COUNT(DISTINCT c_custkey) FROM customer),
      |                  (SELECT COUNT(DISTINCT o_custkey) FROM orders))
      |      AS est_uniform),
      |pl AS (
      |  SELECT 'part_lineitem' AS join_name,
      |    (SELECT CAST(SUM(ca * cb) AS BIGINT) FROM
      |      (SELECT p_partkey AS k, COUNT(*) AS ca FROM part GROUP BY 1) a
      |      JOIN (SELECT l_partkey AS k, COUNT(*) AS cb FROM lineitem
      |            GROUP BY 1) b USING (k)) AS actual,
      |    (SELECT COUNT(*) FROM part) * (SELECT COUNT(*) FROM lineitem)
      |      // GREATEST((SELECT COUNT(DISTINCT p_partkey) FROM part),
      |                  (SELECT COUNT(DISTINCT l_partkey) FROM lineitem))
      |      AS est_uniform),
      |u AS (SELECT * FROM ol UNION ALL SELECT * FROM co
      |      UNION ALL SELECT * FROM pl)
      |SELECT join_name, actual, CAST(est_uniform AS BIGINT) AS est_uniform,
      |  CAST(actual AS DOUBLE) / CAST(est_uniform AS DOUBLE) AS skew_ratio
      |FROM u ORDER BY join_name""".stripMargin)

  // -- q290: near-zero-variance / degenerate feature audit ------------------
  //   The feature-pruning pass every training pipeline runs first: per
  //   numeric column — distinct count, exact-moment variance, the top
  //   value's share — and the prune flags (constant, low-cardinality,
  //   dominant ≥ 95%). Flags are integer cross-multiplications (20·maxc ≥
  //   19·n — no float at the boundary); variance comes from q27's
  //   decimal-exact raw moments with the closed form evaluated once in
  //   double.
  //
  //   Plan: ONE unpivot scan of the fact table (4 rows out per input
  //   row), a (feature, value) rollup, a 4-row feature rollup. At 100 TB
  //   the histogram shuffle carries distinct values only.
  val q290 = Query.sql(
    "q290_feature_pruning",
    (s, dir) => {
      // DECIMAL(28,4), not (18,6): v² for l_extendedprice is ~1.1e10, so a
      // distinct-value count above ~90 would overflow 12 integer digits —
      // NULL under Spark's non-ANSI overflow, an error under DuckDB. 24
      // integer digits cover 100 TB counts; prices/rates have ≤ 2 decimal
      // places so 4 fractional digits keep v·c and v²·c exact.
      val D = org.apache.spark.sql.types.DecimalType(28, 4)
      val hist = t(s, dir, "lineitem")
        .select(col("l_quantity"), col("l_extendedprice"), col("l_discount"),
          col("l_tax"))
        .unpivot(Array.empty[org.apache.spark.sql.Column],
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"),
            col("l_tax")),
          "feature", "v")
        .groupBy("feature", "v").agg(count(lit(1)).as("c"))
      hist.groupBy("feature")
        .agg(sum(col("c")).as("n"), count(lit(1)).as("nd"),
          max(col("c")).as("maxc"),
          sum((col("v") * col("c")).cast(D)).cast("double").as("sx"),
          sum((col("v") * col("v") * col("c")).cast(D)).cast("double").as("sxx"))
        .select(col("feature"), col("n"), col("nd").as("n_distinct"),
          (col("maxc").cast("double") / col("n").cast("double"))
            .as("top_share"),
          expr("(CAST(n AS DOUBLE) * sxx - sx * sx) /" +
            " (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))").as("variance"),
          (col("nd") === 1).as("flag_constant"),
          (col("nd") <= 10).as("flag_low_card"),
          (col("maxc") * 20 >= col("n") * 19).as("flag_dominant"))
        .orderBy("feature")
    },
    """WITH long AS (
      |  SELECT 'l_quantity' AS feature, l_quantity AS v FROM lineitem
      |  UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
      |  UNION ALL SELECT 'l_discount', l_discount FROM lineitem
      |  UNION ALL SELECT 'l_tax', l_tax FROM lineitem),
      |hist AS (
      |  SELECT feature, v, COUNT(*) AS c FROM long GROUP BY 1, 2),
      |agg AS (
      |  SELECT feature, CAST(SUM(c) AS BIGINT) AS n, COUNT(*) AS nd,
      |    MAX(c) AS maxc,
      |    CAST(SUM(CAST(v * c AS DECIMAL(28,4))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(v * v * c AS DECIMAL(28,4))) AS DOUBLE) AS sxx
      |  FROM hist GROUP BY 1)
      |SELECT feature, n, nd AS n_distinct,
      |  CAST(maxc AS DOUBLE) / CAST(n AS DOUBLE) AS top_share,
      |  (CAST(n AS DOUBLE) * sxx - sx * sx) /
      |    (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS variance,
      |  nd = 1 AS flag_constant,
      |  nd <= 10 AS flag_low_card,
      |  maxc * 20 >= n * 19 AS flag_dominant
      |FROM agg ORDER BY feature""".stripMargin)

  // -- q295: dictionary-compression estimate (storage planning) -------------
  //   Per string column: cardinality, total bytes plain, and the
  //   dictionary-encoded projection (distinct bytes + 4-byte codes) with
  //   the resulting ratio — the parquet-encoding sizing study that decides
  //   whether a column benefits from dict encoding (low cardinality →
  //   huge wins) before a 100 TB rewrite. One unpivot scan per table; the
  //   per-(column, value) histogram shuffle carries distinct values only.
  val q295 = Query.sql(
    "q295_dict_compression",
    (s, dir) => {
      val hist = t(s, dir, "orders")
        .select(col("o_orderstatus"), col("o_orderpriority"))
        .unpivot(Array.empty[org.apache.spark.sql.Column],
          Array(col("o_orderstatus"), col("o_orderpriority")),
          "column_name", "v")
        .union(t(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_linestatus"))
          .unpivot(Array.empty[org.apache.spark.sql.Column],
            Array(col("l_returnflag"), col("l_linestatus")),
            "column_name", "v"))
        .groupBy("column_name", "v").agg(count(lit(1)).as("c"))
      hist.groupBy("column_name")
        .agg(sum(col("c")).as("n_rows"),
          count(lit(1)).as("cardinality"),
          sum(length(col("v")) * col("c")).as("plain_bytes"),
          sum(length(col("v"))).as("dict_bytes"))
        .select(col("column_name"), col("n_rows"), col("cardinality"),
          col("plain_bytes"),
          (col("dict_bytes") + col("n_rows") * 4).as("encoded_bytes"),
          (col("plain_bytes").cast("double") /
            (col("dict_bytes") + col("n_rows") * 4).cast("double"))
            .as("compression_ratio"))
        .orderBy("column_name")
    },
    """WITH long AS (
      |  SELECT 'o_orderstatus' AS column_name, o_orderstatus AS v FROM orders
      |  UNION ALL SELECT 'o_orderpriority', o_orderpriority FROM orders
      |  UNION ALL SELECT 'l_returnflag', l_returnflag FROM lineitem
      |  UNION ALL SELECT 'l_linestatus', l_linestatus FROM lineitem),
      |hist AS (
      |  SELECT column_name, v, COUNT(*) AS c FROM long GROUP BY 1, 2),
      |agg AS (
      |  SELECT column_name, CAST(SUM(c) AS BIGINT) AS n_rows,
      |    COUNT(*) AS cardinality,
      |    CAST(SUM(length(v) * c) AS BIGINT) AS plain_bytes,
      |    CAST(SUM(length(v)) AS BIGINT) AS dict_bytes
      |  FROM hist GROUP BY 1)
      |SELECT column_name, n_rows, cardinality, plain_bytes,
      |  dict_bytes + n_rows * 4 AS encoded_bytes,
      |  CAST(plain_bytes AS DOUBLE) /
      |    CAST(dict_bytes + n_rows * 4 AS DOUBLE) AS compression_ratio
      |FROM agg ORDER BY column_name""".stripMargin)

  val all: Seq[Query] =
    Seq(q100, q101, q103, q104, q105, q122, q127, q141, q149, q154, q157,
      q173, q211, q216, q227, q238, q265, q266, q286, q290, q295, q318,
      q322)
}
