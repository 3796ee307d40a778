package graft.operators

import graft.{Query, Tables}
import graft.sources.ParquetStage
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window-function completeness beyond q11/q12/q25: rank family, ntile,
  * cumulative distribution, RANGE frames, and ordered-set collections.
  */
object Windows {

  // -- w01: rank family ------------------------------------------------------
  val w01 = Query.sql(
    "w01_rank_family",
    (s, dir) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      Tables.load(s, dir, "orders")
        .filter(col("o_orderkey") <= 2000)
        .select(
          col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
          dense_rank().over(w).cast("long").as("drk"),
          percent_rank().over(w).as("prk"),
          cume_dist().over(w).as("cd"),
          ntile(4).over(w).cast("long").as("quartile"))
        .orderBy("o_orderpriority", "o_orderkey")
    },
    """SELECT o_orderpriority, o_orderkey, o_totalprice,
      |  dense_rank() OVER w AS drk,
      |  percent_rank() OVER w AS prk,
      |  cume_dist() OVER w AS cd,
      |  ntile(4) OVER w AS quartile
      |FROM orders WHERE o_orderkey <= 2000
      |WINDOW w AS (PARTITION BY o_orderpriority
      |  ORDER BY o_totalprice DESC, o_orderkey ASC)
      |ORDER BY o_orderpriority, o_orderkey""".stripMargin)

  // -- w02: RANGE frame over integer day offsets ----------------------------
  //   Count each customer's orders in the 30 days up to and including each
  //   order (event-time sliding window as a RANGE frame).
  val w02 = Query.sql(
    "w02_range_frame",
    (s, dir) => {
      val base = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          datediff(col("o_orderdate").cast("date"), lit("1995-01-01").cast("date"))
            .as("day_no"))
      val w = Window.partitionBy("o_custkey").orderBy(col("day_no"))
        .rangeBetween(-30, Window.currentRow)
      base.select(col("o_orderkey"), col("o_custkey"), col("day_no"),
          count(lit(1)).over(w).as("orders_30d"))
        .orderBy("o_custkey", "day_no", "o_orderkey")
    },
    """SELECT o_orderkey, o_custkey, day_no,
      |  COUNT(*) OVER (PARTITION BY o_custkey ORDER BY day_no
      |    RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS orders_30d
      |FROM (SELECT o_orderkey, o_custkey,
      |        CAST(CAST(o_orderdate AS DATE) - DATE '1995-01-01' AS INTEGER)
      |          AS day_no
      |      FROM orders)
      |ORDER BY o_custkey, day_no, o_orderkey""".stripMargin)

  // -- w03: ordered set collection per group --------------------------------
  val w03 = Query.sql(
    "w03_collect_set",
    (s, dir) =>
      Tables.load(s, dir, "events")
        .groupBy("user_id")
        .agg(concat_ws(",", sort_array(collect_set(col("event_type")))).as("types"),
          countDistinct(col("event_type")).as("n_types"))
        .orderBy("user_id"),
    // `types` is joined to one string: the driver's compare sorts rows via
    // pandas, which cannot hash a list-typed cell.
    """SELECT user_id,
      |  array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types,
      |  COUNT(DISTINCT event_type) AS n_types
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)

  // -- w04: argmin/argmax with deterministic ties ---------------------------
  //   min_by/arg_min pick an arbitrary row on ties (2-decimal values tie
  //   often); lexicographic (value, event_id) makes the argmin unique, as
  //   a struct-min in Spark and a windowed first-row in the oracle.
  val w04 = Query.sql(
    "w04_arg_minmax",
    (s, dir) =>
      Tables.load(s, dir, "events")
        .groupBy("user_id")
        .agg(
          min(struct(col("value"), col("event_id"))).as("lo"),
          max(struct(col("value"), col("event_id"))).as("hi"))
        .select(
          col("user_id"),
          col("lo.event_id").as("cheapest_event"),
          col("hi.event_id").as("priciest_event"),
          col("lo.value").as("min_value"),
          col("hi.value").as("max_value"))
        .orderBy("user_id"),
    """WITH r AS (
      |  SELECT user_id, event_id, value,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY value ASC, event_id ASC) AS rn_min,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY value DESC, event_id DESC) AS rn_max
      |  FROM events)
      |SELECT user_id,
      |  MAX(CASE WHEN rn_min = 1 THEN event_id END) AS cheapest_event,
      |  MAX(CASE WHEN rn_max = 1 THEN event_id END) AS priciest_event,
      |  MIN(value) AS min_value, MAX(value) AS max_value
      |FROM r GROUP BY user_id ORDER BY user_id""".stripMargin)

  // -- w05: glob fan-in with per-file identity ------------------------------
  //   The MultiConnector pattern: homogeneous files read via glob, source
  //   file kept as a column (reference keeps per-url identity in
  //   MultiConnector; Spark's input_file_name does the same). Oracle
  //   recomputes the per-segment counts from the original table.
  val w05 = Query.sql(
    "w05_glob_identity",
    (s, dir) => {
      val out = s"/tmp/graft_rt_${dir.replaceAll("[^a-zA-Z0-9]", "_")}/cust_split"
      val c = Tables.load(s, dir, "customer")
      c.coalesce(1).write.mode("overwrite").partitionBy("c_mktsegment").parquet(out)
      ParquetStage.read(s, s"$out/*")
        .withColumn("src_file", input_file_name())
        // partition dir name carries the segment: .../c_mktsegment=X/part-...
        .withColumn("segment",
          regexp_extract(col("src_file"), "c_mktsegment=([^/]+)", 1))
        .groupBy("segment")
        .agg(count(lit(1)).as("n"), countDistinct(col("src_file")).as("n_files"))
        .orderBy("segment")
    },
    """SELECT c_mktsegment AS segment, COUNT(*) AS n,
      |  CAST(1 AS BIGINT) AS n_files
      |FROM customer GROUP BY c_mktsegment ORDER BY segment""".stripMargin)

  // -- q202: full rank-function family parity --------------------------------
  //   rank / dense_rank / percent_rank / cume_dist / ntile in one plan —
  //   the remaining window functions the earlier window queries (q11, q12,
  //   w01) didn't pin against the oracle. percent_rank and cume_dist are
  //   exact small-integer rationals ((r−1)/(n−1), rows≤/n) so the doubles
  //   are IEEE-identical; ties are broken by o_orderkey to keep ntile's
  //   bucket boundaries deterministic. The post-rank modulo filter keeps
  //   the pinned surface small without changing any rank value.
  val q202 = Query.sql(
    "q202_rank_family",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
        .withColumn("rnk", rank().over(w).cast("long"))
        .withColumn("drnk", dense_rank().over(w).cast("long"))
        .withColumn("prank", percent_rank().over(w))
        .withColumn("cdist", cume_dist().over(w))
        .withColumn("quartile", ntile(4).over(w).cast("long"))
        .filter(col("o_orderkey") % 100 === 0)
        .orderBy("o_orderpriority", "rnk")
    },
    """SELECT o_orderkey, o_orderpriority, o_totalprice,
      |  rank() OVER w AS rnk, dense_rank() OVER w AS drnk,
      |  percent_rank() OVER w AS prank, cume_dist() OVER w AS cdist,
      |  ntile(4) OVER w AS quartile
      |FROM orders
      |WINDOW w AS (PARTITION BY o_orderpriority
      |  ORDER BY o_totalprice DESC, o_orderkey ASC)
      |QUALIFY o_orderkey % 100 = 0
      |ORDER BY o_orderpriority, rnk""".stripMargin)

  val all: Seq[Query] = Seq(w01, w02, w03, w04, w05, q202)
}
