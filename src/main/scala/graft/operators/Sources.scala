package graft.operators

import graft.{Query, Tables}
import graft.sources.{ConnectorRegistry, ParquetStage}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Source/sink connector coverage, verified as ROUND-TRIPS: a table is
  * written through the connector under test, read back through it, and
  * aggregated — the DuckDB oracle computes the same aggregate from the
  * original parquet, so a pass proves the format preserved the data
  * byte-for-byte (doubles round-trip via shortest-repr text, so even CSV
  * is lossless).
  */
object Sources {

  private val D = DecimalType(18, 6)
  private def tmp(dir: String, name: String): String = {
    val base = s"/tmp/graft_rt_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    s"$base/$name"
  }

  // -- q80: CSV write → read (header + explicit schema) ---------------------
  val q80 = Query.sql(
    "q80_csv_roundtrip",
    (s, dir) => {
      val out = tmp(dir, "nation_csv")
      ConnectorRegistry.write(Tables.load(s, dir, "nation"), s"csv://$out")
      ConnectorRegistry.read(s,
          s"csv://$out;schema=n_nationkey INT, n_name STRING, n_regionkey INT")
        .orderBy("n_nationkey")
    },
    "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey")

  // -- q81: TSV write → read → aggregate (doubles survive text) -------------
  val q81 = Query.sql(
    "q81_tsv_roundtrip",
    (s, dir) => {
      val out = tmp(dir, "part_tsv")
      ConnectorRegistry.write(Tables.load(s, dir, "part"), s"tsv://$out")
      ConnectorRegistry.read(s,
          s"tsv://$out;schema=p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, p_size INT, p_retailprice DOUBLE")
        .groupBy("p_type")
        .agg(count(lit(1)).as("n"),
          sum(col("p_retailprice").cast(D)).cast("double").as("total_price"))
        .orderBy("p_type")
    },
    """SELECT p_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(p_retailprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price
      |FROM part GROUP BY p_type ORDER BY p_type""".stripMargin)

  // -- q82: NDJSON write → read → aggregate ---------------------------------
  val q82 = Query.sql(
    "q82_ndjson_roundtrip",
    (s, dir) => {
      val out = tmp(dir, "customer_ndjson")
      ConnectorRegistry.write(Tables.load(s, dir, "customer"), s"ndjson://$out")
      ConnectorRegistry.read(s,
          s"ndjson://$out;schema=c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, c_mktsegment STRING")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          sum(col("c_acctbal").cast(D)).cast("double").as("total_bal"))
        .orderBy("c_mktsegment")
    },
    """SELECT c_mktsegment, COUNT(*) AS n,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS total_bal
      |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)

  // -- q83: raw text ("uncooked") write → read ------------------------------
  val q83 = Query.sql(
    "q83_text_roundtrip",
    (s, dir) => {
      val out = tmp(dir, "documents_text")
      ConnectorRegistry.write(
        Tables.load(s, dir, "documents").select("text"), s"text://$out")
      ConnectorRegistry.read(s, s"text://$out")
        .agg(count(lit(1)).as("n_lines"),
          sum(length(col("value"))).as("total_chars"))
    },
    """SELECT COUNT(*) AS n_lines, CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars
      |FROM documents""".stripMargin)

  // -- q84: partitioned parquet fan-out → partition-discovering read --------
  //   The write side is the reference's per-key fan-out
  //   (`manifest_mapper.py:29-30,56`); the read side demonstrates partition
  //   discovery + pruning over the k=v directory layout.
  val q84 = Query.sql(
    "q84_partitioned_fanout",
    (s, dir) => {
      val out = tmp(dir, "orders_by_status")
      ConnectorRegistry.write(Tables.load(s, dir, "orders"),
        s"parquet://$out;partitionBy=o_orderstatus")
      ConnectorRegistry.read(s, s"parquet://$out")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(D)).cast("double").as("total"))
        .orderBy("o_orderstatus")
    },
    """SELECT o_orderstatus, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)

  // -- q85: whole-doc JSON connector round-trip -----------------------------
  val q85 = Query.sql(
    "q85_jsondoc_roundtrip",
    (s, dir) => {
      val out = tmp(dir, "region_json")
      ConnectorRegistry.write(Tables.load(s, dir, "region"), s"json://$out")
      ConnectorRegistry.read(s, s"json://$out")
        .select(col("r_regionkey").cast("int").as("r_regionkey"), col("r_name"))
        .orderBy("r_regionkey")
    },
    "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey")

  // -- q86: gzip-compressed CSV round-trip ----------------------------------
  //   The reference's `gz+csv://` engine-type modifier; Hadoop FS handles
  //   the codec transparently on read, so the modifier is purely a path
  //   concern (SURVEY §2.1).
  val q86 = Query.sql(
    "q86_gz_roundtrip",
    (s, dir) => {
      val out = tmp(dir, "supplier_gz")
      Tables.load(s, dir, "supplier").write.mode("overwrite")
        .option("header", "true").option("compression", "gzip").csv(out)
      ConnectorRegistry.read(s,
          s"gz+csv://$out;schema=s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE")
        .orderBy("s_suppkey")
    },
    """SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier
      |ORDER BY s_suppkey""".stripMargin)

  // -- q89: ORC write → read → aggregate ------------------------------------
  //   Timestamps survive ORC round-trips bit-exactly, so o_orderdate is
  //   carried through and surfaced as DATE like every other query.
  val q89 = Query.sql(
    "q89_orc_roundtrip",
    (s, dir) => {
      val out = tmp(dir, "orders_orc")
      ConnectorRegistry.write(Tables.load(s, dir, "orders"), s"orc://$out")
      ConnectorRegistry.read(s, s"orc://$out")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(D)).cast("double").as("total_price"),
          max(col("o_orderdate").cast("date")).as("last_date"))
        .orderBy("o_orderpriority")
    },
    """SELECT o_orderpriority, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price,
      |  MAX(CAST(o_orderdate AS DATE)) AS last_date
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)

  // -- q112: JDBC round-trip against embedded Derby --------------------------
  //   The reference's SqlAlchemyDatabaseConnector path run LIVE
  //   (`sqlalchemy_database.py:181-276`: create table, add rows, commit):
  //   df.write.jdbc creates the table and batch-inserts one batch per Spark
  //   partition; the read back is a partitionColumn parallel scan — 4
  //   concurrent connections splitting on c_custkey, exactly how a
  //   production warehouse extract fans out. `;createTypes=` overrides
  //   Derby's default STRING→CLOB mapping (CLOB forbids `=`/GROUP BY in
  //   pushed-down SQL).
  val q112 = Query.sql(
    "q112_jdbc_roundtrip",
    (s, dir) => {
      val db = tmp(dir, "derby_customer")
      ConnectorRegistry.write(Tables.load(s, dir, "customer"),
        s"derby://$db;create=true;dbtable=customer_rt;" +
          "createTypes=c_name VARCHAR(64)|c_mktsegment VARCHAR(32)")
      ConnectorRegistry.read(s,
          s"derby://$db;dbtable=customer_rt;partitionColumn=c_custkey;" +
            "lowerBound=0;upperBound=200000;numPartitions=4")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          sum(col("c_acctbal").cast(D)).cast("double").as("total_bal"),
          max(col("c_custkey")).as("max_key"))
        .orderBy("c_mktsegment")
    },
    """SELECT c_mktsegment, COUNT(*) AS n,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS total_bal,
      |  MAX(c_custkey) AS max_key
      |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)

  // -- q158: schema-evolution read (mergeSchema across batches) -------------
  //   The ingest reality a long-lived dataset hits: yesterday's files have
  //   (key, name), today's add (key, acctbal). One `mergeSchema` read
  //   unifies the parts — columns absent in a file surface as NULL, no
  //   rewrite of old data. The aggregate pins the merged shape (row
  //   conservation + per-column presence + an exact decimal sum through
  //   the evolved column); the oracle recomputes the expectation from the
  //   ORIGINAL table, so the write→evolve→read cycle must be lossless.
  //   Scale note: mergeSchema unions footers only (one pass over file
  //   metadata, not data); at 100 TB pin the unified schema explicitly
  //   and keep per-file pruning.
  val q158 = Query.sql(
    "q158_schema_merge",
    (s, dir) => {
      val out = tmp(dir, "cust_evolved")
      val c = Tables.load(s, dir, "customer")
      c.filter(pmod(col("c_custkey"), lit(2)) === 0)
        .select("c_custkey", "c_name")
        .write.mode("overwrite").parquet(s"$out/batch=1")
      c.filter(pmod(col("c_custkey"), lit(2)) === 1)
        .select("c_custkey", "c_acctbal")
        .write.mode("overwrite").parquet(s"$out/batch=2")
      ParquetStage.read(s, out, mergeSchema = true)
        .agg(count(lit(1)).as("n"),
          count(col("c_name")).as("with_name"),
          count(col("c_acctbal")).as("with_bal"),
          sum(col("c_acctbal").cast(D)).cast("double").as("bal_sum"))
    },
    """SELECT COUNT(*) AS n,
      |  CAST(SUM(CASE WHEN c_custkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS with_name,
      |  CAST(SUM(CASE WHEN c_custkey % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS with_bal,
      |  CAST(SUM(CASE WHEN c_custkey % 2 = 1
      |    THEN CAST(c_acctbal AS DECIMAL(18,6)) END) AS DOUBLE) AS bal_sum
      |FROM customer""".stripMargin)

  // -- q169: malformed-record quarantine (dead-letter isolation) ------------
  //   The ingest-hardening op: an NDJSON feed with deterministically
  //   corrupted lines (every 13th record truncated — always invalid,
  //   since an object losing its closing brace can't parse) is read with
  //   from_json; parse failures surface as null structs and are counted
  //   into the quarantine while valid rows flow on, with an id checksum
  //   proving no valid record was lost or duplicated. The oracle
  //   recomputes the expectation from the ORIGINAL table — the write→
  //   corrupt→read→triage cycle must account for every line. Map-side
  //   end to end (one text scan, no shuffle before the 1-row aggregate).
  val q169 = Query.sql(
    "q169_quarantine",
    (s, dir) => {
      val out = tmp(dir, "docs_ndjson_corrupt")
      val d = Tables.load(s, dir, "documents").filter(col("doc_id") < 4000)
      d.select(
          when(pmod(col("doc_id"), lit(13)) === 0,
            expr("substring(to_json(struct(doc_id, lang, n_chars)), 1, " +
              "length(to_json(struct(doc_id, lang, n_chars))) - 5)"))
            .otherwise(expr("to_json(struct(doc_id, lang, n_chars))"))
            .as("value"))
        .coalesce(1).write.mode("overwrite").text(out)
      s.read.text(out)
        .select(from_json(col("value"), org.apache.spark.sql.types.StructType
          .fromDDL("doc_id BIGINT, lang STRING, n_chars BIGINT")).as("r"))
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("r.doc_id").isNotNull, 1L).otherwise(0L)).as("n_valid"),
          sum(when(col("r.doc_id").isNull, 1L).otherwise(0L))
            .as("n_quarantined"),
          sum(coalesce(col("r.doc_id"), lit(0L))).as("sum_valid_ids"))
    },
    """SELECT COUNT(*) AS n_total,
      |  CAST(SUM(CASE WHEN doc_id % 13 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_valid,
      |  CAST(SUM(CASE WHEN doc_id % 13 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_quarantined,
      |  CAST(SUM(CASE WHEN doc_id % 13 <> 0 THEN doc_id ELSE 0 END)
      |    AS BIGINT) AS sum_valid_ids
      |FROM documents WHERE doc_id < 4000""".stripMargin)

  // -- q316: CSV positional row-range ;start=;end= ---------------------------
  //   The reference DECLARES `;start=n;end=n` on CsvConnector but never
  //   implements it (`csv_connector.py:23,99-104`); here it works: a
  //   single-file ordered write, then a ranged read of data rows [5, 15).
  //   Scale shape: positional ranges require one file (enforced with a loud
  //   error for globs — partition order across files is not a row order);
  //   within the file the range filter is distributed and map-only, with
  //   only per-partition line COUNTS on the driver.
  val q316 = Query.sql(
    "q316_csv_rowrange",
    (s, dir) => {
      val out = tmp(dir, "customer_rowrange_csv")
      ConnectorRegistry.write(
        Tables.load(s, dir, "customer")
          .select("c_custkey", "c_name", "c_nationkey")
          .orderBy("c_custkey").coalesce(1),
        s"csv://$out")
      ConnectorRegistry.read(s,
          s"csv://$out/*.csv;start=5;end=15;schema=c_custkey BIGINT, c_name STRING, c_nationkey INT")
        .orderBy("c_custkey")
    },
    """SELECT c_custkey, c_name, c_nationkey FROM customer
      |ORDER BY c_custkey LIMIT 10 OFFSET 5""".stripMargin)

  // -- q317: CSV write-side option passthrough -------------------------------
  //   `;sep=` / `;header=` honored on WRITE as on read (the reference's
  //   write path honors its constructor options, `csv_connector.py:231-270`);
  //   round-trip through a headerless pipe-separated file proves the writer
  //   actually used them (a comma-written file would fail the pipe parse).
  val q317 = Query.sql(
    "q317_csv_write_options",
    (s, dir) => {
      val out = tmp(dir, "supplier_pipe_csv")
      ConnectorRegistry.write(
        Tables.load(s, dir, "supplier").select("s_suppkey", "s_name", "s_acctbal"),
        s"csv://$out;sep=|;header=false")
      ConnectorRegistry.read(s,
          s"csv://$out;sep=|;header=false;schema=s_suppkey BIGINT, s_name STRING, s_acctbal DOUBLE")
        .orderBy("s_suppkey")
    },
    "SELECT s_suppkey, s_name, s_acctbal FROM supplier ORDER BY s_suppkey")

  val all: Seq[Query] =
    Seq(q80, q81, q82, q83, q84, q85, q86, q89, q112, q158, q169, q316, q317)
}
