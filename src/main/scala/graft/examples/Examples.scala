package graft.examples

import graft.model._
import graft.sources.ParquetStage
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Ports of the reference's example models onto the graft framework —
  * the "switching user" demonstration: same model shape (declarative
  * dataset bindings + lifecycle checks + build), with the hand-written
  * row loops replaced by declarative plans.
  */

/** Group animals by country (reference `examples/poisonous_animals.py`:
  * reads a JSON doc of {name, where} records, groups names per country).
  * The Python version iterates rows into a defaultdict; here it's a
  * groupBy + collect_list, and the output is a dataset, not log lines.
  */
class PoisonousAnimals(inUrl: String, outUrl: String) extends Model {
  override def name = "PoisonousAnimals"
  val connects = Map(
    "animals" -> Connect(inUrl, AccessMode.Read),
    "by_country" -> Connect(outUrl, AccessMode.ReadWrite))

  override def preBuildCheck(s: SparkSession, io: ModelIo): Boolean =
    Checks.nonEmpty(io.read("animals"), "animals")

  def build(s: SparkSession, io: ModelIo): Unit = {
    val animals = io.read("animals")
    stat(s, "animals_in").add(animals.count())
    io.write("by_country",
      animals.groupBy("where")
        .agg(sort_array(collect_list(col("name"))).as("animals"))
        .orderBy("where"))
  }

  override def postBuildCheck(s: SparkSession, io: ModelIo): Boolean =
    Checks.nonEmpty(io.readBack("by_country"), "by_country") &&
      Checks.unique(io.readBack("by_country"), Seq("where"))
}

/** Days-per-colour-per-month (reference `examples/favourite_colours.py`:
  * CSV of {person, colour, start, end} date ranges, hand-looped into
  * per-month day counts, with a pre-check that all dates fall in one year
  * and a post-check that total days are conserved). Here the month loop is
  * `explode(sequence(start, end, 1 day))` and the checks are declarative.
  */
class FavouriteColours(inUrl: String, outUrl: String) extends Model {
  override def name = "FavouriteColours"
  val connects = Map(
    "ranges" -> Connect(inUrl, AccessMode.Read),
    "days_per_month" -> Connect(outUrl, AccessMode.ReadWrite))

  private def parsed(io: ModelIo): DataFrame =
    io.read("ranges").select(
      col("person"), col("colour"),
      to_date(col("start"), "yyyy-MM-dd").as("start"),
      to_date(col("end"), "yyyy-MM-dd").as("end"))

  /** All ranges inside a single year (reference pre_build_check). */
  override def preBuildCheck(s: SparkSession, io: ModelIo): Boolean = {
    val years = parsed(io)
      .select(year(col("start")).as("y")).union(parsed(io).select(year(col("end"))))
      .distinct().count()
    years == 1 || { throw Checks.CheckFailure(s"expected one year, got $years") }
  }

  def build(s: SparkSession, io: ModelIo): Unit =
    io.write("days_per_month",
      parsed(io)
        .select(col("colour"),
          explode(sequence(col("start"), col("end"), expr("interval 1 day"))).as("day"))
        .groupBy(col("colour"), trunc(col("day"), "month").as("month"))
        .agg(count(lit(1)).as("days"))
        .orderBy("colour", "month"))

  /** Conservation: output day counts must sum to total days in the input
    * ranges (reference post_build_check).
    */
  override def postBuildCheck(s: SparkSession, io: ModelIo): Boolean =
    Checks.conserved(
      parsed(io), io.readBack("days_per_month"),
      sum(datediff(col("end"), col("start")) + 1).cast("long"),
      sum(col("days")).cast("long"))
}

/** Two-stage pipeline: clean documents, then aggregate per language —
  * exercises ModelGraph staging over real datasets (stage 2 reads what
  * stage 1 writes).
  */
class CleanDocuments(inUrl: String, outUrl: String) extends Model {
  override def name = "CleanDocuments"
  val connects = Map(
    "raw" -> Connect(inUrl, AccessMode.Read),
    "clean" -> Connect(outUrl, AccessMode.Write))
  def build(s: SparkSession, io: ModelIo): Unit =
    io.write("clean",
      io.read("raw")
        .filter(col("n_chars") >= 100)
        .withColumn("n_tokens", size(split(col("text"), " "))))
}

class LangSummary(inUrl: String, outUrl: String) extends Model {
  override def name = "LangSummary"
  val connects = Map(
    "clean" -> Connect(inUrl, AccessMode.Read),
    "summary" -> Connect(outUrl, AccessMode.ReadWrite))
  def build(s: SparkSession, io: ModelIo): Unit =
    io.write("summary",
      io.read("clean").groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
        .orderBy("lang"))
  override def postBuildCheck(s: SparkSession, io: ModelIo): Boolean =
    Checks.noNulls(io.readBack("summary"), Seq("lang", "n_docs"))
}

/** Hottest/coldest measurement extrema (reference
  * `examples/noaa_climatology.py`: headerless CSV with field names forced
  * from a data dictionary, keep only TMAX/TMIN elements, count the
  * readings in `stats`, track the running hottest and coldest rows). The
  * Python version carries two mutable extrema through a row loop; here
  * each extreme is a lexicographic struct-min/max (value, then station id
  * as the deterministic tie-break) and the reading count is an
  * accumulator-backed stat, exactly like the reference's
  * `self.stats["temperature_readings"]`.
  */
class NoaaClimatology(inUrl: String, outUrl: String) extends Model {
  override def name = "NoaaClimatology"
  val connects = Map(
    "measurements" -> Connect(inUrl, AccessMode.Read),
    "extremes" -> Connect(outUrl, AccessMode.ReadWrite))

  def build(s: SparkSession, io: ModelIo): Unit = {
    val temps = io.read("measurements")
      .filter(col("ELEMENT").isin("TMAX", "TMIN"))
      .withColumn("VALUE", col("VALUE").cast("double"))
    stat(s, "temperature_readings").add(temps.count())
    val ex = temps.agg(
      max(struct(col("VALUE"), col("ID"), col("DATE"))).as("hot"),
      min(struct(col("VALUE"), col("ID"), col("DATE"))).as("cold"))
    io.write("extremes", ex.selectExpr(
      "stack(2, 'hottest', hot.VALUE, hot.ID, hot.DATE," +
        "        'coldest', cold.VALUE, cold.ID, cold.DATE)" +
        " AS (extreme, value, station, date)"))
  }

  override def postBuildCheck(s: SparkSession, io: ModelIo): Boolean =
    Checks.rowCountBetween(io.readBack("extremes"), 2, 2)
}

/** Manifest-driven 1→N file mapping (reference
  * `examples/manifest_mapper.py`: a JSON manifest lists input files; for
  * each, emit a corresponding output holding only the Australian
  * animals). The FileMapper becomes `Manifest.Mapper` work units with
  * `{item}` templates resolved against the run context; each unit is a
  * declarative read→filter→write.
  */
class AustralianAnimals(manifestUrl: String, itemsKey: String,
    inputTemplate: String, outputTemplate: String) extends Model {
  override def name = "AustralianAnimals"
  val connects = Map(
    "manifest" -> Connect(manifestUrl, AccessMode.Read))

  def build(s: SparkSession, io: ModelIo): Unit = {
    val manifestPath = graft.core.EngineUrl.parse(io.resolvedUrl("manifest")).path
    val mapper = Manifest.Mapper(
      Manifest.items(manifestPath, itemsKey), inputTemplate, outputTemplate)
    mapper.workUnits(io.context).foreach { case (in, out) =>
      val animals = graft.sources.ConnectorRegistry.read(s, in)
        .select(explode(col("animals")).as("a"))
        .select(col("a.name").as("name"), col("a.where").as("where"),
          col("a.scientific_classification_class").as("cls"))
        .filter(col("where") === "Australia")
      graft.sources.ConnectorRegistry.write(animals, out)
      stat(s, "files_written").add(1L)
    }
  }
}

/** Port of the reference's `examples/manifest_build_context/sensor_model.py`
  * (+ `common_pattern/build_context.py:16-60`): a manifest JSON
  * parameterizes the whole run. `Manifest.buildContext` turns the
  * manifest's scalar keys into resolver vars (`{dataset_id}` below) and
  * derives `{manifest_path}`/`{manifest_file}`, so the model binds the
  * manifest itself as a dataset; the manifest's file LIST drives per-file
  * reads (the reference's EngineFromManifest → MultiConnector shape). The
  * readings binding is a CALLABLE Connect (`connect.py:193-195`): its url
  * is minted at bind time, after the context exists, not at declaration.
  */
class SensorInputs(readingsUrl: () => String) extends Model {
  override def name = "SensorInputs"
  val connects = Map(
    "lookup" -> Connect("csv://{manifest_path}/lookup_table_{dataset_id}.csv",
      AccessMode.Read),
    "manifest" -> Connect("json://{manifest_file}", AccessMode.Read),
    "sensor_readings" -> Connect(readingsUrl, AccessMode.Read))

  /** The reference's in-build assertion: the lookup url must have resolved
    * `{dataset_id}` from the manifest's contents.
    */
  override def preBuildCheck(s: SparkSession, io: ModelIo): Boolean =
    !io.resolvedUrl("lookup").contains("{")

  def build(s: SparkSession, io: ModelIo): Unit = {
    // Per-file identity (each manifest item is its own connector in the
    // reference): read every listed file, stamp its source, count rows.
    val manifestPath =
      graft.core.EngineUrl.parse(io.resolvedUrl("manifest")).path
    Manifest.items(manifestPath, "sensor_readings").foreach { f =>
      val readings = graft.sources.ConnectorRegistry.read(
        s, io.context.resolve(f))
      stat(s, "sensor_files").add(1L)
      stat(s, "sensor_rows").add(readings.count())
    }
    stat(s, "lookup_rows").add(io.read("lookup").count())
  }
}

/** End-to-end training-data curation pipeline: the composition a corpus
  * team actually runs, expressed as three framework models over the
  * library's own operators (sample → clean/normalize → dedup →
  * quality-filter, then shard, then audit). Every stage is a declarative
  * plan; the only driver-side values are the audit counters, which the
  * pre-check's count and the curated write itself observe.
  *
  * Scale shape: the sample/quality filters are map-side; exact dedup
  * shuffles a 16-byte digest; repetition signals are per row, computed
  * inside each document with no shuffle (two rows with the same id each
  * keep their own signals, never merged); the shard write is a
  * hash-partitioned fan-out. Nothing collects documents on the driver.
  */
class CurateCorpus(inUrl: String, outUrl: String,
    samplePct: Int = 100, maxTopBigramFrac: Double = 0.2) extends Model {
  override def name = "CurateCorpus"
  val connects = Map(
    "raw" -> Connect(inUrl, AccessMode.Read),
    "curated" -> Connect(outUrl, AccessMode.Write))

  override def preBuildCheck(s: SparkSession, io: ModelIo): Boolean = {
    stat(s, "docs_in").add(Checks.counted(io.read("raw")))
    true
  }

  def build(s: SparkSession, io: ModelIo): Unit = {
    import graft.api._
    val sampled = io.read("raw").hashSample("doc_id", samplePct)
    val normalized = sampled.withColumn("norm_text",
      regexp_replace(regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
    val deduped = normalized.dedupExactBy("norm_text", "doc_id")
    val kept = deduped
      .repetitionSignals("norm_text")
      .filter(col("top_bigram_frac") <= maxTopBigramFrac)
      .drop("dup_token_frac", "top_bigram_frac")
    val n = io.writeCounted("curated")(_.observe(kept, "docs_kept" -> count(lit(1))))
    stat(s, "docs_kept").add(n("docs_kept"))
  }

  override def postBuildCheck(s: SparkSession, io: ModelIo): Boolean =
    Checks.uniqueNoNulls(io.readBack("curated"), Seq("norm_text"), Seq("doc_id"))
}

/** Shard the curated corpus for training: deterministic 8-way hash shard
  * plus a per-shard manifest row (doc/token counts) the trainer reads.
  */
class ShardCorpus(inUrl: String, outUrl: String, manifestUrl: String,
    shards: Int = 8) extends Model {
  override def name = "ShardCorpus"
  val connects = Map(
    "curated" -> Connect(inUrl, AccessMode.Read),
    "sharded" -> Connect(outUrl, AccessMode.Write),
    "manifest" -> Connect(manifestUrl, AccessMode.Write))

  def build(s: SparkSession, io: ModelIo): Unit = {
    import graft.api._
    val sharded = io.read("curated").shardBy("doc_id", shards)
    io.write("sharded", sharded)
    io.write("manifest",
      sharded.groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("norm_text"), " "))).cast("long").as("n_tokens"))
        .orderBy("shard"))
  }

  override def postBuildCheck(s: SparkSession, io: ModelIo): Boolean =
    Checks.conserved(io.readBack("sharded"), io.readBack("manifest"),
      count(lit(1)), sum(col("n_docs")))
}

/** Incremental dimension maintenance — the nightly warehouse load as one
  * model: MERGE the day's change set into the stored dimension (q101's
  * full-outer-join plan), then emit an audit diff of what the load did
  * (q104's classification). Post-check: the merged table keeps unique
  * keys and the audit's added+changed count equals the change-set rows
  * that differed — the reconciliation an ETL framework runs after every
  * incremental load.
  */
class MaintainDimension(baseUrl: String, changesUrl: String,
    outUrl: String, auditUrl: String, keyCol: String) extends Model {
  override def name = "MaintainDimension"
  val connects = Map(
    "base" -> Connect(baseUrl, AccessMode.Read),
    "changes" -> Connect(changesUrl, AccessMode.Read),
    "merged" -> Connect(outUrl, AccessMode.Write),
    "audit" -> Connect(auditUrl, AccessMode.Write))

  /** Both inputs keyed uniquely; the change set's check also counts it. */
  override def preBuildCheck(s: SparkSession, io: ModelIo): Boolean = {
    Checks.unique(io.read("base"), Seq(keyCol))
    stat(s, "changes_in").add(Checks.checkedCount(io.read("changes"), Seq(keyCol)))
    true
  }

  def build(s: SparkSession, io: ModelIo): Unit = {
    import graft.api._
    val base = io.read("base")
    val changes = io.read("changes")
    val merged = base.mergeUpsert(changes, keyCol)
    io.write("merged", merged)
    io.write("audit",
      base.snapshotDiff(merged, keyCol)
        .groupBy("change_type").agg(count(lit(1)).as("n"))
        .orderBy("change_type"))
  }

  override def postBuildCheck(s: SparkSession, io: ModelIo): Boolean = {
    val merged = io.readBack("merged")
    val audit = io.readBack("audit")
    Checks.unique(merged, Seq(keyCol)) &&
      Checks.noViolations(audit,
        col("change_type") === "removed",
        "an upsert never removes rows")
  }
}

// ============================================================================
// FLAGSHIP: the end-to-end LLM training-data curation DAG.
//
// The reference's raison d'être is the multi-model pipeline
// (`model_collection.py`: declared datasets wiring models into a DAG, run in
// dependency order with lifecycle checks). This graph exercises that at
// integration level over the operators the library ships individually:
//
//   raw documents
//     └─ NearDedupDocs      exact dedup (q40) + MinHash-LSH near dedup
//                           (q43) + connected-component representatives (q46)
//     └─ QualityGateDocs    Gopher-style repetition/length gates (q87, q34)
//     └─ DecontaminateDocs  eval n-gram probe anti-join (q47)
//     └─ DomainMixDocs      per-language cap, deterministic hash ranking (q113)
//     └─ ShardCorpus        hash shards + per-shard manifest (q57) + lock
//
// Scale shape (the 100 TB story, per stage): near dedup shuffles 16-byte
// digests and 8-byte minhash band keys, never text; candidate verification
// touches only LSH-bucket collisions; CC is pointer-jumping with checkpointed
// lineage (durable under graft.checkpoint.dir); quality gates are map-side,
// every signal computed inside its document's row; decontamination
// joins the eval probe gram set, which the planner broadcasts while it is
// small; the domain mix is one rank window per language partition; the
// shard write is a hash-partitioned fan-out. No stage collects documents on
// the driver.
//
// One pass per model: each model's counters are observed on the write that
// does its work (ModelIo.writeCounted; the reference likewise counts
// `self.stats` inside its single build loop, `model.py:88-90`), or kept from
// a count its pre-check runs anyway, and each post-check is one aggregate
// over the read-back. No model runs a separate count() of what it writes.
// ============================================================================

/** Stage 1: exact + near dedup, keeping one representative per duplicate
  * cluster. Near-dup = word-3-gram Jaccard >= minJaccard, found via
  * MinHash-LSH banding (bands x rowsPerBand signature), verified exactly on
  * the candidate pairs so LSH false positives cannot merge clusters.
  */
/** Exact substring dedup as a pipeline stage: cut every non-corpus-first
  * cross-doc duplicated L-gram span ([[graft.operators.Dedup
  * .removeDuplicatedSpans]], the Lee et al. 2022 keep-one-copy rule) and
  * write the cleaned corpus, dropping docs the cut emptied below
  * `minChars`. Complements [[NearDedupDocs]]: near-dedup drops whole
  * near-identical documents; this removes repeated PASSAGES inside
  * otherwise-distinct documents. Stats record docs/chars in and out so a
  * run's reclaim is visible in the lock manifest: the pre-check's
  * aggregate counts what comes in, the write observes what goes out.
  */
class SubstringDedupDocs(inUrl: String, outUrl: String,
    L: Int = 20, minChars: Int = 20) extends Model {
  override def name = "SubstringDedupDocs"
  val connects = Map(
    "raw" -> Connect(inUrl, AccessMode.Read),
    "passage_deduped" -> Connect(outUrl, AccessMode.Write))

  override def preBuildCheck(s: SparkSession, io: ModelIo): Boolean = {
    val in = io.read("raw")
      .agg(count(lit(1)), coalesce(sum(length(col("text"))), lit(0L))).first()
    stat(s, "docs_in").add(in.getLong(0))
    stat(s, "chars_in").add(in.getLong(1))
    in.getLong(0) > 0 || { throw Checks.CheckFailure("dataset is empty") }
  }

  def build(s: SparkSession, io: ModelIo): Unit = {
    import graft.api._
    val raw = io.read("raw")
    val cleaned = raw.removeDuplicatedSpans(L = L)
      .where(length(col("cleaned")) >= minChars)
      .join(raw.drop("text", "n_chars"), Seq("doc_id"))
      .withColumn("n_chars", length(col("cleaned")).cast("long"))
      .withColumnRenamed("cleaned", "text")
    val out = io.writeCounted("passage_deduped")(_.observe(cleaned,
      "docs_out" -> count(lit(1)),
      "chars_out" -> coalesce(sum(length(col("text"))), lit(0L))))
    stat(s, "docs_out").add(out("docs_out"))
    stat(s, "chars_out").add(out("chars_out"))
  }

  override def postBuildCheck(s: SparkSession, io: ModelIo): Boolean =
    Checks.uniqueNoNulls(io.readBack("passage_deduped"), Seq("doc_id"),
      Seq("doc_id", "text"))
}

/** Sequence packing as a pipeline stage: assign every document to a
  * fixed-capacity training context window with SPFHP
  * ([[graft.operators.Packing]], Krell et al. 2021 — histogram solve on
  * the driver, broadcast assignment join) and write the doc→window map
  * with per-doc token counts. Stats record window count and padding so a
  * run's packing efficiency is visible in the lock manifest; the write
  * observes them (bin ids are dense, so the window count is the largest
  * bin id plus one).
  */
class PackTrainingWindows(inUrl: String, outUrl: String,
    capacity: Int = 256) extends Model {
  override def name = "PackTrainingWindows"
  val connects = Map(
    "docs" -> Connect(inUrl, AccessMode.Read),
    "packed" -> Connect(outUrl, AccessMode.Write))

  override def preBuildCheck(s: SparkSession, io: ModelIo): Boolean = {
    stat(s, "docs_in").add(Checks.counted(io.read("docs")))
    true
  }

  def build(s: SparkSession, io: ModelIo): Unit = {
    import graft.api._
    val docs = io.read("docs")
      .select(col("doc_id"),
        least(size(split(col("text"), " ")), lit(capacity)).cast("int")
          .as("tok"))
    val n = io.writeCounted("packed")(_.observe(
      docs.packSequences("tok", "doc_id", capacity),
      "total_tokens" -> sum(col("tok")),
      "windows" -> (max(col("bin_id")) + 1)))
    stat(s, "total_tokens").add(n("total_tokens"))
    stat(s, "windows").add(n("windows"))
    stat(s, "padding_tokens").add(n("windows") * capacity - n("total_tokens"))
  }

  override def postBuildCheck(s: SparkSession, io: ModelIo): Boolean = {
    val out = io.readBack("packed")
    Checks.unique(out, Seq("doc_id")) &&
      out.groupBy("bin_id").agg(sum(col("tok")).as("fill"))
        .filter(col("fill") > capacity).isEmpty
  }
}

/** Flagship train→calibrate→gate stage: fit a binary quality classifier
  * with distributed iterative-parameter-mixing perceptron training
  * ([[graft.operators.TextClassifier.ipmFit]], McDonald et al. 2010),
  * turn its arbitrary-scale margins into probabilities with isotonic
  * calibration ([[graft.operators.Calibration]], Zadrozny–Elkan 2002),
  * write the scored+calibrated corpus — and GATE the build on model
  * quality: postBuildCheck fails the run when accuracy doesn't beat the
  * majority baseline or when expected calibration error exceeds
  * `maxEce` (on a healthy fit-=-apply population PAV makes per-block
  * ECE exactly 0, so any real drift shows).
  *
  * The target is token-derived (the synthetic corpus's only
  * bag-of-words-separable signal): "mentions ≥ 3 query-language terms".
  * `driftBuckets` shifts the score buckets between calibration FIT and
  * APPLY — the fault-injection knob ExamplesSpec uses to prove the gate
  * catches production score drift (a real deployment drifts when the
  * corpus distribution moves under a frozen calibration table).
  */
class TrainQualityClassifier(inUrl: String, outUrl: String,
    marginStep: Long = 1L << 29, maxEce: Double = 0.05,
    driftBuckets: Long = 0L) extends Model {
  override def name = "TrainQualityClassifier"
  val connects = Map(
    "docs" -> Connect(inUrl, AccessMode.Read),
    "scored" -> Connect(outUrl, AccessMode.Write))

  private val labelExpr =
    "CAST(CASE WHEN size(filter(split(text, ' '), " +
      "w -> w IN ('spark', 'query', 'join'))) >= 3 THEN 1 ELSE 0 END " +
      "AS BIGINT)"

  override def preBuildCheck(s: SparkSession, io: ModelIo): Boolean = {
    stat(s, "docs_in").add(Checks.counted(io.read("docs")))
    true
  }

  def build(s: SparkSession, io: ModelIo): Unit = {
    import graft.operators.{Calibration, TextClassifier}
    val docs = io.read("docs")
    val labels = docs.select(col("doc_id"), expr(labelExpr).as("label"))
    val feats = TextClassifier.hashedFeatures(docs, "text", "doc_id")
    val w = TextClassifier.ipmFit(feats,
      labels.select(col("doc_id"), (col("label") * 2 - 1).as("y")), "doc_id")
    val scored = TextClassifier.predict(feats, w, "doc_id")
      .join(labels, "doc_id")
      .withColumn("bucket",
        expr(s"CAST(floor(margin / ${marginStep}L) AS BIGINT)"))
    val table = Calibration.fitTable(scored, "bucket", "label")
    // driftBuckets simulates the production gap between the population
    // the table was fitted on and the one it is applied to
    val applied = Calibration.applyTable(
      scored.withColumn("bucket", col("bucket") + driftBuckets),
      table, "bucket")
    val n = io.writeCounted("scored")(_.observe(
      applied.select("doc_id", "label", "margin", "predicted", "bucket",
        "calibrated"),
      "n_correct" -> count_if(col("predicted") === col("label") * 2 - 1),
      "n_pos" -> count_if(col("label") === 1)))
    stat(s, "n_correct").add(n("n_correct"))
    stat(s, "n_pos").add(n("n_pos"))
  }

  override def postBuildCheck(s: SparkSession, io: ModelIo): Boolean = {
    val out = io.readBack("scored")
    Checks.uniqueNoNulls(out, Seq("doc_id"), Seq("doc_id", "calibrated"))
    // accuracy and expected calibration error in one grouped aggregate:
    // per fitted probability its population, positives and correct
    // predictions; ECE weighs |empirical rate − calibrated| by population
    val agg = out.groupBy("calibrated")
      .agg(count(lit(1)).as("nb"), sum(col("label")).as("yb"),
        count_if(col("predicted") === col("label") * 2 - 1).as("cb"))
      .agg(sum(col("nb")), sum(col("cb")), sum(col("yb")),
        sum(abs(col("yb").cast("double") / col("nb").cast("double") -
          col("calibrated")) * col("nb").cast("double")))
      .first()
    val (n, correct, pos) = (agg.getLong(0), agg.getLong(1), agg.getLong(2))
    val accuracy = correct.toDouble / n
    val baseline = math.max(pos, n - pos).toDouble / n
    val ece = agg.getDouble(3) / n.toDouble
    accuracy > baseline && ece <= maxEce
  }
}

class NearDedupDocs(inUrl: String, outUrl: String,
    bands: Int = 4, rowsPerBand: Int = 4, minJaccard: Double = 0.8)
  extends Model {
  override def name = "NearDedupDocs"
  val connects = Map(
    "raw" -> Connect(inUrl, AccessMode.Read),
    "unique_docs" -> Connect(outUrl, AccessMode.Write))

  private var docsIn = 0L

  /** Non-empty input; its row count is `docs_in`, which the build needs. */
  override def preBuildCheck(s: SparkSession, io: ModelIo): Boolean = {
    docsIn = Checks.counted(io.read("raw"))
    stat(s, "docs_in").add(docsIn)
    true
  }

  def build(s: SparkSession, io: ModelIo): Unit = {
    import graft.api._
    val norm = io.read("raw").withColumn("norm_text",
      regexp_replace(regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "),
        " +", " "))
    val exact = norm.dedupExactBy("norm_text", "doc_id")
    // Shingle + 16-permutation minhash, all codegen'd expressions; the
    // token array materializes once per doc (inlining the split into each
    // lambda re-tokenizes per shingle — measured 2x slower on q42).
    val sigs = bands * rowsPerBand
    val withSh = exact
      .withColumn("__toks", split(col("norm_text"), " "))
      // 28-bit shingle hashes (xxhash64 masked): with a_j < 2^25 the
      // affine mixes below stay under 2^53 — no int64 overflow under ANSI.
      .withColumn("__sh", expr(
        """IF(size(__toks) < 3, array(xxhash64(norm_text) & 268435455),
          |  array_distinct(transform(sequence(1, size(__toks) - 2),
          |    i -> xxhash64(concat_ws(' ', element_at(__toks, i),
          |      element_at(__toks, i + 1), element_at(__toks, i + 2)))
          |      & 268435455)))""".stripMargin))
    val withBands = withSh.withColumn("__sig", expr(
        s"""transform(sequence(0, ${sigs - 1}, 1),
           |  j -> aggregate(__sh, CAST(1000000007 AS BIGINT),
           |    (acc, h) -> least(acc, ((1000003 * j + 12345) * h
           |                            + 7919 * j + 271) % 1000000007)))"""
          .stripMargin))
      .withColumn("__band", explode(expr(
        s"""transform(sequence(0, ${bands - 1}, 1),
           |  b -> named_struct('b', b, 'k', xxhash64(concat_ws(',',
           |    b, slice(__sig, b * $rowsPerBand + 1, $rowsPerBand)))))"""
          .stripMargin)))
      .select(col("doc_id"), col("__band.b").as("b"), col("__band.k").as("k"),
        col("__sh"))
    // LSH candidates -> exact Jaccard verification -> duplicate edges. The
    // two sides of the self-join are one plan behind one shuffle join, so
    // Spark shuffles the band table once and reuses that exchange on the
    // other side: every signature is computed once.
    val (l, r) = (withBands.as("l"), withBands.as("r"))
    val cand = l.hint("shuffle_hash")
      .join(r, col("l.b") === col("r.b") && col("l.k") === col("r.k"))
      .filter(col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("a"), col("r.doc_id").as("b2"),
        col("l.__sh").as("sa"), col("r.__sh").as("sb"))
      .dropDuplicates("a", "b2")
    val edges = cand
      .withColumn("__i", size(array_intersect(col("sa"), col("sb"))).cast("double"))
      .withColumn("__j",
        col("__i") / (size(col("sa")) + size(col("sb")) - col("__i")))
      .filter(col("__j") >= minJaccard)
      .select(col("a"), col("b2").as("b"))
    val cc = graft.operators.ConnectedComponents.run(
      exact.select(col("doc_id").as("id")), edges)
    val kept = exact.join(cc, exact("doc_id") === cc("id"))
      .filter(col("doc_id") === col("component"))
      .drop("id", "component")
    val nKept = io.writeCounted("unique_docs")(
      _.observe(kept, "docs_kept" -> count(lit(1))))("docs_kept")
    stat(s, "docs_kept").add(nKept)
    stat(s, "dups_removed").add(docsIn - nKept)
  }

  override def postBuildCheck(s: SparkSession, io: ModelIo): Boolean =
    Checks.uniqueNoNulls(io.readBack("unique_docs"), Seq("norm_text"), Seq("doc_id"))
}

/** Stage 2: Gopher-style quality gates — token-count window, duplicate-token
  * and top-bigram repetition caps. All signals are exact integers/ratios
  * computed inside each document's row: the whole stage is map-side. One
  * observation on the gated frame, just before the filter, counts both
  * what came in and what passed.
  */
class QualityGateDocs(inUrl: String, outUrl: String,
    minTokens: Int = 15, maxTokens: Int = 100000,
    maxDupTokenFrac: Double = 0.75, maxTopBigramFrac: Double = 0.25)
  extends Model {
  override def name = "QualityGateDocs"
  val connects = Map(
    "docs" -> Connect(inUrl, AccessMode.Read),
    "quality_docs" -> Connect(outUrl, AccessMode.Write))

  def build(s: SparkSession, io: ModelIo): Unit = {
    import graft.api._
    val gated = io.read("docs").repetitionSignals("norm_text")
      .withColumn("__pass",
        size(split(col("norm_text"), " ")).between(minTokens, maxTokens) &&
          col("dup_token_frac") <= maxDupTokenFrac &&
          col("top_bigram_frac") <= maxTopBigramFrac)
    val n = io.writeCounted("quality_docs") { c =>
      c.observe(gated,
          "docs_in" -> count(lit(1)), "docs_kept" -> count_if(col("__pass")))
        .filter(col("__pass"))
        .drop("__pass", "dup_token_frac", "top_bigram_frac")
    }
    stat(s, "docs_kept").add(n("docs_kept"))
    stat(s, "docs_rejected").add(n("docs_in") - n("docs_kept"))
  }

  override def postBuildCheck(s: SparkSession, io: ModelIo): Boolean =
    Checks.nonEmpty(io.readBack("quality_docs"))
}

/** Stage 3: benchmark decontamination — drop any document sharing
  * >= minHits distinct word 3-grams with the held-out eval set. The probe
  * gram set is a plain join side: eval benchmarks do not grow with corpus
  * SF, so the planner broadcasts it and the corpus side is a map-side
  * join + per-doc count (a plain count: each document's grams are already
  * distinct). No hint forces the broadcast, so no cap has to be counted
  * before the write: a probe set too big to broadcast is shuffle-joined,
  * never truncated.
  *
  * The documents are joined to the contaminated ids with a LEFT join and
  * the counters observed above it, before the filter that drops the hits.
  * Observed under an anti-join instead, the input's counter would be lost
  * when the input is empty: adaptive execution then replaces the join by
  * an empty relation, observation included.
  */
class DecontaminateDocs(inUrl: String, evalUrl: String, outUrl: String,
    minHits: Int = 2) extends Model {
  override def name = "DecontaminateDocs"
  val connects = Map(
    "docs" -> Connect(inUrl, AccessMode.Read),
    "eval_set" -> Connect(evalUrl, AccessMode.Read),
    "clean_docs" -> Connect(outUrl, AccessMode.Write))

  private def grams(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("__toks", split(
        regexp_replace(regexp_replace(lower(col(textCol)), "[^a-z0-9 ]", " "),
          " +", " "), " "))
      .select(col("doc_id"), explode(expr(
        """IF(size(__toks) < 3, array(), array_distinct(
          |  transform(sequence(1, size(__toks) - 2),
          |    i -> concat_ws(' ', element_at(__toks, i),
          |      element_at(__toks, i + 1), element_at(__toks, i + 2)))))"""
          .stripMargin)).as("gram"))

  def build(s: SparkSession, io: ModelIo): Unit = {
    val in = io.read("docs")
    val probe = grams(io.read("eval_set"), "text")
      .select("gram").distinct()
    val contaminated = grams(in, "norm_text")
      .join(probe, "gram")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("__hits"))
      .filter(col("__hits") >= minHits)
      .select(col("doc_id"), lit(true).as("__hit"))
    val n = io.writeCounted("clean_docs") { c =>
      c.observe(in.join(contaminated, Seq("doc_id"), "left"),
          "docs_in" -> count(lit(1)), "docs_kept" -> count_if(col("__hit").isNull))
        .filter(col("__hit").isNull)
        .select(in.columns.map(col): _*)
    }
    stat(s, "docs_kept").add(n("docs_kept"))
    stat(s, "docs_decontaminated").add(n("docs_in") - n("docs_kept"))
  }

  override def postBuildCheck(s: SparkSession, io: ModelIo): Boolean =
    Checks.noNulls(io.readBack("clean_docs"), Seq("doc_id"))
}

/** Stage 4: domain mix — cap each language's share with a deterministic
  * hash ranking (the same doc wins at any parallelism), so the corpus mix
  * matches the training recipe instead of the crawl's accidents. One rank
  * window per language partition, never a global sort. One observation
  * on the ranked frame, just before the cap filter, counts both what came
  * in and what was kept; it sits between the window and the filter, so
  * Spark's per-partition top-cap pre-limit (a window group limit) does not
  * apply and every document reaches the language shuffle.
  */
class DomainMixDocs(inUrl: String, outUrl: String, capPerLang: Int)
  extends Model {
  override def name = "DomainMixDocs"
  val connects = Map(
    "docs" -> Connect(inUrl, AccessMode.Read),
    "mixed_docs" -> Connect(outUrl, AccessMode.Write))

  def build(s: SparkSession, io: ModelIo): Unit = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang")
      .orderBy(md5(concat(lit("mix:"), col("doc_id"))), col("doc_id"))
    val ranked = io.read("docs").withColumn("__rk", row_number().over(w))
    val n = io.writeCounted("mixed_docs") { c =>
      c.observe(ranked,
          "docs_in" -> count(lit(1)), "docs_kept" -> count_if(col("__rk") <= capPerLang))
        .filter(col("__rk") <= capPerLang).drop("__rk")
    }
    stat(s, "docs_kept").add(n("docs_kept"))
    stat(s, "docs_capped_out").add(n("docs_in") - n("docs_kept"))
  }

  override def postBuildCheck(s: SparkSession, io: ModelIo): Boolean = {
    val perLang = io.readBack("mixed_docs").groupBy("lang")
      .agg(count(lit(1)).as("n"))
    Checks.noViolations(perLang, col("n") > capPerLang,
      s"every language capped at $capPerLang")
  }
}

/** Build + run the whole curation DAG over a documents table, write each
  * model's lock doc next to the outputs, and return the stats counters.
  * `ModelGraph` discovers the stage order from the dataset urls — the
  * models are handed over shuffled to prove it.
  */
object CurationFlagship {
  def run(spark: SparkSession, docsParquetDir: String, workDir: String,
      capPerLang: Int = 900): Map[String, Long] = {
    val models = Seq(
      new ShardCorpus(s"parquet://$workDir/mixed",
        s"parquet://$workDir/sharded;partitionBy=shard",
        s"parquet://$workDir/manifest"),
      new DomainMixDocs(s"parquet://$workDir/clean",
        s"parquet://$workDir/mixed", capPerLang),
      new DecontaminateDocs(s"parquet://$workDir/unique",
        s"parquet://$workDir/eval", s"parquet://$workDir/clean"),
      new QualityGateDocs(s"parquet://$workDir/deduped",
        s"parquet://$workDir/unique"),
      new NearDedupDocs(s"parquet://$docsParquetDir/documents.parquet",
        s"parquet://$workDir/deduped"))
    // Held-out "benchmark": a tiny fixed eval slice, written before the run.
    graft.Tables.load(spark, docsParquetDir, "documents")
      .filter(col("doc_id") < 10).select("doc_id", "text")
      .write.mode("overwrite").parquet(s"$workDir/eval")
    val graph = new ModelGraph(new scala.util.Random(7).shuffle(models))
    val ctx = graft.core.RunContext()
    graph.run(spark, ctx)
    models.foreach(m =>
      Manifest.writeLock(s"$workDir/${m.name}.lock.json", m, ctx))
    models.flatMap(m => m.stats.toSeq.map { case (k, acc) =>
      s"${m.name}.$k" -> acc.value.longValue }).toMap
  }
}

/** STREAMING FLAGSHIP — the serving-side sibling of [[CurationFlagship]]:
  * a live event feed maintained as an always-fresh serving table.
  *
  *   event files (arriving)                      [readStream, file source]
  *     → exact dedup within watermark            [dropDuplicatesWithinWatermark]
  *     → enrich with a static user dimension     [stream-static broadcast join]
  *     → hourly rollup per segment               [watermarked tumbling window]
  *     → MERGE into a keyed serving table        [foreachBatch + mergeUpsert]
  *
  * Every stage is the streaming twin of a batch operator this library
  * ships, so the pipeline has a BATCH ORACLE: running the same transforms
  * over a plain read of the same files must equal the serving table
  * exactly (ExamplesSpec pins it, including across a second file drop —
  * updated windows re-merge, untouched rows survive).
  *
  * Scale shape: dedup state is bounded by the watermark; the dimension is
  * a broadcast; window state is dropped past the watermark; the serving
  * table rewrite is keyed (mergeUpsert's full-outer join on the serving
  * key), so each micro-batch touches work proportional to ITS windows,
  * not the table's history.
  */
object StreamingServing {
  import graft.streaming.Streams

  /** One AvailableNow pass over whatever files exist now; safe to call
    * repeatedly as new files land (checkpointDir carries source offsets,
    * so each call processes only NEW files — the incremental contract).
    */
  def refresh(spark: SparkSession, eventsDir: String, dim: DataFrame,
      servingPath: String, checkpointDir: String): Unit =
    refreshFrom(spark, Streams.eventFileStream(spark, eventsDir), dim,
      servingPath, checkpointDir)

  /** The same serving refresh fed from a Kafka topic through the native
    * `graft-kafka` source — the pipeline (dedup → enrich → rollup →
    * merge) is source-agnostic; the checkpoint carries Kafka offsets
    * instead of file names, same incremental contract.
    */
  def refreshFromKafka(spark: SparkSession, bootstrap: String, topic: String,
      dim: DataFrame, servingPath: String, checkpointDir: String): Unit =
    refreshFrom(spark, Streams.eventKafkaStream(spark, bootstrap, topic), dim,
      servingPath, checkpointDir)

  private def refreshFrom(spark: SparkSession, events: DataFrame,
      dim: DataFrame, servingPath: String, checkpointDir: String): Unit = {
    val rollup = hourlyRollup(
      Streams.enrichStream(
        Streams.dedupStream(events, "event_id"),
        dim, "user_id"))
    val q = rollup.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import graft.api._
        val changes = batch.withColumn("k",
          concat_ws("|", col("hour").cast("string"), col("segment")))
        val base =
          if (graft.sources.DatasetFs.exists(spark, s"parquet://$servingPath"))
            ParquetStage.read(spark, servingPath)
          else changes.limit(0)
        // Rewrite via temp dir + atomic swap: the merge job reads the
        // current table and writes somewhere ELSE, so a lost cached block
        // can always recompute from intact inputs; only after the write
        // succeeds does swapInto replace servingPath by rename.
        val tmp = s"$servingPath.tmp-$batchId"
        base.mergeUpsert(changes, "k").write.mode("overwrite").parquet(tmp)
        graft.sources.DatasetFs.swapInto(spark, tmp, servingPath)
        ()
      }
      .start()
    q.awaitTermination()
  }

  /** The shared shape: batch oracle and stream run the SAME function.
    * No watermark here — the ingest dedup already stamped one, and it
    * governs every downstream stateful operator (a second withWatermark
    * on the same stream is redefinition, which Spark rejects); on the
    * batch oracle a watermark would be a no-op anyway.
    */
  def hourlyRollup(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour"), col("segment"))
      .agg(count(lit(1)).as("n_events"),
        sum(expr("CAST(FLOOR(value * 1e6) AS BIGINT)")).as("value_sp"))
      .select(col("window.start").as("hour"), col("segment"),
        col("n_events"), col("value_sp"))
}

/** Streaming ingest dedup — the user-facing pipeline around
  * [[graft.streaming.Streams.neardupVerifyStream]] (VERDICT r12 #6):
  * documents land as parquet files in `docsDir`; each [[refresh]]
  * processes only the NEW files (the checkpoint carries source offsets,
  * same incremental contract as [[StreamingServing]]), streams them
  * through the fused candidate+verdict operator, thresholds the
  * slot-agreement estimate at the q235-calibrated cut, and maintains
  * two tables:
  *
  *  - `edgesPath` — confirmed duplicate edges `(id_a, id_b, m16)` with
  *    `id_a < id_b` and `m16 ≥ minAgree`, mergeUpserted on the pair key
  *    so a replayed micro-batch is idempotent;
  *  - `uniquePath` — the dedup DECISION joined back to the corpus:
  *    every doc whose id is not the `id_b` of a confirmed edge. Ingest
  *    doc_ids are monotone, so `id_b` (the larger) is the LATER
  *    arrival — the online rule "drop a document that near-duplicates
  *    an already-ingested one", and exactly what a batch replay of the
  *    same threshold over the same pair set computes (the ExamplesSpec
  *    golden test pins stream == batch).
  *
  * The batch [[NearDedupDocs]] model re-scans the whole corpus per run
  * and clusters transitively (connected components); this pipeline is
  * its ingest-time twin — per-pair online decisions with no re-scan,
  * state = the LSH bucket index (~bands×(sigLen+2) longs per doc,
  * RocksDB-backed at scale, retention-boundable via
  * `Streams.neardupVerifyStream(retention = …)`).
  */
object StreamingIngestDedup {
  import graft.streaming.Streams

  def refresh(spark: SparkSession, docsDir: String, edgesPath: String,
      uniquePath: String, checkpointDir: String, minAgree: Int = 8): Unit = {
    import graft.api._
    val schema = ParquetStage.read(spark, docsDir).schema
    val verdicts = Streams.neardupVerifyStream(
      spark.readStream.schema(schema).parquet(docsDir)
        .select("doc_id", "text"))
    val q = verdicts.toDF().writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // per-band emissions collapse to one edge per pair (m16 is
        // identical across shared bands — the operator's contract)
        val changes = batch.filter(col("m16") >= minAgree)
          .select("id_a", "id_b", "m16").dropDuplicates("id_a", "id_b")
          .withColumn("k",
            concat_ws("|", col("id_a").cast("string"),
              col("id_b").cast("string")))
        val base =
          if (graft.sources.DatasetFs.exists(spark, s"parquet://$edgesPath"))
            ParquetStage.read(spark, edgesPath)
          else changes.limit(0)
        val tmp = s"$edgesPath.tmp-$batchId"
        base.mergeUpsert(changes, "k").write.mode("overwrite").parquet(tmp)
        graft.sources.DatasetFs.swapInto(spark, tmp, edgesPath)
        ()
      }
      .start()
    q.awaitTermination()
    // decision joined back to the corpus: id_b of a confirmed edge = a
    // later arrival that near-duplicates an already-kept doc -> dropped
    val corpus = ParquetStage.read(spark, docsDir)
    val drops =
      if (graft.sources.DatasetFs.exists(spark, s"parquet://$edgesPath"))
        ParquetStage.read(spark, edgesPath).select(col("id_b").as("doc_id"))
      else corpus.select("doc_id").limit(0)
    val tmp = s"$uniquePath.tmp"
    corpus.join(drops.distinct(), Seq("doc_id"), "left_anti")
      .write.mode("overwrite").parquet(tmp)
    graft.sources.DatasetFs.swapInto(spark, tmp, uniquePath)
  }
}
