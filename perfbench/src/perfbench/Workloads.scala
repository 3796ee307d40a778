package perfbench

import graft.{SparkEntry, Tables}
import graft.examples._
import graft.model.{Manifest, Model, ModelGraph}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import java.nio.file.{Files, Path, Paths}

/** One operation that failed: what it was, and the error's class and
  * message (never a bare failure flag).
  */
final case class Failure(op: String, errorClass: String, message: String)

/** What one pass did: operations attempted, the ones that failed, named
  * timings in seconds, and seconds spent on the benchmark's own
  * bookkeeping, which are taken off the pass's wall time.
  */
final case class PassResult(attempted: Int, failures: Seq[Failure],
    timings: Map[String, Double], offClock: Double = 0.0)

trait Workload {
  /** Tables staged during set-up (`Tables.load`, plan only, no job). */
  def tables: Seq[String]
  /** The least number of timed passes in a run. */
  def minTimed: Int
  /** One whole round of the workload's operations. The outputs of the
    * last pass stay on disk for the checks.
    */
  def pass(spark: SparkSession, tracer: Option[Tracer]): PassResult
  /** After the last pass: write what the Python checks need besides the
    * outputs themselves.
    */
  def finish(): Unit
}

object Workload {
  /** k-core, MAD, hard negatives, item CF, and the tables they read. */
  val heavyTail: Seq[String] = Seq("q150", "q152", "q244", "q283")
  val heavyTailTables: Seq[String] = Seq("lineitem", "orders", "events", "embeddings")

  def apply(name: String, dataDir: String, out: String): Workload =
    name match {
      case "curation_dag" => new CurationDag(dataDir, out)
      case "heavy_tail"   => new QuerySet(heavyTail, heavyTailTables, 2, dataDir, out)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  def failure(op: String, e: Throwable): Failure =
    Failure(op, e.getClass.getName, String.valueOf(e.getMessage).take(500))

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally s.close()
  }
}

/** A fixed list of `SparkEntry.queries`, run one after another by one
  * client thread. Each query's result is written as parquet to
  * OUT/results/<query>, replacing the previous pass's.
  */
final class QuerySet(ids: Seq[String], val tables: Seq[String], val minTimed: Int,
    dataDir: String, out: String) extends Workload {
  private val byId: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] = {
    val all = SparkEntry.queries
    ids.map { id =>
      val hits = all.keys.filter(_.startsWith(id + "_")).toSeq
      require(hits.size == 1, s"query id $id matches ${hits.mkString(",")}")
      hits.head -> all(hits.head)
    }
  }

  def pass(spark: SparkSession, tracer: Option[Tracer]): PassResult = {
    val fails = Seq.newBuilder[Failure]
    val times = Map.newBuilder[String, Double]
    byId.foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try fn(spark, dataDir).write.mode("overwrite").parquet(s"$out/results/$name")
      catch { case e: Exception => fails += Workload.failure(name, e) }
      times += s"query.${name.takeWhile(_ != '_')}_s" -> (System.nanoTime() - t0) / 1e9
      // queries pin blocks with localCheckpoint/cache; release them so
      // later queries do not pay for earlier ones' memory
      graft.Bench.dropCaches(spark)
    }
    PassResult(byId.size, fails.result(), times.result())
  }

  def finish(): Unit = {
    val oracle = SparkEntry.oracleSql
    Files.writeString(Paths.get(s"$out/oracle_sql.json"),
      Json.obj(byId.map(_._1).flatMap(n => oracle.get(n).map(n -> Json.str(_)))))
  }
}

/** The five models of `CurationFlagship.run`, with its parameters, run
  * through `ModelGraph`. One pass: a cold build into a fresh work directory
  * with eval slice A, the eval set replaced by slice B, the incremental
  * re-run (build avoidance), then a second incremental run that must find
  * every model up to date. Pass N works in OUT/work/pass-N; only the last
  * pass's directory is kept. The first pass also copies the cold build's
  * outputs and counters to OUT/work/slice-a, off the clock.
  */
final class CurationDag(dataDir: String, out: String) extends Workload {
  import CurationDag._
  def tables: Seq[String] = Seq("documents")
  def minTimed: Int = 1
  private val workRoot = Paths.get(out, "work")
  private var passNo = 0
  private var countersA = "{}"

  private def models(work: String): Seq[Model] = Seq(
    new ShardCorpus(s"parquet://$work/mixed",
      s"parquet://$work/sharded;partitionBy=shard", s"parquet://$work/manifest"),
    new DomainMixDocs(s"parquet://$work/clean", s"parquet://$work/mixed", CapPerLang),
    new DecontaminateDocs(s"parquet://$work/unique", s"parquet://$work/eval",
      s"parquet://$work/clean"),
    new QualityGateDocs(s"parquet://$work/deduped", s"parquet://$work/unique"),
    new NearDedupDocs(s"parquet://$dataDir/documents.parquet",
      s"parquet://$work/deduped"))

  private def writeEval(spark: SparkSession, work: String, lo: Long, hi: Long): Unit =
    Tables.load(spark, dataDir, "documents")
      .filter(col("doc_id") >= lo && col("doc_id") < hi).select("doc_id", "text")
      .write.mode("overwrite").parquet(s"$work/eval")

  /** Counter conservation, model by model: kept + removed equals what the
    * upstream model kept (NearDedupDocs: what it read).
    */
  private def counterCheck(inner: Map[String, Model], built: Set[String]): Option[String] = {
    def c(m: String, k: String): Long = inner(m).stats.get(k).map(_.value.longValue).getOrElse(-1L)
    val rules = Seq(
      ("NearDedupDocs", "docs_kept", "dups_removed", c("NearDedupDocs", "docs_in")),
      ("QualityGateDocs", "docs_kept", "docs_rejected", c("NearDedupDocs", "docs_kept")),
      ("DecontaminateDocs", "docs_kept", "docs_decontaminated", c("QualityGateDocs", "docs_kept")),
      ("DomainMixDocs", "docs_kept", "docs_capped_out", c("DecontaminateDocs", "docs_kept")))
    rules.filter(r => built(r._1)).collectFirst {
      case (m, kept, removed, up) if c(m, kept) + c(m, removed) != up =>
        s"CounterMismatch: $m $kept ${c(m, kept)} + $removed ${c(m, removed)}" +
          s" != upstream $up"
    }
  }

  /** Runs `f`, turning an exception or a returned complaint into a failure. */
  private def op(name: String, fails: scala.collection.mutable.Builder[Failure, Seq[Failure]])(
      f: => Option[String]): Double = {
    val t0 = System.nanoTime()
    try f.foreach(msg => fails += Failure(name, msg.takeWhile(_ != ':'), msg))
    catch { case e: Exception => fails += Workload.failure(name, e) }
    (System.nanoTime() - t0) / 1e9
  }

  def pass(spark: SparkSession, tracer: Option[Tracer]): PassResult = {
    passNo += 1
    if (passNo > 1) Workload.deleteTree(workRoot.resolve(s"pass-${passNo - 1}"))
    val work = workRoot.resolve(s"pass-$passNo").toString
    val inner = models(work)
    val wrapped = tracer.fold(inner)(t => inner.map(new TimedModel(_, t)))
    val byName = inner.map(m => m.name -> m).toMap
    val graph = new ModelGraph(new scala.util.Random(ShuffleSeed).shuffle(wrapped))
    val ctx = graft.core.RunContext()
    val fails = Seq.newBuilder[Failure]
    var built, skipped = 0
    def runGraph(incremental: Boolean): Map[String, String] = {
      val st = graph.runIncremental(spark, ctx, incremental)
      built += st.values.count(_ == "built")
      skipped += st.values.count(_ == "skipped")
      st
    }
    writeEval(spark, work, SliceA._1, SliceA._2)
    val cold = op("cold_build", fails) {
      val st = runGraph(incremental = false)
      inner.foreach(m => Manifest.writeLock(s"$work/${m.name}.lock.json", m, ctx))
      expectStatus(st, AllModels, Set.empty).orElse(counterCheck(byName, AllModels))
    }
    var offClock = 0.0
    if (passNo == 1) {
      val t0 = System.nanoTime()
      copyTree(Paths.get(work), workRoot.resolve("slice-a"))
      countersA = Json.obj(inner.flatMap(m => m.stats.toSeq.sortBy(_._1).map {
        case (k, acc) => s"${m.name}.$k" -> acc.value.toString }))
      offClock = (System.nanoTime() - t0) / 1e9
    }
    // per-model lifecycle seconds of the cold build alone
    val coldModels = tracer.flatMap(_.current).map(_.modelSec.toMap).getOrElse(Map.empty)
    writeEval(spark, work, SliceB._1, SliceB._2)
    val rebuild = op("rebuild", fails) {
      expectStatus(runGraph(incremental = true), RebuiltOnB, AllModels -- RebuiltOnB)
        .orElse(counterCheck(byName, RebuiltOnB))
    }
    val noop = op("noop_rebuild", fails) {
      expectStatus(runGraph(incremental = true), Set.empty, AllModels)
    }
    val t = Map("model.cold_build_s" -> cold, "model.rebuild_s" -> rebuild,
      "model.skip_check_s" -> noop, "model.built" -> built.toDouble,
      "model.skipped" -> skipped.toDouble) ++
      coldModels.map { case (k, v) => s"model.${k}_s" -> v } ++
      tracer.map(_ => "model.graph_s" -> (cold - coldModels.values.sum))
    PassResult(3, fails.result(), t, offClock)
  }

  def finish(): Unit =
    Files.writeString(Paths.get(out, "curation.json"), Json.obj(Seq(
      "slice_a_dir" -> Json.str(workRoot.resolve("slice-a").toString),
      "slice_b_dir" -> Json.str(workRoot.resolve(s"pass-$passNo").toString),
      "slice_a" -> Json.arr(Seq(SliceA._1.toString, SliceA._2.toString)),
      "slice_b" -> Json.arr(Seq(SliceB._1.toString, SliceB._2.toString)),
      "cap_per_lang" -> CapPerLang.toString,
      "counters_a" -> countersA)))

  private def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { p =>
      val dest = to.resolve(from.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(dest)
      else Files.copy(p, dest)
    } finally s.close()
  }
}

object CurationDag {
  val CapPerLang = 900
  val ShuffleSeed = 7
  val SliceA: (Long, Long) = (0L, 10L)
  val SliceB: (Long, Long) = (10L, 20L)
  val AllModels: Set[String] = Set("NearDedupDocs", "QualityGateDocs",
    "DecontaminateDocs", "DomainMixDocs", "ShardCorpus")
  val RebuiltOnB: Set[String] = Set("DecontaminateDocs", "DomainMixDocs", "ShardCorpus")

  def expectStatus(st: Map[String, String], built: Set[String],
      skipped: Set[String]): Option[String] = {
    val want = built.map(_ -> "built").toMap ++ skipped.map(_ -> "skipped")
    if (st == want) None else Some(s"StatusMismatch: $st, expected $want")
  }
}

/** Minimal JSON rendering for the run record (values are pre-rendered). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
}
