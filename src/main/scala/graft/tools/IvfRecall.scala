package graft.tools

import graft.{GraftSession, Tables}
import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Quantifies the q357 two-level (IVF, nprobe=1) assignment
  * approximation against the exact flat argmin (VERDICT r12 #3): the
  * two-step rule is the same Voronoi approximation SemDeDup already
  * accepts, but "accepted" is not "measured" — a boundary point
  * assigning to a neighboring cell can drop true dup pairs. Per SF this
  * prints, from the SAME [[Dedup.semdedupAssign]] code path the query
  * runs:
  *
  *  - `agree`       — fraction of points whose two-level cluster equals
  *    the flat argmin cluster;
  *  - `pair_recall` — |pairs(two) ∩ pairs(flat)| / |pairs(flat)| where
  *    pairs(·) is the within-cluster cosine>0.4 verdict pair set
  *    (id_keep < id_dup) — the strictest readout: every boundary
  *    reassignment that splits a true dup pair counts against it;
  *  - `drop_recall` — the same on DISTINCT dropped ids (q357's actual
  *    dedup decision): an id still drops if ANY same-cluster partner
  *    survives the reassignment, so this is the number that prices the
  *    approximation for the pipeline.
  *
  * Run at sf1 (k=39 — two-level forced for measurement; the query
  * itself runs flat there) and sf3 (k=117 — the regime the query
  * actually switches at). The acceptance bar (VERDICT r12 #3): pair
  * recall ≥ 0.9, else add nprobe=2. All set arithmetic is distributed
  * (intersect/count on DataFrames — no driver-side pair collections).
  */
object IvfRecall {

  def pairsOf(assigned: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val a = assigned.select(col("cl"), col("vec_id").as("id_keep"),
      col("embedding").as("ea"))
    val b = assigned.select(col("cl"), col("vec_id").as("id_dup"),
      col("embedding").as("eb"))
    a.join(b, Seq("cl"))
      .filter(col("id_keep") < col("id_dup") &&
        expr("cosine_similarity(ea, eb)") > 0.4)
      .select("id_keep", "id_dup")
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder(GraftSession.envCpus(32)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.ensureRegistered(spark)
    def f3(v: Double) = "%.4f".formatLocal(java.util.Locale.ROOT, v)
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/repo/testdata-sf1", "/root/repo/testdata-sf3")
    val out = dirs.map { dir =>
      val e = Tables.loadBalanced(spark, dir, "embeddings")
      val n = Tables.load(spark, dir, "embeddings").count()
      val k = math.max(8L, n / 512L)
      val flat = Dedup.semdedupAssign(e, k, twoLevel = false)
        .localCheckpoint() // reused by agree + pairs: compute the n·k once
      val pFlat = pairsOf(flat)
      val nFlat = pFlat.count()
      val dFlat = pFlat.select("id_dup").distinct()
      val nDropFlat = dFlat.count()
      val byProbe = Seq(1, 2, 3).map { np =>
        val two = Dedup.semdedupAssign(e, k, twoLevel = true, nprobe = np)
          .localCheckpoint()
        val agree = flat.select(col("vec_id"), col("cl").as("cf"))
          .join(two.select(col("vec_id"), col("cl").as("ct")), "vec_id")
          .filter(col("cf") === col("ct")).count().toDouble / n
        val pTwo = pairsOf(two)
        val nInter = pFlat.intersect(pTwo).count()
        val nDropInter = dFlat.intersect(pTwo.select("id_dup").distinct())
          .count()
        s""""nprobe$np":{"agree":${f3(agree)}""" +
          s""","pairs_inter":$nInter""" +
          s""","pair_recall":${f3(nInter.toDouble / nFlat)}""" +
          s""","drop_recall":${f3(nDropInter.toDouble / nDropFlat)}}"""
      }
      val line = s""""$dir":{"n":$n,"k":$k,"pairs_flat":$nFlat""" +
        s""","drops_flat":$nDropFlat,${byProbe.mkString(",")}}"""
      println(s"IVFRECALL $line")
      line
    }
    println(s"""{"metric":"ivf_recall","sfs":{${out.mkString(",")}}}""")
    spark.stop()
  }
}
