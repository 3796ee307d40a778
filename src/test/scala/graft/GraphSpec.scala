package graft

import graft.api._
import org.apache.spark.sql.functions._

/** PageRank (operators.Graph): structural sanity on hand-built graphs and
  * the determinism contract (bit-identical under repartitioning) that the
  * floor-scaled contribution sums are supposed to guarantee.
  */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  /** Undirected star: center "c" joined to k leaves. */
  private def star(k: Int) = {
    val e = (1 to k).map(i => ("c", s"l$i")) ++ (1 to k).map(i => (s"l$i", "c"))
    e.toDF("src", "dst")
  }

  test("star graph: center outranks leaves, leaves are exactly equal") {
    val r = star(8).pageRank("src", "dst").collect()
      .map(x => x.getString(0) -> x.getDouble(2)).toMap
    val leaves = (1 to 8).map(i => r(s"l$i"))
    assert(leaves.distinct.size == 1, s"leaf ranks diverged: $leaves")
    assert(r("c") > leaves.head * 2, s"center not dominant: $r")
  }

  test("cycle: all nodes get exactly the same rank, mass stays ~1") {
    val n = 10
    val e = (0 until n).map(i => (s"v$i", s"v${(i + 1) % n}")) ++
      (0 until n).map(i => (s"v${(i + 1) % n}", s"v$i"))
    val out = e.toDF("src", "dst").pageRank("src", "dst", iters = 5).collect()
    val ranks = out.map(_.getDouble(2))
    assert(ranks.distinct.length == 1, s"cycle ranks diverged: ${ranks.toSeq}")
    val mass = ranks.sum
    assert(math.abs(mass - 1.0) < 1e-9, s"rank mass drifted: $mass")
  }

  test("ranks are bit-identical under repartitioning (floor-scaled sums)") {
    // A messier graph: bipartite doc/term edges derived from documents.
    val docs = Tables.load(spark, sf0001, "documents").limit(120)
    val e = docs.select(col("doc_id").cast("string").as("src"),
        explode(slice(split(col("text"), " "), 1, 12)).as("dst"))
      .distinct()
    val und = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
    def run(df: org.apache.spark.sql.DataFrame) =
      df.pageRank("src", "dst").collect()
        .map(r => (r.getString(0), r.getLong(1),
          java.lang.Double.doubleToLongBits(r.getDouble(2)))).sortBy(_._1)
    val a = run(und.repartition(1))
    val b = run(und.repartition(7, col("dst")))
    assert(a.sameElements(b), "pageRank not partition-invariant")
  }

  test("directed graph: a source-only node keeps its teleport mass") {
    // "a" points at "b"/"c" but nothing points back: a must stay in the
    // ranking at exactly teleport/n (it receives no contributions), not
    // silently drop out. b and c also feed each other so they have deg.
    val e = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("c", "b"))
      .toDF("src", "dst")
    val r = e.pageRank("src", "dst", iters = 3)
      .collect().map(x => x.getString(0) -> x.getDouble(2)).toMap
    assert(r.keySet == Set("a", "b", "c"), s"node dropped: $r")
    // a receives no contributions, so every iteration resets it to
    // exactly teleport/n (the default teleport is 1.0 - 0.85, which is
    // NOT the double 0.15 — see the pageRank scaladoc)
    assert(r("a") == (1.0 - 0.85) / 3,
      s"source-only node lost teleport mass: ${r("a")}")
    assert(r("b") > r("a") && r("c") > r("a"))
  }

  test("q123 triangle census on a hand-built co-purchase graph") {
    // orders o1,o2 each carry parts {1,2,3} (all three pairs reach
    // support 2 → a triangle); o3,o4 carry {3,4} (edge 3-4, support 2);
    // o5 carries {4,5} once (below support → excluded, node 5 drops out)
    val lines = Seq(
      (1L, 1L), (1L, 2L), (1L, 3L),
      (2L, 1L), (2L, 2L), (2L, 3L),
      (3L, 3L), (3L, 4L),
      (4L, 3L), (4L, 4L),
      (5L, 4L), (5L, 5L))
    val tmp = java.nio.file.Files.createTempDirectory("tri").toString
    lines.toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$tmp/lineitem.parquet")
    val r = operators.Graph.q123.run(spark, tmp).collect().head
    assert(r.getLong(0) == 4, s"n_nodes: $r")      // {1,2,3,4}
    assert(r.getLong(1) == 4, s"n_edges: $r")      // 12,13,23,34
    assert(r.getLong(2) == 1, s"n_wedges: $r")     // (2,3) from vertex 1
    assert(r.getLong(3) == 1, s"n_triangles: $r")  // 1-2-3
    assert(r.getDouble(4) == 1.0)
  }

  test("q119 supplier/part ranking is consistent with degree dominance") {
    val out = operators.Graph.q119.run(spark, sf001).collect()
    assert(out.length == 20)
    // ranks strictly positive and sorted descending (with node tiebreak)
    val ranks = out.map(_.getDouble(2))
    assert(ranks.forall(_ > 0))
    assert(ranks.sameElements(ranks.sortBy(-_)))
  }

  test("kCore on a hand-built graph: triangle+tail leaves exactly the triangle") {
    import spark.implicits._
    // triangle 1-2-3 (the 2-core) with a pendant path 3-4-5 peeled away
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("a", "b")
    val core = operators.Graph.kCore(edges, "a", "b", k = 2)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(core.toSeq == Seq((1L, 2L), (2L, 2L), (3L, 2L)))
    // k above the max core → empty
    assert(operators.Graph.kCore(edges, "a", "b", k = 3).count() == 0)
  }

  test("q150's 12-round peel IS the fixpoint k-core on the real graph") {
    import spark.implicits._
    // the query's oracle-matched peel must equal the fixpoint operator:
    // proves the 12-round unroll has converged (fixpoint at round ≤ 12)
    val li = Tables.load(spark, sf001, "lineitem").select("l_orderkey", "l_partkey")
    val e0 = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("p1"), col("b.l_partkey").as("p2"))
      .agg(count(lit(1)).as("supp")).filter(col("supp") >= 2)
      .select("p1", "p2")
    val fix = operators.Graph.kCore(e0, "p1", "p2", k = 3)
      .as[(Long, Long)].collect().toSet
    val peeled = operators.Graph.q150.run(spark, sf001)
      .as[(Long, Long)].collect().toSet
    assert(fix == peeled && fix.nonEmpty)
  }

  test("hits: hand-computed 2-round scores on a tiny bipartite graph") {
    // s1→{p1,p2,p3}, s2→{p2,p3}. Unnormalized rounds:
    //   a1 = indegree: p1=1 p2=2 p3=2
    //   h1: s1=1+2+2=5, s2=2+2=4
    //   a2: p1=5, p2=5+4=9, p3=9
    //   h2: s1=5+9+9=23, s2=9+9=18
    val e = Seq(("s1", "p1"), ("s1", "p2"), ("s1", "p3"),
      ("s2", "p2"), ("s2", "p3")).toDF("src", "dst")
    val (hub, auth) = operators.Graph.hits(e, "src", "dst", rounds = 2)
    val h = hub.as[(String, Long)].collect().toMap
    val a = auth.as[(String, Long)].collect().toMap
    assert(h == Map("s1" -> 23L, "s2" -> 18L), s"hubs: $h")
    assert(a == Map("p1" -> 5L, "p2" -> 9L, "p3" -> 9L), s"auths: $a")
  }

  test("labelPropagation: two triangles with a bridge, exact 2-round labels") {
    // Triangles {1,2,3}, {4,5,6} bridged by 3–4. Synchronous min-tiebreak
    // rounds resolve by hand to l2 = {1→1, 2→1, 3→1, 4→4, 5→3, 6→3}:
    // the left triangle unifies on label 1 and no left label crosses the
    // bridge into {5,6}.
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
      (5L, 6L), (3L, 4L)).toDF("u", "v")
    val l2 = operators.Graph
      .labelPropagation(e, "u", "v", iters = 2, symmetrize = true)
      .as[(Long, Long)].collect().toMap
    assert(l2 == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 3L, 6L -> 3L), s"labels: $l2")
  }

  test("labelPropagation is partition-invariant") {
    val docs = Tables.load(spark, sf0001, "documents").limit(80)
    val e = docs.select(col("doc_id").cast("string").as("src"),
        explode(slice(split(col("text"), " "), 1, 8)).as("dst"))
      .distinct()
    def run(df: org.apache.spark.sql.DataFrame) = operators.Graph
      .labelPropagation(df, "src", "dst", iters = 2, symmetrize = true)
      .as[(String, String)].collect().sorted.toSeq
    assert(run(e.repartition(1)) == run(e.repartition(7, col("dst"))))
  }

  // Sorted distinct arrays of size 0, 1, 2, 3 and 6; an array shorter than
  // the tuple expands to nothing.
  private val baskets = Seq(Seq.empty[Long], Seq(7L), Seq(2L, 9L), Seq(1L, 3L, 4L),
    Seq(1L, 3L, 4L, 8L, 10L, 15L))

  test("pairExplode emits every i < j pair once and carries the other columns") {
    val in = baskets.zipWithIndex
      .map { case (ps, i) => (i.toLong, s"k$i", ps) }.toDF("id", "tag", "ps")
    val expected = baskets.zipWithIndex.flatMap { case (ps, i) =>
      for (x <- ps.indices; y <- ps.indices if x < y)
        yield (i.toLong, s"k$i", ps(x), ps(y))
    }.sorted
    for (spread <- Seq(false, true)) {
      val out = operators.Graph.pairExplode(in, "ps", spread)
      assert(out.columns.toSeq == Seq("id", "tag", "a", "b"))
      val got = out.as[(Long, String, Long, Long)].collect().toSeq.sorted
      assert(got == expected, s"spread=$spread")
    }
  }

  test("tripleExplode (q287's triple build) emits every a < b < c triple once") {
    val in = baskets.toDF("ps")
    val expected = baskets.flatMap(ps =>
      ps.combinations(3).map { case Seq(a, b, c) => (a, b, c) }).sorted
    val out = operators.Graph.tripleExplode(in, "ps")
    assert(out.columns.toSeq == Seq("a", "b", "c"))
    assert(out.as[(Long, Long, Long)].collect().toSeq.sorted == expected)
    assert(expected.size == 1 + 20)
  }
}
