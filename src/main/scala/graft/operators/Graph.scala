package graft.operators

import graft.core.Checkpoints._
import graft.{Query, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics over relationally-derived graphs. Complements the
  * connected-components operator (Dedup q46 / ConnectedComponents.scala)
  * with rank propagation.
  *
  * Scale design (100 TB): the graph never materializes adjacency lists —
  * each power iteration is one edge-keyed join + one destination-keyed
  * aggregation, the classic Pregel-as-joins shape. Edges and ranks are
  * both hash-partitioned on the node key, so AQE reuses the exchange
  * across iterations; iteration count is a fixed small constant (rank
  * deltas decay geometrically, and curation pipelines use the ranking,
  * not the fixed point). Per-edge state is 8 bytes of scaled contribution.
  *
  * Determinism contract (oracle-exact across engines): floating-point
  * addition is order-dependent, so per-node contribution sums floor-scale
  * each term to a BIGINT (`FLOOR(rank / deg * 1e15)`) and sum exact
  * integers — the same trick q118 uses. Every remaining float op
  * (division, ×0.85, +teleport) is a single IEEE-exact step evaluated in
  * the same order on both engines.
  */
object Graph {

  /** The per-round STATE side (ranks, labels, scores, frontiers — node-
    * sized) of an edge⋈state join inside an iterative operator: hash-build
    * it per partition instead of letting the join plan as sort-merge,
    * which re-SORTS the (ReuseExchange-shared) edge shuffle every round —
    * the edges never change, so that sort is pure redundant work. A
    * per-partition hash build is bounded by partition sizing at any scale
    * (broadcast would not be: state grows with the corpus and PlanAudit
    * forbids forcing it). All iterative aggregations here sum exact
    * BIGINTs, so join/reduce order cannot change results.
    */
  private[operators] def iterState(df: DataFrame): DataFrame =
    df.hint("shuffle_hash")

  /** Symmetrize an edge frame in ONE pass: each row becomes (src, dst)
    * and (dst, src) via a map-side explode. The union-of-two-selects
    * shape evaluates the (distinct-aggregated) input subtree once per
    * branch — only the exchange is ReuseExchange-shared at runtime; the
    * scan + partial-aggregate stages run twice (ProfileQuery on q119: two
    * ~100 MB lineitem scan stages where one suffices). Same row multiset,
    * different order — every consumer aggregates.
    */
  private[operators] def bothDirections(df: DataFrame, a: Column, b: Column,
      extra: Seq[(String, Column)] = Nil): DataFrame = {
    val fwdCols = a.as("src") +: b.as("dst") +: extra.map { case (n, c) => c.as(n) }
    val revCols = b.as("src") +: a.as("dst") +: extra.map { case (n, c) => c.as(n) }
    df.select(explode(array(struct(fwdCols: _*), struct(revCols: _*))).as("e"))
      .select(("e.src" +: "e.dst" +: extra.map("e." + _._1)).map(col): _*)
  }

  /** Expand a SORTED array column `psCol` into all index pairs (a, b) with
    * a < b, keeping every other column — the shared per-basket pair build
    * of q123/q150/q166/q203/q237/q283. Two codegen'd Generate nodes
    * (posexplode + explode-of-slice) replace the interpreted
    * flatten∘transform∘slice lambda, which evaluated per row with nested
    * array allocations (taskTime-dominant in profiles). The input is also
    * optionally re-spread to cluster parallelism first (`spread = true`):
    * AQE coalesces the upstream collect_list exchange by its BYTE size (a
    * few MB of arrays), blind to the ~k²/2 expansion the explode is about
    * to apply — measured 3 tasks carrying a 2.76M-row expansion on q283.
    * The re-spread must be ROUND-ROBIN (`repartition(p)`): r13 shipped
    * `repartition(p, keep…)`, which hash-partitions on exactly the key the
    * upstream groupBy exchange already established, so Catalyst elided it
    * and the expansion still ran on 3–6 AQE-coalesced tasks (r13 verdict).
    * RoundRobinPartitioning is never satisfied by an existing hash
    * partitioning, and user-numbered repartitions are exempt from AQE
    * coalescing, so the explode genuinely runs at cluster width; the
    * exchange moves only the few-MB grouped arrays. `spread` is opt-in
    * because the exchange has a fixed ~0.2 s stage cost locally: r14 A/B
    * measured 1.12–1.16× on q283 (heavy expansion, capped k ≤ 20/customer)
    * but 0.80–0.90× on the k ≤ 7 order-basket family (q287/q123/q166,
    * both round-robin and hash-spread variants) whose expansion stages are
    * sub-second — there the extra exchange is pure loss at any SF where
    * AQE's byte coalescing already widens with input size. Identical pair
    * multiset either way: pair (i, j), i < j, appears once per generation
    * order; equal values are dropped by the same a < b filter.
    */
  private[graft] def pairExplode(df: DataFrame, psCol: String,
      spread: Boolean = false): DataFrame = {
    val keep = df.columns.filterNot(_ == psCol).map(col).toSeq
    val in = if (spread) df.repartition(df.sparkSession.sparkContext.defaultParallelism) else df
    in
      .select((keep :+ col(psCol) :+
        posexplode(col(psCol)).as(Seq("i", "a"))): _*)
      .select((keep :+ col("a") :+ explode(expr(
        s"slice($psCol, i + 2, size($psCol))")).as("b")): _*)
      .filter(col("a") < col("b"))
  }

  /** All index-increasing triples (a, b, c) of a SORTED array column
    * `psCol` — q287's triple build, one level deeper than [[pairExplode]]:
    * three codegen'd Generate nodes. On a sorted distinct array the
    * index-increasing triples are exactly the a < b < c triples: a sits
    * at 0-based i, b at 0-based i+1+j (j indexes the slice starting at
    * 1-based i+2), so c's slice starts at 1-based i+j+3.
    */
  private[graft] def tripleExplode(df: DataFrame, psCol: String): DataFrame =
    df.select(col(psCol), posexplode(col(psCol)).as(Seq("i", "a")))
      .select(col(psCol), col("i"), col("a"),
        posexplode(expr(s"slice($psCol, i + 2, size($psCol))")).as(Seq("j", "b")))
      .select(col("a"), col("b"),
        explode(expr(s"slice($psCol, i + j + 3, size($psCol))")).as("c"))

  /** PageRank over an edge list, as plan-level joins (no RDD/graph
    * runtime). `edges` must contain every node as a source at least once —
    * symmetrize first for undirected graphs (dangling nodes would
    * otherwise leak rank mass).
    *
    * Determinism: per-node contribution sums are floor-scaled BIGINTs, so
    * the result is bit-identical under any partitioning or reduce order —
    * see the object scaladoc. `teleport` defaults to `1 - damping` but can
    * be pinned explicitly when an external oracle computes `1 - d` in
    * decimal (0.85 gives 0.15000000000000002 in binary).
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 3, damping: Double = 0.85,
      teleport: Option[Double] = None): DataFrame = {
    val tele = teleport.getOrElse(1.0 - damping)
    val und = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      // Materialize the edge list once: every iteration re-reads it; on a
      // real cluster this is `checkpoint` to durable storage instead of
      // executor blocks.
      .barrier()
    val deg = und.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
      .barrier()
    // Node count as a driver scalar (bounded collect, like q55's centroid
    // literal): baking the teleport term into a literal saves a broadcast
    // exchange per iteration. tele/n is the identical IEEE division an
    // oracle's CAST(.. AS DOUBLE)/CAST(n AS DOUBLE) performs.
    val n = deg.count().toDouble
    // Pre-attach the source degree to the edge so iterations never re-join
    // the degree table: each power step is exactly one edge⋈rank join +
    // one destination-keyed aggregation.
    val undD = und.join(deg, col("src") === col("node"))
      .select(col("src"), col("dst"), col("deg")).barrier()
    var r: DataFrame = deg.select(col("node"), (lit(1.0 / n)).as("rank"))
    for (_ <- 1 to iters) {
      val contrib = undD.join(iterState(r), col("src") === col("node"))
        .groupBy(col("dst"))
        .agg(sum(expr("CAST(FLOOR(rank / deg * 1e15) AS BIGINT)")).as("sm"))
      // LEFT join from the node table: on a directed graph a node with no
      // in-edges still keeps its teleport mass instead of dropping out of
      // the ranking (on symmetrized input every node has in-edges and
      // this is identical to an inner join).
      r = deg.select(col("node"))
        .join(contrib, col("node") === col("dst"), "left")
        .select(col("node"),
          (lit(tele / n) + lit(damping) *
            (coalesce(col("sm"), lit(0L)).cast("double") / lit(1e15)))
            .as("rank"))
    }
    r.join(deg.select(col("node").as("dn"), col("deg")),
        col("node") === col("dn"))
      .select(col("node"), col("deg"), col("rank"))
  }

  // -- q119: PageRank over the supplier–part bipartite graph ----------------
  //   Nodes 's<suppkey>' and 'p<partkey>', an undirected edge per distinct
  //   (supplier, part) pair that ever shipped together in lineitem.
  //   3 power iterations, damping 0.85, uniform teleport — the "which
  //   suppliers/parts are structurally central" ranking.
  val q119 = Query.sql(
    "q119_pagerank",
    (s, dir) => {
      val e = Tables.load(s, dir, "lineitem")
        .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
        .distinct()
      // Iterate on BIGINT node ids (supplier → 2·sk, part → 2·pk+1): every
      // per-iteration shuffle hashes and compares 8-byte longs instead of
      // variable-length strings; the human-readable label is rendered once
      // on the final 20-row output. The graph is isomorphic to the oracle's
      // string-keyed one, so degrees, contribution sums, and ranks are
      // bit-identical.
      val und = bothDirections(e, col("sk") * 2, col("pk") * 2 + 1)
      // teleport pinned to decimal 0.15: the oracle computes it as
      // CAST(0.15 AS DOUBLE), and 1.0 - 0.85 is 0.15000000000000002
      pageRank(und, "src", "dst", iters = 3, damping = 0.85,
          teleport = Some(0.15))
        .select(expr("CASE WHEN node % 2 = 0 THEN 's' || CAST(node DIV 2 AS STRING)" +
          " ELSE 'p' || CAST(node DIV 2 AS STRING) END").as("node"),
          col("deg"), col("rank"))
        .orderBy(desc("rank"), asc("node")).limit(20)
    },
    """WITH e AS (
      |  SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem),
      |und AS (
      |  SELECT 's' || CAST(sk AS VARCHAR) AS src,
      |         'p' || CAST(pk AS VARCHAR) AS dst FROM e
      |  UNION ALL
      |  SELECT 'p' || CAST(pk AS VARCHAR), 's' || CAST(sk AS VARCHAR) FROM e),
      |deg AS (SELECT src AS node, COUNT(*) AS deg FROM und GROUP BY src),
      |ns AS (SELECT COUNT(*) AS n FROM deg),
      |r0 AS (
      |  SELECT node, deg, CAST(1 AS DOUBLE) / CAST(n AS DOUBLE) AS rank
      |  FROM deg CROSS JOIN ns),
      |c1 AS (
      |  SELECT u.dst AS node,
      |    SUM(CAST(FLOOR(r.rank / r.deg * 1e15) AS BIGINT)) AS sm
      |  FROM und u JOIN r0 r ON u.src = r.node GROUP BY u.dst),
      |r1 AS (
      |  SELECT d.node, d.deg,
      |    CAST(0.15 AS DOUBLE) / CAST(n AS DOUBLE) +
      |      CAST(0.85 AS DOUBLE) * (CAST(sm AS DOUBLE) / 1e15) AS rank
      |  FROM deg d JOIN c1 ON d.node = c1.node CROSS JOIN ns),
      |c2 AS (
      |  SELECT u.dst AS node,
      |    SUM(CAST(FLOOR(r.rank / r.deg * 1e15) AS BIGINT)) AS sm
      |  FROM und u JOIN r1 r ON u.src = r.node GROUP BY u.dst),
      |r2 AS (
      |  SELECT d.node, d.deg,
      |    CAST(0.15 AS DOUBLE) / CAST(n AS DOUBLE) +
      |      CAST(0.85 AS DOUBLE) * (CAST(sm AS DOUBLE) / 1e15) AS rank
      |  FROM deg d JOIN c2 ON d.node = c2.node CROSS JOIN ns),
      |c3 AS (
      |  SELECT u.dst AS node,
      |    SUM(CAST(FLOOR(r.rank / r.deg * 1e15) AS BIGINT)) AS sm
      |  FROM und u JOIN r2 r ON u.src = r.node GROUP BY u.dst),
      |r3 AS (
      |  SELECT d.node, d.deg,
      |    CAST(0.15 AS DOUBLE) / CAST(n AS DOUBLE) +
      |      CAST(0.85 AS DOUBLE) * (CAST(sm AS DOUBLE) / 1e15) AS rank
      |  FROM deg d JOIN c3 ON d.node = c3.node CROSS JOIN ns)
      |SELECT node, deg, rank FROM r3
      |ORDER BY rank DESC, node LIMIT 20""".stripMargin)

  // -- q123: triangle census of the part co-purchase graph ------------------
  //   Edges: part pairs appearing together in ≥ 2 orders (the frequent-
  //   itemset support threshold keeps random one-off co-occurrence out of
  //   the graph). Triangle counting via DEGREE ORIENTATION: orient every
  //   edge from the (degree, id)-smaller endpoint to the larger, then each
  //   triangle appears as exactly ONE oriented wedge (two out-edges of its
  //   smallest vertex) closed by one oriented edge. Wedge work is bounded
  //   by Σ outdeg² ≤ O(m^1.5) instead of Σ deg² — the standard skew-proof
  //   trick (hub vertices have near-zero OUT-degree). No global rank is
  //   materialized: the orientation compares (degree, id) tuples directly,
  //   so there is no window over the node set, only key-partitioned joins.
  //   The edge build is a self-join co-partitioned on the order key with
  //   per-order quadratic bounded by lines-per-order (q08's pattern).
  val q123 = Query.sql(
    "q123_triangle_count",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem").select("l_orderkey", "l_partkey")
      // Pair build: collect each order's (sorted) part list and explode
      // index pairs map-side — one shuffle on the order key instead of a
      // sorted self-join (per-order quadratic bounded by lines/order; the
      // strict < keeps multiplicity semantics identical to the oracle's
      // line-pair self-join). The support-filtered edge set is tiny, so
      // checkpoint it: everything downstream re-reads it several times.
      val e0 = pairExplode(li.groupBy("l_orderkey")
          .agg(sort_array(collect_list(col("l_partkey"))).as("ps")), "ps")
        .groupBy(col("a").as("p1"), col("b").as("p2"))
        .agg(count(lit(1)).as("supp")).filter(col("supp") >= 2)
        .select("p1", "p2")
        .barrier()
      val deg = e0.select(col("p1").as("p"))
        .union(e0.select(col("p2").as("p")))
        .groupBy("p").agg(count(lit(1)).as("d"))
      val ej = e0
        .join(deg.select(col("p").as("p1"), col("d").as("d1")), "p1")
        .join(deg.select(col("p").as("p2"), col("d").as("d2")), "p2")
      val fwd = col("d1") < col("d2") ||
        (col("d1") === col("d2") && col("p1") < col("p2"))
      val ed = ej.select(
          when(fwd, col("p1")).otherwise(col("p2")).as("u_p"),
          when(fwd, col("p2")).otherwise(col("p1")).as("v_p"),
          when(fwd, col("d2")).otherwise(col("d1")).as("v_d"))
        .barrier() // read 3× below (wedge self-join + closure)
      val w = ed.as("x").join(ed.as("y"),
          col("x.u_p") === col("y.u_p") &&
            (col("x.v_d") < col("y.v_d") ||
              (col("x.v_d") === col("y.v_d") && col("x.v_p") < col("y.v_p"))))
        .select(col("x.v_p").as("a"), col("y.v_p").as("b"))
      // One pass over the wedges: LEFT-join the closing edge as a marker,
      // then count wedges and closed wedges in a single aggregation
      // (separate count() branches would re-run the wedge join per count).
      val closed = w.join(
        ed.select(col("u_p").as("a"), col("v_p").as("b"), lit(1).as("hit")),
        Seq("a", "b"), "left")
      deg.agg(count(lit(1)).as("n_nodes"))
        .crossJoin(ed.agg(count(lit(1)).as("n_edges")))
        .crossJoin(closed.agg(count(lit(1)).as("n_wedges"),
          count(col("hit")).as("n_triangles")))
        .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
          col("n_triangles"),
          // NULL (not an error / not inf) on a wedge-free graph: ANSI Spark
          // raises DIVIDE_BY_ZERO otherwise — hit at sf1, where the synth
          // corpus has no support>=2 pairs at all
          when(col("n_wedges") === 0, lit(null).cast("double"))
            .otherwise(col("n_triangles").cast("double") /
              col("n_wedges").cast("double"))
            .as("closure_rate"))
    },
    """WITH e0 AS (
      |  SELECT a.l_partkey p1, b.l_partkey p2
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |deg AS (
      |  SELECT p, COUNT(*) AS d FROM (
      |    SELECT p1 AS p FROM e0 UNION ALL SELECT p2 AS p FROM e0) GROUP BY p),
      |ej AS (
      |  SELECT p1, p2, d1.d AS d1, d2.d AS d2
      |  FROM e0 JOIN deg d1 ON p1 = d1.p JOIN deg d2 ON p2 = d2.p),
      |ed AS (
      |  SELECT CASE WHEN d1 < d2 OR (d1 = d2 AND p1 < p2) THEN p1 ELSE p2 END AS u_p,
      |         CASE WHEN d1 < d2 OR (d1 = d2 AND p1 < p2) THEN p2 ELSE p1 END AS v_p,
      |         CASE WHEN d1 < d2 OR (d1 = d2 AND p1 < p2) THEN d2 ELSE d1 END AS v_d
      |  FROM ej),
      |w AS (
      |  SELECT x.v_p AS a, y.v_p AS b FROM ed x JOIN ed y
      |  ON x.u_p = y.u_p AND (x.v_d < y.v_d OR (x.v_d = y.v_d AND x.v_p < y.v_p))),
      |tri AS (
      |  SELECT COUNT(*) AS t FROM w JOIN ed ON w.a = ed.u_p AND w.b = ed.v_p)
      |SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
      |  (SELECT COUNT(*) FROM ed) AS n_edges,
      |  (SELECT COUNT(*) FROM w) AS n_wedges,
      |  t AS n_triangles,
      |  CASE WHEN (SELECT COUNT(*) FROM w) = 0 THEN NULL
      |    ELSE CAST(t AS DOUBLE) / CAST((SELECT COUNT(*) FROM w) AS DOUBLE)
      |    END AS closure_rate
      |FROM tri""".stripMargin)

  /** Personalized PageRank: teleport mass returns to the SEED set only, so
    * ranks measure proximity to the seeds ("related items") instead of
    * global centrality. Same Pregel-as-joins iteration and floor-scaled
    * deterministic sums as [[pageRank]]; r₀ is the restart distribution
    * (1/|S| on seeds, 0 elsewhere), each step adds teleport/|S| on seeds.
    * Unreached nodes stay at rank 0 (kept by the LEFT join).
    */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: Seq[Any], iters: Int = 3, damping: Double = 0.85,
      teleport: Double = 0.15): DataFrame = {
    require(seeds.nonEmpty, "personalizedPageRank needs at least one seed")
    val und = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .barrier()
    val deg = und.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
      .barrier()
    val undD = und.join(deg, col("src") === col("node"))
      .select(col("src"), col("dst"), col("deg")).barrier()
    val nS = seeds.size
    def teleCol = when(col("node").isin(seeds: _*),
      lit(teleport) / lit(nS.toDouble)).otherwise(lit(0.0))
    var r: DataFrame = deg.select(col("node"),
      when(col("node").isin(seeds: _*), lit(1.0) / lit(nS.toDouble))
        .otherwise(lit(0.0)).as("rank"))
    for (_ <- 1 to iters) {
      val contrib = undD.join(iterState(r), col("src") === col("node"))
        .groupBy(col("dst"))
        .agg(sum(expr("CAST(FLOOR(rank / deg * 1e15) AS BIGINT)")).as("sm"))
      r = deg.select(col("node"))
        .join(contrib, col("node") === col("dst"), "left")
        .select(col("node"),
          (teleCol + lit(damping) *
            (coalesce(col("sm"), lit(0L)).cast("double") / lit(1e15)))
            .as("rank"))
    }
    r.join(deg.select(col("node").as("dn"), col("deg")),
        col("node") === col("dn"))
      .select(col("node"), col("deg"), col("rank"))
  }

  /** One k-core peel round: keep only edges whose BOTH endpoints currently
    * have degree ≥ k. `s` is a symmetrized (u, v) edge frame. */
  private def peelStep(s: DataFrame, k: Int): DataFrame = {
    val good = s.groupBy("u").agg(count(lit(1)).as("d"))
      .filter(col("d") >= lit(k)).select(col("u").as("keep"))
    s.join(good, col("u") === col("keep"), "left_semi")
      .join(good.select(col("keep").as("keep2")),
        col("v") === col("keep2"), "left_semi")
  }

  /** Peel exactly `rounds` times (deterministic work shape — the form the
    * q150 oracle unrolls), returning surviving (node, core_deg). Once the
    * fixpoint is reached further rounds are no-ops, so with enough rounds
    * this IS the k-core. */
  def peelRounds(sym: DataFrame, k: Int, rounds: Int): DataFrame = {
    var s = sym.barrier()
    var prev = s.count()
    var i = 0
    var fixed = prev == 0
    while (i < rounds && !fixed) {
      s = peelStep(s, k).barrier()
      val n = s.count()
      // a round that removes nothing makes every later round a no-op, so
      // stopping early returns EXACTLY the R-round result (the count is
      // free: the checkpoint materializes the round anyway)
      fixed = n == prev
      prev = n
      i += 1
    }
    s.groupBy(col("u").as("node")).agg(count(lit(1)).as("core_deg"))
  }

  /** k-core to FIXPOINT: peel until the edge set stops shrinking (the
    * per-round count() doubles as the lineage-truncating materialization,
    * the ConnectedComponents pattern). State per round is the shrinking
    * edge set itself — degree recount and two semi-joins, all partitioned
    * on the node key; nothing driver-side but one long per round. */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      maxIters: Int = 50): DataFrame = {
    // Self-loops would inflate their node's degree by 2 and never peel;
    // null endpoints can't join. Both are dropped up front. Parallel
    // (duplicate) edges are honored as multigraph degrees — dedup first
    // if simple-graph semantics are wanted.
    val e = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull &&
        col("u") =!= col("v"))
    var s = e.union(e.select(col("v").as("u"), col("u").as("v")))
      .barrier()
    var prev = s.count()
    var iters = 0
    var done = prev == 0
    while (!done && iters < maxIters) {
      s = peelStep(s, k).barrier()
      val n = s.count()
      done = n == prev || n == 0
      prev = n
      iters += 1
    }
    s.groupBy(col("u").as("node")).agg(count(lit(1)).as("core_deg"))
  }

  // -- q150: 3-core of the part co-purchase graph ---------------------------
  //   "Parts that remain after repeatedly discarding weakly-connected
  //   ones" — the density-peeling operator (Seidman 1983; Batagelj–Zaveršnik
  //   peeling). The query form peels a FIXED 12 rounds so the DuckDB
  //   oracle can unroll the identical recurrence; the sf0.01 graph reaches
  //   its fixpoint at round 8 (GraphSpec pins fixpoint == 12-round peel),
  //   so the result is the true 3-core with 4 rounds of margin. Scale: the
  //   edge set only shrinks; every round is one map-side-combined degree
  //   count plus two key-partitioned semi-joins, checkpointed so lineage
  //   stays flat — the Pregel-as-joins shape shared with pageRank.
  val q150 = {
    val k = 3
    val rounds = 12
    val goodSub = (i: Int) =>
      s"(SELECT u FROM s${i - 1} GROUP BY u HAVING COUNT(*) >= $k)"
    // MATERIALIZED: each round references its predecessor 4×; inlined
    // CTEs would expand 4^12 ways and exhaust file handles on the scan.
    val roundsSql = (1 to rounds).map(i =>
      s"""s$i AS MATERIALIZED (SELECT u, v FROM s${i - 1}
         |  WHERE u IN ${goodSub(i)} AND v IN ${goodSub(i)})""".stripMargin)
      .mkString(",\n")
    Query.sql(
      "q150_kcore",
      (s, dir) => {
        val li = Tables.load(s, dir, "lineitem").select("l_orderkey", "l_partkey")
        // q123's one-shuffle pair build (order-key group + map-side index
        // pairs), proven equal to the oracle's line-pair self-join there.
        val e0 = pairExplode(li.groupBy("l_orderkey")
            .agg(sort_array(collect_list(col("l_partkey"))).as("ps")), "ps")
          .groupBy(col("a").as("p1"), col("b").as("p2"))
          .agg(count(lit(1)).as("supp")).filter(col("supp") >= 2)
          .select("p1", "p2")
        val sym = e0.select(col("p1").as("u"), col("p2").as("v"))
          .union(e0.select(col("p2").as("u"), col("p1").as("v")))
        peelRounds(sym, k, rounds).orderBy("node")
      },
      s"""WITH e0 AS MATERIALIZED (
         |  SELECT a.l_partkey p1, b.l_partkey p2
         |  FROM lineitem a JOIN lineitem b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |s0 AS MATERIALIZED (
         |  SELECT p1 u, p2 v FROM e0 UNION ALL SELECT p2, p1 FROM e0),
         |$roundsSql
         |SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS core_deg
         |FROM s$rounds GROUP BY u ORDER BY node""".stripMargin)
  }

  // -- q166: association rules from co-purchase pairs -----------------------
  //   Market-basket rules over q123's frequent-pair machinery: per-order
  //   DISTINCT part sets → pair supports (one order-key shuffle, map-side
  //   index pairs) and single-item supports, then confidence
  //   supp(a∪b)/supp(a) for both rule directions. Ranking ties break on
  //   integer ids; confidence is one integer division to double (exact
  //   both engines). Top-20 via TakeOrdered — no global sort.
  val q166 = Query.sql(
    "q166_assoc_rules",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
        .select("l_orderkey", "l_partkey").distinct()
      val item = li.groupBy(col("l_partkey").as("p")).agg(count(lit(1)).as("supp_p"))
      val pairs = pairExplode(li.groupBy("l_orderkey")
          .agg(sort_array(collect_set(col("l_partkey"))).as("ps")), "ps")
        .groupBy(col("a").as("p1"), col("b").as("p2"))
        .agg(count(lit(1)).as("supp_pair")).filter(col("supp_pair") >= 3)
      // NOTE the two rule directions below each reference `pairs` and the
      // INITIAL plan shows 3 lineitem scans — but at runtime ReuseExchange
      // dedups the identical pair-build aggregate, so the third scan never
      // executes. A barrier() here was tried (round 10) and measured
      // strictly worse-or-equal: 1.56s → 2.98s at sf0.1 (same-condition
      // sweeps — eager materialization replaced a reuse that was already
      // free) and neutral at sf1 (10.5s median standalone both ways). The
      // q166 pin documents the initial-plan shape; don't "fix" it again.
      val rules = pairs
        .select(col("p1").as("ante"), col("p2").as("cons"), col("supp_pair"))
        .unionAll(pairs.select(col("p2").as("ante"), col("p1").as("cons"),
          col("supp_pair")))
      rules.join(item.withColumnRenamed("p", "ante"), Seq("ante"))
        .select(col("ante"), col("cons"), col("supp_pair"),
          col("supp_p").as("supp_ante"),
          (col("supp_pair").cast("double") / col("supp_p").cast("double"))
            .as("confidence"))
        .orderBy(desc("confidence"), desc("supp_pair"), asc("ante"), asc("cons"))
        .limit(20)
    },
    """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |item AS (SELECT l_partkey AS p, COUNT(*) AS supp_p FROM li GROUP BY 1),
      |pairs AS (
      |  SELECT a.l_partkey p1, b.l_partkey p2, COUNT(*) AS supp_pair
      |  FROM li a JOIN li b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 3),
      |rules AS (
      |  SELECT p1 AS ante, p2 AS cons, supp_pair FROM pairs
      |  UNION ALL
      |  SELECT p2 AS ante, p1 AS cons, supp_pair FROM pairs)
      |SELECT ante, cons, supp_pair, supp_p AS supp_ante,
      |  CAST(supp_pair AS DOUBLE) / CAST(supp_p AS DOUBLE) AS confidence
      |FROM rules JOIN item ON rules.ante = item.p
      |ORDER BY confidence DESC, supp_pair DESC, ante, cons LIMIT 20""".stripMargin)

  // -- q170: personalized PageRank from a supplier seed set -----------------
  //   "Parts and suppliers most related to suppliers 1–5" — q119's graph
  //   with the teleport mass pinned to the seeds. The oracle unrolls the
  //   identical floor-scaled recurrence; contribution sums stay < 1e15
  //   (total rank mass ≤ 1), so every HUGEINT→DOUBLE conversion is exact.
  val q170 = {
    val seeds = (1 to 5).map(i => s"s$i")
    val seedList = seeds.map(s => s"'$s'").mkString(", ")
    val teleSql = s"""CASE WHEN d.node IN ($seedList)
                     |    THEN CAST(0.15 AS DOUBLE) / CAST(5 AS DOUBLE)
                     |    ELSE CAST(0 AS DOUBLE) END""".stripMargin
    val rounds = (1 to 3).map(i =>
      s"""c$i AS (
         |  SELECT u.dst AS node,
         |    SUM(CAST(FLOOR(r.rank / r.deg * 1e15) AS BIGINT)) AS sm
         |  FROM und u JOIN r${i - 1} r ON u.src = r.node GROUP BY u.dst),
         |r$i AS (
         |  SELECT d.node, d.deg,
         |    $teleSql
         |      + CAST(0.85 AS DOUBLE) *
         |        (CAST(COALESCE(c$i.sm, 0) AS DOUBLE) / 1e15) AS rank
         |  FROM deg d LEFT JOIN c$i ON d.node = c$i.node)""".stripMargin)
      .mkString(",\n")
    Query.sql(
      "q170_personalized_pagerank",
      (s, dir) => {
        val e = Tables.load(s, dir, "lineitem")
          .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
          .distinct()
        // Same BIGINT-id iteration core as q119 (supplier → 2·sk, part →
        // 2·pk+1); seeds s1..s5 become ids 2,4,6,8,10 and the label is
        // rendered once on the bounded output.
        val und = bothDirections(e, col("sk") * 2, col("pk") * 2 + 1)
        personalizedPageRank(und, "src", "dst", (1 to 5).map(_ * 2L), iters = 3,
            damping = 0.85, teleport = 0.15)
          .select(expr("CASE WHEN node % 2 = 0 THEN 's' || CAST(node DIV 2 AS STRING)" +
            " ELSE 'p' || CAST(node DIV 2 AS STRING) END").as("node"),
            col("deg"), col("rank"))
          .orderBy(desc("rank"), asc("node")).limit(20)
      },
      s"""WITH e AS (
         |  SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem),
         |und AS (
         |  SELECT 's' || CAST(sk AS VARCHAR) AS src,
         |         'p' || CAST(pk AS VARCHAR) AS dst FROM e
         |  UNION ALL
         |  SELECT 'p' || CAST(pk AS VARCHAR), 's' || CAST(sk AS VARCHAR) FROM e),
         |deg AS (SELECT src AS node, COUNT(*) AS deg FROM und GROUP BY src),
         |r0 AS (
         |  SELECT d.node, d.deg,
         |    CASE WHEN d.node IN ($seedList)
         |      THEN CAST(1 AS DOUBLE) / CAST(5 AS DOUBLE)
         |      ELSE CAST(0 AS DOUBLE) END AS rank
         |  FROM deg d),
         |$rounds
         |SELECT node, deg, rank FROM r3
         |ORDER BY rank DESC, node LIMIT 20""".stripMargin)
  }

  // -- q203: local clustering coefficient ------------------------------------
  //   Per-node closure: cc(v) = 2·T(v) / (deg(v)·(deg(v)−1)) over the q123
  //   co-purchase graph — the "are my neighbours neighbours" score that
  //   separates hub-like parts from clique-like ones. Same degree-oriented
  //   wedge enumeration as q123 (each triangle materializes exactly once,
  //   Σ outdeg² work bound), then the found triangle's THREE corners
  //   explode to per-node counts — 3 rows per triangle, not per wedge.
  //   cc is a BIGINT rational; nodes with degree < 2 report 0.
  val q203 = Query.sql(
    "q203_clustering_coeff",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem").select("l_orderkey", "l_partkey")
      val e0 = pairExplode(li.groupBy("l_orderkey")
          .agg(sort_array(collect_list(col("l_partkey"))).as("ps")), "ps")
        .groupBy(col("a").as("p1"), col("b").as("p2"))
        .agg(count(lit(1)).as("supp")).filter(col("supp") >= 2)
        .select("p1", "p2")
        .barrier()
      val deg = e0.select(col("p1").as("p"))
        .union(e0.select(col("p2").as("p")))
        .groupBy("p").agg(count(lit(1)).as("d"))
      val ej = e0
        .join(deg.select(col("p").as("p1"), col("d").as("d1")), "p1")
        .join(deg.select(col("p").as("p2"), col("d").as("d2")), "p2")
      val fwd = col("d1") < col("d2") ||
        (col("d1") === col("d2") && col("p1") < col("p2"))
      val ed = ej.select(
          when(fwd, col("p1")).otherwise(col("p2")).as("u_p"),
          when(fwd, col("p2")).otherwise(col("p1")).as("v_p"),
          when(fwd, col("d2")).otherwise(col("d1")).as("v_d"))
        .barrier()
      val tri = ed.as("x").join(ed.as("y"),
          col("x.u_p") === col("y.u_p") &&
            (col("x.v_d") < col("y.v_d") ||
              (col("x.v_d") === col("y.v_d") && col("x.v_p") < col("y.v_p"))))
        .select(col("x.u_p").as("u"), col("x.v_p").as("a"),
          col("y.v_p").as("b"))
        .join(ed.select(col("u_p").as("a"), col("v_p").as("b")), Seq("a", "b"))
      val perNode = tri
        .select(explode(array(col("u"), col("a"), col("b"))).as("p"))
        .groupBy("p").agg(count(lit(1)).as("t"))
      deg.join(perNode, Seq("p"), "left")
        .select(col("p").as("node"), col("d").as("degree"),
          coalesce(col("t"), lit(0L)).as("n_triangles"),
          when(col("d") < 2, lit(0.0))
            .otherwise((coalesce(col("t"), lit(0L)) * 2).cast("double") /
              (col("d") * (col("d") - 1)).cast("double")).as("cc"))
        .filter(col("n_triangles") > 0)
        .orderBy("node")
    },
    """WITH e0 AS (
      |  SELECT a.l_partkey p1, b.l_partkey p2
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |deg AS (
      |  SELECT p, COUNT(*) AS d FROM (
      |    SELECT p1 AS p FROM e0 UNION ALL SELECT p2 AS p FROM e0) GROUP BY p),
      |ej AS (
      |  SELECT p1, p2, d1.d AS d1, d2.d AS d2
      |  FROM e0 JOIN deg d1 ON p1 = d1.p JOIN deg d2 ON p2 = d2.p),
      |ed AS (
      |  SELECT CASE WHEN d1 < d2 OR (d1 = d2 AND p1 < p2) THEN p1 ELSE p2 END AS u_p,
      |         CASE WHEN d1 < d2 OR (d1 = d2 AND p1 < p2) THEN p2 ELSE p1 END AS v_p,
      |         CASE WHEN d1 < d2 OR (d1 = d2 AND p1 < p2) THEN d2 ELSE d1 END AS v_d
      |  FROM ej),
      |tri AS (
      |  SELECT x.u_p AS u, x.v_p AS a, y.v_p AS b FROM ed x JOIN ed y
      |    ON x.u_p = y.u_p AND (x.v_d < y.v_d OR
      |      (x.v_d = y.v_d AND x.v_p < y.v_p))
      |  WHERE EXISTS (SELECT 1 FROM ed
      |    WHERE ed.u_p = x.v_p AND ed.v_p = y.v_p)),
      |corners AS (
      |  SELECT u AS p FROM tri UNION ALL SELECT a FROM tri
      |  UNION ALL SELECT b FROM tri),
      |pn AS (SELECT p, COUNT(*) AS t FROM corners GROUP BY p)
      |SELECT deg.p AS node, deg.d AS degree, pn.t AS n_triangles,
      |  CASE WHEN deg.d < 2 THEN 0.0
      |    ELSE CAST(pn.t * 2 AS DOUBLE) /
      |      CAST(deg.d * (deg.d - 1) AS DOUBLE) END AS cc
      |FROM deg JOIN pn ON deg.p = pn.p
      |WHERE pn.t > 0 ORDER BY node""".stripMargin)

  // -- q233: degree distribution + CCDF of the supplier–part graph ----------
  //   The first diagnostic run on any production graph: the degree
  //   histogram and its complementary CDF (what fraction of nodes have
  //   degree ≥ d) — how hub-heaviness, skew-join risk, and power-law
  //   tails get spotted before an algorithm is launched on 10^11 edges.
  //   Degrees are one distinct-edge rollup; the histogram is bounded by
  //   |distinct degrees| so the CCDF window runs over a tiny frame, never
  //   the nodes. All counts BIGINT; the share division is exact-input
  //   IEEE.
  val q233 = Query.sql(
    "q233_degree_distribution",
    (s, dir) => {
      val e = Tables.load(s, dir, "lineitem")
        .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
        .distinct()
      val deg = e.select(concat(lit("s"), col("sk").cast("string")).as("node"))
        .union(e.select(concat(lit("p"), col("pk").cast("string")).as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val hist = deg.groupBy("deg").agg(count(lit(1)).as("n_nodes"))
      val wDesc = org.apache.spark.sql.expressions.Window
        .orderBy(desc("deg"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val wAll = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
      hist
        .withColumn("n_ge", sum(col("n_nodes")).over(wDesc))
        .withColumn("total", sum(col("n_nodes")).over(wAll))
        .select(col("deg"), col("n_nodes"),
          col("n_ge"),
          (col("n_ge").cast("double") / col("total").cast("double"))
            .as("ccdf"))
        .orderBy("deg")
    },
    """WITH e AS (
      |  SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem),
      |deg AS (
      |  SELECT node, COUNT(*) AS deg FROM (
      |    SELECT 's' || CAST(sk AS VARCHAR) AS node FROM e
      |    UNION ALL
      |    SELECT 'p' || CAST(pk AS VARCHAR) FROM e)
      |  GROUP BY node),
      |hist AS (SELECT deg, COUNT(*) AS n_nodes FROM deg GROUP BY deg)
      |SELECT deg, n_nodes,
      |  CAST(SUM(n_nodes) OVER (ORDER BY deg DESC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_ge,
      |  CAST(SUM(n_nodes) OVER (ORDER BY deg DESC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) /
      |    CAST(SUM(n_nodes) OVER () AS DOUBLE) AS ccdf
      |FROM hist ORDER BY deg""".stripMargin)

  /** HITS hubs & authorities over a directed edge list (hubs point at
    * authorities). Returns (hubScores(src, score), authScores(dst, score))
    * after `rounds` full hub→authority→hub iterations from h₀ = 1 —
    * UNNORMALIZED, so every score is an exact BIGINT (a₁ is an in-degree;
    * every later score is a sum of BIGINTs) and the result is bit-identical
    * under any partitioning or reduce order. Callers normalize on their
    * bounded output if they need [0,1] scores (see q236). Each half-round
    * is one edge⋈score join + one key-partitioned aggregation — the
    * Pregel-as-joins shape, 8 bytes of state per node.
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int = 2): (DataFrame, DataFrame) = {
    require(rounds >= 1, "hits needs at least one round")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .barrier() // read 2·rounds times
    var auth = e.groupBy("dst").agg(count(lit(1)).as("score"))
    var hub = e.join(auth, "dst").groupBy("src")
      .agg(sum(col("score")).as("score"))
    for (_ <- 2 to rounds) {
      auth = e.join(hub, "src").groupBy("dst")
        .agg(sum(col("score")).as("score"))
      hub = e.join(auth, "dst").groupBy("src")
        .agg(sum(col("score")).as("score"))
    }
    (hub, auth)
  }

  /** Synchronous label-propagation communities over an UNDIRECTED edge
    * list (pass both directions, or use `symmetrize = true`). Starts from
    * label = node id; each round every node adopts the MODE of its
    * neighbours' labels with ties broken by the smallest label — fully
    * deterministic (textbook LPA's random update order is exactly what a
    * distributed engine can't reproduce). Returns (node, lbl) after
    * `iters` rounds. Per round: one edge⋈label join + two key-partitioned
    * aggregations; the mode is an argmin over (−count, label) structs, so
    * no window over the node set. State is 16 bytes per node.
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 2, symmetrize: Boolean = false): DataFrame = {
    require(iters >= 1, "labelPropagation needs at least one round")
    val fwd = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
    val und = (if (symmetrize)
      fwd.union(edges.select(col(dstCol).as("u"), col(srcCol).as("v")))
    else fwd).barrier()
    def round(l: DataFrame): DataFrame =
      und.join(l, col("v") === col("node"))
        .groupBy(col("u"), col("lbl")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("u"))
        .agg(min(struct((-col("cnt")).as("nc"), col("lbl").as("l"))).as("m"))
        .select(col("u").as("node"), col("m.l").as("lbl"))
    var l: DataFrame = und.select(col("u").as("node")).distinct()
      .select(col("node"), col("node").as("lbl"))
    for (_ <- 1 to iters) l = round(l)
    l
  }

  // -- q236: HITS hubs & authorities on the supplier→part graph -------------
  //   Kleinberg's mutual-reinforcement scores: a(p) = Σ h(s) over suppliers
  //   shipping p, h(s) = Σ a(p) over parts s ships. Two rounds from h₀ = 1
  //   — and UNNORMALIZED, which is the determinism trick: every
  //   intermediate score is then an exact BIGINT (a₁ is an in-degree, each
  //   later score a sum of BIGINTs), so there is no float accumulation to
  //   order. Normalization happens once, on the final bounded top-k, as a
  //   single exact-input IEEE division by the side's max. Each round is one
  //   key-partitioned join + one aggregation over the (pk, sk) pair table —
  //   the same Pregel-as-joins shape as PageRank, state 8 bytes per node.
  val q236 = Query.sql(
    "q236_hits",
    (s, dir) => {
      val e = Tables.load(s, dir, "lineitem")
        .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
        .distinct()
      val (hub, auth) = hits(e, "sk", "pk", rounds = 2)
      def topSide(scores: DataFrame, idCol: String, side: String) =
        scores
          .crossJoin(broadcast(scores.agg(max(col("score")).as("mx"))))
          .select(lit(side).as("side"), col(idCol).as("id"), col("score"),
            (col("score").cast("double") / col("mx").cast("double"))
              .as("norm"))
          .orderBy(desc("score"), asc("id")).limit(10)
      topSide(hub, "src", "hub")
        .unionAll(topSide(auth, "dst", "authority"))
        .orderBy(asc("side"), desc("score"), asc("id"))
    },
    """WITH e AS (
      |  SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem),
      |a1 AS (SELECT pk, COUNT(*) AS a1 FROM e GROUP BY pk),
      |h1 AS (SELECT sk, SUM(a1) AS h1 FROM e JOIN a1 USING (pk) GROUP BY sk),
      |a2 AS (SELECT pk, SUM(h1) AS a2 FROM e JOIN h1 USING (sk) GROUP BY pk),
      |h2 AS (SELECT sk, SUM(a2) AS h2 FROM e JOIN a2 USING (pk) GROUP BY sk),
      |hubs AS (
      |  SELECT 'hub' AS side, sk AS id, CAST(h2 AS BIGINT) AS score,
      |    CAST(h2 AS DOUBLE) / CAST((SELECT MAX(h2) FROM h2) AS DOUBLE) AS norm
      |  FROM h2 ORDER BY score DESC, id LIMIT 10),
      |auths AS (
      |  SELECT 'authority' AS side, pk AS id, CAST(a2 AS BIGINT) AS score,
      |    CAST(a2 AS DOUBLE) / CAST((SELECT MAX(a2) FROM a2) AS DOUBLE) AS norm
      |  FROM a2 ORDER BY score DESC, id LIMIT 10)
      |SELECT * FROM (SELECT * FROM hubs UNION ALL SELECT * FROM auths)
      |ORDER BY side, score DESC, id""".stripMargin)

  // -- q237: synchronous label propagation communities ----------------------
  //   Two LPA rounds over the q123 co-purchase graph (support ≥ 2): each
  //   node adopts the MODE of its neighbours' labels, ties broken by the
  //   smallest label — fully deterministic, unlike textbook random-order
  //   LPA, and genuinely different from connected components (a hub's
  //   label wins locally even inside one component). Each round is one
  //   edge⋈label join + two key-partitioned aggregations; the mode is an
  //   argmin over (−count, label) structs, so no window over the node set.
  //   Per-round state is one (node, label) pair — 16 bytes per node.
  val q237 = Query.sql(
    "q237_label_propagation",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem").select("l_orderkey", "l_partkey")
      val e0 = pairExplode(li.groupBy("l_orderkey")
          .agg(sort_array(collect_list(col("l_partkey"))).as("ps")), "ps")
        .groupBy(col("a").as("p1"), col("b").as("p2"))
        .agg(count(lit(1)).as("supp")).filter(col("supp") >= 2)
        .select("p1", "p2")
      labelPropagation(e0, "p1", "p2", iters = 2, symmetrize = true)
        .groupBy("lbl").agg(count(lit(1)).as("size"),
          min("node").as("min_node"), max("node").as("max_node"))
        .orderBy(desc("size"), asc("lbl")).limit(20)
    },
    """WITH e0 AS (
      |  SELECT a.l_partkey p1, b.l_partkey p2
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |und AS (SELECT p1 AS u, p2 AS v FROM e0
      |        UNION ALL SELECT p2, p1 FROM e0),
      |l0 AS (SELECT DISTINCT u AS node, u AS lbl FROM und),
      |c1 AS (
      |  SELECT und.u, l.lbl, COUNT(*) AS cnt
      |  FROM und JOIN l0 l ON und.v = l.node GROUP BY 1, 2),
      |l1 AS (
      |  SELECT u AS node, lbl FROM (
      |    SELECT u, lbl, ROW_NUMBER() OVER (
      |      PARTITION BY u ORDER BY cnt DESC, lbl) AS rn FROM c1)
      |  WHERE rn = 1),
      |c2 AS (
      |  SELECT und.u, l.lbl, COUNT(*) AS cnt
      |  FROM und JOIN l1 l ON und.v = l.node GROUP BY 1, 2),
      |l2 AS (
      |  SELECT u AS node, lbl FROM (
      |    SELECT u, lbl, ROW_NUMBER() OVER (
      |      PARTITION BY u ORDER BY cnt DESC, lbl) AS rn FROM c2)
      |  WHERE rn = 1)
      |SELECT lbl, COUNT(*) AS size, MIN(node) AS min_node,
      |  MAX(node) AS max_node
      |FROM l2 GROUP BY lbl
      |ORDER BY size DESC, lbl LIMIT 20""".stripMargin)

  // -- q248: bipartite projection — supplier–supplier co-shipment similarity
  //   The item-item collaborative-filtering primitive: project the
  //   supplier–part bipartite graph onto suppliers, scoring each supplier
  //   pair by cosine-normalized overlap |parts(a) ∩ parts(b)| /
  //   √(deg(a)·deg(b)). The pair build is keyed on the shared part and
  //   HARD-CAPPED at the first 64 suppliers per part (row_number by key,
  //   mirrored in the oracle — the same whale guard as q264/q283): a hot
  //   part with k ≫ 64 suppliers contributes 64²/2 pairs, not k²/2.
  //   Degrees stay UNCAPPED (the cosine denominator is the true degree);
  //   TPC-H's ~4 suppliers/part sits far under the cap, so tested outputs
  //   equal the uncapped result. The overlap count is an exact BIGINT and
  //   the two degree joins ride on a tiny broadcast. One shuffle on the
  //   part key, one on the pair key.
  val q248 = Query.sql(
    "q248_coshipment_similarity",
    (s, dir) => {
      // No barrier and no forced broadcasts (round 10): the barrier
      // localCheckpoint of the 6M-row edge set made sf1 timings unstable
      // (7.8s–54s across identical runs — block-manager placement of the
      // deserialized checkpoint blocks vs the pair explode's memory);
      // q264's shape — let runtime ReuseExchange share the distinct
      // exchange across the three consumers — is both stable and the
      // honest 100 TB plan. The degree joins carry no broadcast() hint:
      // deg is one row per SUPPLIER (corpus-sized at real SF — a forced
      // broadcast would be exactly the anti-pattern PlanAudit exists to
      // flag); the optimizer broadcasts it at test SF from size stats on
      // its own and falls back to a shuffle join at scale.
      val e = Tables.load(s, dir, "lineitem")
        .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
        .distinct()
      val deg = e.groupBy("sk").agg(count(lit(1)).as("deg"))
      // same packed agg key as q264: the pair aggregation dominates at
      // scale (identical distinct-pair cardinality crossover — one
      // 8-byte key through the hash aggregates instead of a two-long
      // struct); valid while suppkeys stay under 2³¹.
      // Crossover arithmetic (round 12): distinct pairs follow
      // space·(1−e^(−raw/space)) with raw ∝ sf and space = C(10k·sf, 2)
      // ∝ sf² — the model reproduces the DuckDB-counted 41.7M→202.8M at
      // sf1→sf3 and predicts 2.29× at sf3→sf6 (drift-free A/B measured
      // 2.33×: time tracks OUTPUT cardinality exactly, and no exact plan
      // beats its own output) and 2.15× (slope 1.10) at sf6→sf12 — the
      // probe's far-point gate. A manual two-level (pk-shard, pair)
      // partial agg was considered and rejected: within a part each pair
      // occurs once, so Spark's built-in map-side partial agg already
      // captures all available compression (≤15% at sf6); measured
      // initialPartitionNum=256 A/B showed no win (112 vs 114 s at sf6).
      //
      // r14 pair-build experiment, measured and REJECTED: rebuilding the
      // capped pairs as slice(sort_array(collect_list)) + the codegen'd
      // pairExplode Generate (the q283 basket shape; identical pair
      // multiset) A/B'd 0.67× without re-spread and 1.03× (noise) with
      // round-robin re-spread — the ReuseExchange'd SMJ self-join streams
      // the k²/2 pairs cheaper than the collect_list buffers + Generate
      // here, and the pair AGGREGATION (identical in both shapes) is
      // what dominates at scale anyway.
      val byPk248 = org.apache.spark.sql.expressions.Window.partitionBy("pk")
      val eCap = e
        .withColumn("rn", row_number().over(byPk248.orderBy("sk")))
        .filter(col("rn") <= 64)
        .drop("rn")
      val pairs = eCap.as("a").join(eCap.as("b"),
          col("a.pk") === col("b.pk") && col("a.sk") < col("b.sk"))
        .select((col("a.sk") * lit(4294967296L) + col("b.sk")).as("pair"))
        .groupBy("pair")
        .agg(count(lit(1)).as("shared"))
        .select(expr("pair DIV 4294967296").as("sa"),
          (col("pair") % lit(4294967296L)).as("sb"), col("shared"))
      pairs
        .join(deg.select(col("sk").as("sa"), col("deg").as("da")), "sa")
        .join(deg.select(col("sk").as("sb"), col("deg").as("db")), "sb")
        .select(col("sa"), col("sb"), col("shared"),
          (col("shared").cast("double") /
            sqrt(col("da").cast("double") * col("db").cast("double")))
            .as("cosine_overlap"))
        .orderBy(desc("cosine_overlap"), desc("shared"), asc("sa"), asc("sb"))
        .limit(20)
    },
    """WITH e AS (
      |  SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem),
      |deg AS (SELECT sk, COUNT(*) AS deg FROM e GROUP BY sk),
      |ecap AS (
      |  SELECT pk, sk FROM (
      |    SELECT pk, sk,
      |      ROW_NUMBER() OVER (PARTITION BY pk ORDER BY sk) AS rn FROM e)
      |  WHERE rn <= 64),
      |pairs AS (
      |  SELECT a.sk AS sa, b.sk AS sb, COUNT(*) AS shared
      |  FROM ecap a JOIN ecap b ON a.pk = b.pk AND a.sk < b.sk
      |  GROUP BY 1, 2)
      |SELECT sa, sb, shared,
      |  CAST(shared AS DOUBLE) /
      |    SQRT(CAST(da.deg AS DOUBLE) * CAST(db.deg AS DOUBLE))
      |    AS cosine_overlap
      |FROM pairs
      |JOIN deg da ON pairs.sa = da.sk
      |JOIN deg db ON pairs.sb = db.sk
      |ORDER BY cosine_overlap DESC, shared DESC, sa, sb LIMIT 20""".stripMargin)

  // -- q252: weighted PageRank over the co-shipment graph -------------------
  //   q119's propagation with EDGE STRENGTH: each (supplier, part) edge
  //   weighs its co-shipment multiplicity (lineitem rows for the pair), so
  //   rank flows proportionally to shipping volume, not mere adjacency —
  //   the centrality a procurement analysis actually wants. Per-edge
  //   contribution floor-scales rank·w/W to a BIGINT (W = source's total
  //   out-weight, attached to the edge once like q119's degree), keeping
  //   the sums order-free; rank·w/W is one double multiply + divide, the
  //   same fixed IEEE sequence on both engines. 2 iterations unrolled in
  //   the oracle. Same BIGINT node ids as q119 (supplier 2k, part 2k+1).
  val q252 = Query.sql(
    "q252_weighted_pagerank",
    (s, dir) => {
      val ew = Tables.load(s, dir, "lineitem")
        .groupBy(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
        .agg(count(lit(1)).as("w"))
      val und = bothDirections(ew, col("sk") * 2, col("pk") * 2 + 1,
          Seq("w" -> col("w")))
        .barrier()
      val wsum = und.groupBy(col("src").as("node"))
        .agg(sum(col("w")).as("wtot"))
        .barrier()
      val n = wsum.count().toDouble
      val undW = und.join(wsum, col("src") === col("node"))
        .select(col("src"), col("dst"), col("w"), col("wtot"))
        .barrier()
      var r: DataFrame = wsum.select(col("node"), lit(1.0 / n).as("rank"))
      for (_ <- 1 to 2) {
        val contrib = undW.join(iterState(r), col("src") === col("node"))
          .groupBy(col("dst"))
          .agg(sum(expr(
            "CAST(FLOOR(rank * CAST(w AS DOUBLE) / CAST(wtot AS DOUBLE)" +
              " * 1e15) AS BIGINT)")).as("sm"))
        r = wsum.select(col("node"))
          .join(contrib, col("node") === col("dst"), "left")
          .select(col("node"),
            (lit(0.15 / n) + lit(0.85) *
              (coalesce(col("sm"), lit(0L)).cast("double") / lit(1e15)))
              .as("rank"))
      }
      r.select(expr("CASE WHEN node % 2 = 0 THEN 's' || CAST(node DIV 2 AS STRING)" +
          " ELSE 'p' || CAST(node DIV 2 AS STRING) END").as("node"),
          col("rank"))
        .orderBy(desc("rank"), asc("node")).limit(20)
    },
    """WITH ew AS (
      |  SELECT l_partkey AS pk, l_suppkey AS sk, COUNT(*) AS w
      |  FROM lineitem GROUP BY 1, 2),
      |und AS (
      |  SELECT sk * 2 AS src, pk * 2 + 1 AS dst, w FROM ew
      |  UNION ALL
      |  SELECT pk * 2 + 1, sk * 2, w FROM ew),
      |ws AS (SELECT src AS node, SUM(w) AS wtot FROM und GROUP BY src),
      |ns AS (SELECT COUNT(*) AS n FROM ws),
      |r0 AS (
      |  SELECT node, CAST(1 AS DOUBLE) / CAST(n AS DOUBLE) AS rank
      |  FROM ws CROSS JOIN ns),
      |c1 AS (
      |  SELECT u.dst AS node,
      |    SUM(CAST(FLOOR(r.rank * CAST(u.w AS DOUBLE) /
      |      CAST(ws.wtot AS DOUBLE) * 1e15) AS BIGINT)) AS sm
      |  FROM und u JOIN r0 r ON u.src = r.node
      |  JOIN ws ON u.src = ws.node
      |  GROUP BY u.dst),
      |r1 AS (
      |  SELECT w.node,
      |    CAST(0.15 AS DOUBLE) / CAST(n AS DOUBLE) +
      |      CAST(0.85 AS DOUBLE) *
      |        (CAST(COALESCE(c1.sm, 0) AS DOUBLE) / 1e15) AS rank
      |  FROM ws w LEFT JOIN c1 ON w.node = c1.node CROSS JOIN ns),
      |c2 AS (
      |  SELECT u.dst AS node,
      |    SUM(CAST(FLOOR(r.rank * CAST(u.w AS DOUBLE) /
      |      CAST(ws.wtot AS DOUBLE) * 1e15) AS BIGINT)) AS sm
      |  FROM und u JOIN r1 r ON u.src = r.node
      |  JOIN ws ON u.src = ws.node
      |  GROUP BY u.dst),
      |r2 AS (
      |  SELECT w.node,
      |    CAST(0.15 AS DOUBLE) / CAST(n AS DOUBLE) +
      |      CAST(0.85 AS DOUBLE) *
      |        (CAST(COALESCE(c2.sm, 0) AS DOUBLE) / 1e15) AS rank
      |  FROM ws w LEFT JOIN c2 ON w.node = c2.node CROSS JOIN ns)
      |SELECT CASE WHEN node % 2 = 0 THEN 's' || CAST(node // 2 AS VARCHAR)
      |  ELSE 'p' || CAST(node // 2 AS VARCHAR) END AS node, rank
      |FROM r2 ORDER BY rank DESC, node LIMIT 20""".stripMargin)

  // -- q264: link prediction by resource-allocation index -------------------
  //   For supplier pairs sharing parts: RA(a,b) = Σ_{z ∈ N(a)∩N(b)} 1/deg(z)
  //   (Zhou–Lü–Zhang 2009) — like Adamic–Adar but log-free, so each term
  //   floor-scales to FLOOR(1e15 / deg) and the pair score is an exact
  //   order-free BIGINT sum. Rare shared parts (low degree) count more
  //   than hub parts — exactly the signal a "recommend a supplier"
  //   pipeline wants.
  //
  //   Plan: ONE shuffle — the pk-partitioned exchange feeds the degree
  //   window, the hub-cap row_number AND the pair self-join (ReuseExchange
  //   materializes it once). Per-part quadratic is HARD-CAPPED at the
  //   first 64 suppliers per part (ordered by key, deterministic in both
  //   engines — the q283 whale guard, actually applied here): a hot part
  //   with k ≫ 64 suppliers contributes 64²/2 pairs, not k²/2. The RA
  //   term still uses the UNCAPPED degree (the index semantics), only the
  //   pair build is bounded. TPC-H's ~4 suppliers/part sits far under the
  //   cap, so tested outputs are exactly the uncapped result.
  //
  //   Scaling note (BENCH_SCALING/BENCH_SF3): the sf1→sf3 runtime ratio
  //   on steady-state warm-JVM measurements (round 11's honest
  //   methodology — earlier probes captured on a drifting machine read
  //   anywhere from 1.01 to 1.77) is ~3.5–4.1× on 3× data, and the
  //   excess over linear is a measured OUTPUT-cardinality effect, not an
  //   input-work cause: capped pair OCCURRENCES grow exactly 3.00×
  //   (89.7M→269.5M, linear — degrees are SF-constant at ~30/part),
  //   while DISTINCT (sa,sb) groups grow 4.86× (41.7M→202.8M) because
  //   the pair-key space crosses its birthday-collision saturation
  //   (sf0.1: all C(1k,2) pairs exist; sf1: 83% of C(10k,2); sf3: 45%
  //   of C(30k,2)) — bounding the exponent by log(4.86)/log(3) ≈ 1.44
  //   in the crossover window and by 1.0 asymptotically, since distinct
  //   groups can never exceed the linear pair occurrences. Fitting
  //   runtime = a·occurrences + b·groups to the two warm points gives
  //   ~33 ns/occurrence and ~110 ns/group — the group (hash-agg state +
  //   spill) term dominates the window and saturates out of it. The
  //   shuffle and agg state are occurrence-sized; the round-11 packed
  //   agg key (one BIGINT, above) cut the group constant ~25%; nothing
  //   further to re-plan.
  val q264 = Query.sql(
    "q264_link_prediction",
    (s, dir) => {
      val byPk = org.apache.spark.sql.expressions.Window.partitionBy("pk")
      val ew2 = Tables.load(s, dir, "lineitem")
        .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
        .distinct()
        .withColumn("deg", count(lit(1)).over(byPk))
        .withColumn("rn", row_number().over(byPk.orderBy("sk")))
        .withColumn("term", expr(
          "CAST(FLOOR(1e15 / CAST(deg AS DOUBLE)) AS BIGINT)"))
        .filter(col("rn") <= 64)
      // The pair aggregation is the whole cost at scale (distinct
      // supplier pairs keep filling their key space through the
      // sf1→sf3 window — the documented cardinality crossover), so the
      // agg key is PACKED into one BIGINT (sa·2³² + sb): one 8-byte
      // hash/compare instead of a two-long struct through the partial
      // and final hash aggregates and their spill sorters. Valid while
      // supplier keys stay under 2³¹ (TPC-H suppkeys are dense small
      // ints; a 100 TB deployment with wider ids would widen the pack).
      ew2.as("a").join(ew2.as("b"),
          col("a.pk") === col("b.pk") && col("a.sk") < col("b.sk"))
        .select((col("a.sk") * lit(4294967296L) + col("b.sk")).as("pair"),
          col("a.term").as("term"))
        .groupBy("pair")
        .agg(count(lit(1)).as("shared"), sum(col("term")).as("ra_scaled"))
        .select(expr("pair DIV 4294967296").as("sa"),
          (col("pair") % lit(4294967296L)).as("sb"),
          col("shared"),
          (col("ra_scaled").cast("double") / lit(1e15)).as("ra_index"))
        .orderBy(desc("ra_index"), desc("shared"), asc("sa"), asc("sb"))
        .limit(20)
    },
    """WITH e AS (
      |  SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem),
      |deg AS (SELECT pk, COUNT(*) AS deg FROM e GROUP BY pk),
      |ed AS (
      |  SELECT e.pk, e.sk,
      |    CAST(FLOOR(1e15 / CAST(deg AS DOUBLE)) AS BIGINT) AS term,
      |    ROW_NUMBER() OVER (PARTITION BY e.pk ORDER BY e.sk) AS rn
      |  FROM e JOIN deg ON e.pk = deg.pk),
      |capped AS (SELECT * FROM ed WHERE rn <= 64),
      |pairs AS (
      |  SELECT a.sk AS sa, b.sk AS sb, COUNT(*) AS shared,
      |    CAST(SUM(a.term) AS BIGINT) AS ra_scaled
      |  FROM capped a JOIN capped b ON a.pk = b.pk AND a.sk < b.sk
      |  GROUP BY 1, 2)
      |SELECT sa, sb, shared,
      |  CAST(ra_scaled AS DOUBLE) / 1e15 AS ra_index
      |FROM pairs
      |ORDER BY ra_index DESC, shared DESC, sa, sb LIMIT 20""".stripMargin)

  // -- q275: two-hop fanout (GNN neighborhood-sampling budget) --------------
  //   Per supplier: its degree and its 2-walk count Σ_{p∈N(s)} deg(p) —
  //   the exact expected neighborhood size a 2-layer GraphSAGE-style
  //   sampler must budget for, and the hub-detection signal for fanout
  //   capping. Computed WITHOUT materializing 2-hop edges: attach each
  //   part's degree to the edge (join on the part key) and sum per
  //   supplier — two key-partitioned shuffles, payload 8 bytes per edge,
  //   at any graph size.
  val q275 = Query.sql(
    "q275_two_hop_fanout",
    (s, dir) => {
      val e = Tables.load(s, dir, "lineitem")
        .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
        .distinct()
        .barrier()
      val degP = e.groupBy("pk").agg(count(lit(1)).as("dp"))
      e.join(degP, "pk")
        .groupBy(col("sk"))
        .agg(count(lit(1)).as("degree"), sum(col("dp")).as("two_walks"))
        .orderBy(desc("two_walks"), asc("sk"))
        .limit(30)
    },
    """WITH e AS (
      |  SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem),
      |degp AS (SELECT pk, COUNT(*) AS dp FROM e GROUP BY pk)
      |SELECT sk, COUNT(*) AS degree, CAST(SUM(dp) AS BIGINT) AS two_walks
      |FROM e JOIN degp USING (pk)
      |GROUP BY sk ORDER BY two_walks DESC, sk LIMIT 30""".stripMargin)

  // -- q280: degree assortativity -------------------------------------------
  //   Pearson correlation of endpoint degrees over the directed edge list
  //   (Newman 2002): do high-degree nodes attach to other hubs
  //   (assortative, r > 0) or to the periphery (disassortative, r < 0)?
  //   The one-number topology fingerprint that decides whether hub-capped
  //   sampling (q275) is even necessary. Measured on the supplier–part
  //   BIPARTITE graph (q119's substrate) — the co-purchase projection is
  //   complete at small SF, where degree variance (and r) degenerates.
  //
  //   Exactness: degrees are integers, so all five moment sums are exact
  //   BIGINTs (the q27 raw-moment pattern with no decimal needed); the
  //   closed-form correlation is one fixed-order double expression.
  //   Plan: one distinct, a degree rollup, two broadcast degree joins,
  //   one moment aggregation. Output is 1 row.
  val q280 = Query.sql(
    "q280_degree_assortativity",
    (s, dir) => {
      val e0 = Tables.load(s, dir, "lineitem")
        .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
        .distinct()
      val und = bothDirections(e0, col("sk") * 2, col("pk") * 2 + 1)
        .select(col("src").as("u"), col("dst").as("v"))
        .barrier()
      val deg = und.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
      und
        .join(broadcast(deg.select(col("node").as("u"), col("deg").as("du"))), "u")
        .join(broadcast(deg.select(col("node").as("v"), col("deg").as("dv"))), "v")
        .agg(count(lit(1)).as("n"),
          sum(col("du")).as("sx"), sum(col("du") * col("du")).as("sxx"),
          sum(col("dv")).as("sy"), sum(col("dv") * col("dv")).as("syy"),
          sum(col("du") * col("dv")).as("sxy"))
        .select(col("n").as("n_edges"), expr(
          """CAST(n * sxy - sx * sy AS DOUBLE) /
            |SQRT(CAST(n * sxx - sx * sx AS DOUBLE) *
            |     CAST(n * syy - sy * sy AS DOUBLE))""".stripMargin)
          .as("assortativity"))
    },
    """WITH e0 AS (
      |  SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem),
      |und AS (
      |  SELECT sk * 2 AS u, pk * 2 + 1 AS v FROM e0
      |  UNION ALL
      |  SELECT pk * 2 + 1, sk * 2 FROM e0),
      |deg AS (SELECT u AS node, COUNT(*) AS deg FROM und GROUP BY u),
      |m AS (
      |  SELECT COUNT(*) AS n,
      |    CAST(SUM(da.deg) AS BIGINT) AS sx,
      |    CAST(SUM(da.deg * da.deg) AS BIGINT) AS sxx,
      |    CAST(SUM(db.deg) AS BIGINT) AS sy,
      |    CAST(SUM(db.deg * db.deg) AS BIGINT) AS syy,
      |    CAST(SUM(da.deg * db.deg) AS BIGINT) AS sxy
      |  FROM und JOIN deg da ON und.u = da.node
      |  JOIN deg db ON und.v = db.node)
      |SELECT n AS n_edges,
      |  CAST(n * sxy - sx * sy AS DOUBLE) /
      |  SQRT(CAST(n * sxx - sx * sx AS DOUBLE) *
      |       CAST(n * syy - sy * sy AS DOUBLE)) AS assortativity
      |FROM m""".stripMargin)

  // -- q283: item-based collaborative-filtering recommendations -------------
  //   The classic implicit-feedback recommender: customer baskets
  //   (distinct parts ordered), item–item co-occurrence supports from a
  //   per-basket pair build, and for a probe set of customers the top-3
  //   parts they have NOT bought, scored by summed co-occurrence with
  //   what they have. Amazon-style item-item CF (Linden et al. 2003).
  //
  //   Scale: the pair build is the q123 grouped explode with a PER-BASKET
  //   CAP (first 20 parts by key) — per-basket quadratic is bounded by a
  //   constant, the production guard for whale customers; supports are
  //   one (a,b)-keyed rollup. Probe scoring joins the probes' baskets to
  //   supports on the item key and re-aggregates — candidates never
  //   explode beyond (probe parts × co-items). The owned-item anti-join
  //   runs on the tiny scored set. Integer scores end to end.
  val q283 = Query.sql(
    "q283_item_cf_recommend",
    (s, dir) => {
      val baskets = Tables.load(s, dir, "orders")
        .join(Tables.load(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
        .distinct()
        .barrier() // pair build + probe baskets + ownership
      val capped = baskets.groupBy("c")
        .agg(slice(sort_array(collect_list(col("p"))), 1, 20).as("ps"))
      // spread = true: the capped-basket expansion is the heavy one (k ≤ 20
      // ⇒ up to 190 pairs/customer, 2.76M rows at sf0.1 on 3 AQE-coalesced
      // tasks without it) — r14 A/B 1.12–1.16×; see pairExplode scaladoc.
      val supports = pairExplode(capped, "ps", spread = true)
        .groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("supp"))
      val sym = supports.select(col("a"), col("b"), col("supp"))
        .union(supports.select(col("b").as("a"), col("a").as("b"), col("supp")))
      val probes = baskets.filter(col("c") % 500 === 1)
      val scored = probes.join(sym, col("p") === col("a"))
        .groupBy(col("c").as("pc"), col("b").as("cand"))
        .agg(sum(col("supp")).as("score"))
      // ownership check only needs PROBE customers' baskets: filtering the
      // anti-join's right side to the probe set first shrinks the shuffled
      // ownership rows by the probe fraction (500× here) with identical
      // semantics — scored.pc only contains probe customers
      scored.join(probes,
          scored("pc") === probes("c") && scored("cand") === probes("p"),
          "left_anti")
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("pc")
            .orderBy(desc("score"), asc("cand"))))
        .filter(col("rk") <= 3)
        .select(col("pc").as("custkey"), col("rk").cast("long").as("rk"),
          col("cand").as("partkey"), col("score"))
        .orderBy("custkey", "rk")
    },
    """WITH baskets AS (
      |  SELECT DISTINCT o_custkey AS c, l_partkey AS p
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |capped AS (
      |  SELECT c, p FROM (
      |    SELECT c, p, row_number() OVER (PARTITION BY c ORDER BY p) AS rn
      |    FROM baskets) WHERE rn <= 20),
      |supports AS (
      |  SELECT x.p AS a, y.p AS b, COUNT(*) AS supp
      |  FROM capped x JOIN capped y ON x.c = y.c AND x.p < y.p
      |  GROUP BY 1, 2),
      |sym AS (
      |  SELECT a, b, supp FROM supports
      |  UNION ALL
      |  SELECT b, a, supp FROM supports),
      |probes AS (SELECT c, p FROM baskets WHERE c % 500 = 1),
      |scored AS (
      |  SELECT pr.c AS pc, s.b AS cand, CAST(SUM(s.supp) AS BIGINT) AS score
      |  FROM probes pr JOIN sym s ON pr.p = s.a
      |  GROUP BY 1, 2),
      |fresh AS (
      |  SELECT sc.pc, sc.cand, sc.score
      |  FROM scored sc LEFT JOIN baskets bk
      |    ON sc.pc = bk.c AND sc.cand = bk.p
      |  WHERE bk.c IS NULL),
      |ranked AS (
      |  SELECT pc, cand, score, row_number() OVER (PARTITION BY pc
      |    ORDER BY score DESC, cand) AS rk
      |  FROM fresh)
      |SELECT pc AS custkey, CAST(rk AS BIGINT) AS rk, cand AS partkey, score
      |FROM ranked WHERE rk <= 3 ORDER BY custkey, rk""".stripMargin)

  // -- q287: frequent itemset triples ---------------------------------------
  //   One level deeper than q166's pairs: part triples co-occurring in
  //   ≥ 2 orders, ranked by support. Per-order triple
  //   explode is C(k,3) with k = lines-per-order ≤ 7 — a constant ≤ 35
  //   per order, the Apriori step that still needs no candidate pruning.
  //   One order-key shuffle; triple counts map-side-combine on the
  //   (a,b,c) key.
  val q287 = Query.sql(
    "q287_frequent_triples",
    (s, dir) => {
      val grouped287 = Tables.load(s, dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .groupBy("l_orderkey")
        .agg(sort_array(collect_list(col("l_partkey"))).as("ps"))
        .filter(size(col("ps")) >= 3)
      val tri = tripleExplode(grouped287, "ps")
        .groupBy(col("a"), col("b"), col("c"))
        .agg(count(lit(1)).as("supp"))
        .filter(col("supp") >= 2)
      tri
        .orderBy(desc("supp"), asc("a"), asc("b"), asc("c"))
        .limit(25)
    },
    """WITH e AS (
      |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |tri AS (
      |  SELECT x.p AS a, y.p AS b, z.p AS c, COUNT(*) AS supp
      |  FROM e x JOIN e y ON x.o = y.o AND x.p < y.p
      |  JOIN e z ON y.o = z.o AND y.p < z.p
      |  GROUP BY 1, 2, 3 HAVING COUNT(*) >= 2)
      |SELECT a, b, c, supp FROM tri
      |ORDER BY supp DESC, a, b, c LIMIT 25""".stripMargin)

  // -- q298: global transitivity (wedges vs closed triangles) ---------------
  //   The one-number clustering summary complementing q203's per-node
  //   coefficients: transitivity = 3·triangles / wedges, with wedges =
  //   Σ C(deg, 2) from the degree rollup alone (no path enumeration) and
  //   the triangle count from q123's grouped pair-support build. Both
  //   numerators exact BIGINTs; one final division.
  val q298 = Query.sql(
    "q298_transitivity",
    (s, dir) => {
      // co-purchase edges, q123's derivation: parts sharing ≥2 orders
      val e0 = pairExplode(Tables.load(s, dir, "lineitem")
          .select("l_orderkey", "l_partkey").distinct()
          .groupBy("l_orderkey")
          .agg(sort_array(collect_list(col("l_partkey"))).as("ps")), "ps")
        .groupBy(col("a").as("u"), col("b").as("v"))
        .agg(count(lit(1)).as("supp")).filter(col("supp") >= 2)
        .select("u", "v")
        .barrier() // degrees + the triangle join both reuse it
      val sym = e0.union(e0.select(col("v").as("u"), col("u").as("v")))
      val wedges = sym.groupBy(col("u")).agg(count(lit(1)).as("d"))
        .agg(sum(expr("d * (d - 1) div 2")).as("wedges"))
      // triangles: for each edge (u,v), count common neighbors w with
      // u < v < w — each triangle counted exactly once.
      val tri = e0.as("ab")
        .join(e0.as("bc"), col("ab.v") === col("bc.u"))
        .join(e0.as("ac"),
          col("ac.u") === col("ab.u") && col("ac.v") === col("bc.v"))
        .agg(count(lit(1)).as("triangles"))
      tri.crossJoin(broadcast(wedges))
        .select(col("triangles"), col("wedges"),
          expr("CAST(3 * triangles AS DOUBLE) / CAST(wedges AS DOUBLE)")
            .as("transitivity"))
    },
    """WITH e1 AS (
      |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |e0 AS (
      |  SELECT a.p AS u, b.p AS v
      |  FROM e1 a JOIN e1 b ON a.o = b.o AND a.p < b.p
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |sym AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
      |w AS (
      |  SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS wedges FROM
      |    (SELECT u, COUNT(*) AS d FROM sym GROUP BY u)),
      |t AS (
      |  SELECT COUNT(*) AS triangles
      |  FROM e0 ab JOIN e0 bc ON ab.v = bc.u
      |  JOIN e0 ac ON ac.u = ab.u AND ac.v = bc.v)
      |SELECT triangles, wedges,
      |  CAST(3 * triangles AS DOUBLE) / CAST(wedges AS DOUBLE)
      |    AS transitivity
      |FROM t CROSS JOIN w""".stripMargin)

  /** Directed nation-level trade graph: supplier-nation → customer-nation
    * edges kept when the pair's shipped quantity is above the cross-pair
    * average (scale-invariant sparsifier: `q_pair · n_pairs > q_total`,
    * all exact centi-unit BIGINTs). The rollup-to-metadata-graph move —
    * collapse a 100 TB fact table into a |dims|² summary graph, then run
    * the expensive graph op on THAT — is the production pattern for
    * entity-level flow analysis; the fact-table side is one 4-way join +
    * one keyed agg, and everything after is dimension-sized.
    */
  private def nationTradeEdges(s: SparkSession, dir: String): DataFrame = {
    val flows = Tables.load(s, dir, "lineitem")
      .join(Tables.load(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.load(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.load(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .filter(col("s_nationkey") =!= col("c_nationkey"))
      .select(col("s_nationkey").as("src"), col("c_nationkey").as("dst"),
        expr("CAST(CAST(l_quantity AS DECIMAL(18,6)) * 100 AS BIGINT)").as("v"))
      .groupBy("src", "dst").agg(sum(col("v")).as("q"))
    val tot = flows.agg(count(lit(1)).as("np"), sum(col("q")).as("qt"))
    flows.crossJoin(broadcast(tot))
      .filter(col("q") * col("np") > col("qt"))
      .select("src", "dst")
  }

  private val tradeEdgesSql: String =
    """edges AS (
      |  SELECT s_nationkey AS src, c_nationkey AS dst,
      |    CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,6)) * 100 AS BIGINT))
      |      AS BIGINT) AS q
      |  FROM lineitem
      |    JOIN supplier ON l_suppkey = s_suppkey
      |    JOIN orders ON l_orderkey = o_orderkey
      |    JOIN customer ON o_custkey = c_custkey
      |  WHERE s_nationkey <> c_nationkey
      |  GROUP BY 1, 2),
      |tot AS (SELECT COUNT(*) AS np, CAST(SUM(q) AS BIGINT) AS qt FROM edges),
      |kept AS (SELECT src, dst FROM edges, tot WHERE q * np > qt)""".stripMargin

  // -- q344: strongly connected components (mutual-reachability closure) ----
  //   Tarjan's stack is inherently sequential; the distributed formulation
  //   is reachability algebra: build the transitive closure R by POINTER
  //   DOUBLING (5 rounds cover paths of length 32 > any 25-node diameter;
  //   each round is one self-join + distinct, localCheckpoint'd), then
  //   scc_id(v) = min over {v} ∪ {u : v→*u ∧ u→*v}. Closure is quadratic
  //   in nodes, which is exactly why the graph here is the nation-level
  //   ROLLUP (see nationTradeEdges) — run SCC on the metadata graph, never
  //   the raw fact table. The naive pair (f-reach, b-reach) label trick is
  //   NOT used: it merges distinct SCCs that share an ancestor and a
  //   descendant; mutual reachability is the correct predicate.
  val q344 = Query.sql(
    "q344_scc",
    (s, dir) => {
      var reach = nationTradeEdges(s, dir).distinct().barrier()
      for (_ <- 1 to 5) {
        val step = reach.as("a").join(reach.as("b"),
            col("a.dst") === col("b.src"))
          .select(col("a.src").as("src"), col("b.dst").as("dst"))
        reach = reach.union(step).distinct().barrier()
      }
      val mutual = reach.as("f").join(reach.as("b"),
          col("f.src") === col("b.dst") && col("f.dst") === col("b.src"))
        .select(col("f.src").as("node"), col("f.dst").as("peer"))
      val nations = Tables.load(s, dir, "nation")
        .select(col("n_nationkey").as("node"), col("n_name"))
      val sccId = nations.select(col("node"))
        .join(mutual, Seq("node"), "left")
        .groupBy("node")
        .agg(least(coalesce(min(col("peer")), col("node")), col("node"))
          .cast("long").as("scc_id"))
      val sizes = sccId.groupBy("scc_id").agg(count(lit(1)).as("scc_size"))
      sccId.join(sizes, "scc_id").join(broadcast(nations), "node")
        .select(col("n_name"), col("scc_id"), col("scc_size"))
        .orderBy("n_name")
    },
    s"""WITH RECURSIVE $tradeEdgesSql,
       |reach(src, dst) AS (
       |  SELECT src, dst FROM kept
       |  UNION
       |  SELECT r.src, k.dst FROM reach r JOIN kept k ON k.src = r.dst),
       |mutual AS (
       |  SELECT f.src AS node, f.dst AS peer
       |  FROM reach f JOIN reach b ON f.src = b.dst AND f.dst = b.src),
       |sccid AS (
       |  SELECT n_nationkey AS node,
       |    LEAST(COALESCE(MIN(peer), n_nationkey), n_nationkey) AS scc_id
       |  FROM nation LEFT JOIN mutual ON node = n_nationkey
       |  GROUP BY n_nationkey),
       |sz AS (SELECT scc_id, COUNT(*) AS scc_size FROM sccid GROUP BY scc_id)
       |SELECT n_name, scc_id, scc_size
       |FROM sccid JOIN sz USING (scc_id) JOIN nation ON node = n_nationkey
       |ORDER BY n_name""".stripMargin)

  // -- q345: closeness centrality (exact all-pairs hop distances) -----------
  //   Wasserman–Faust closeness on the undirected trade graph:
  //   C(v) = r² / ((n-1)·Σd), r = nodes reached, computed from the EXACT
  //   min-plus distance closure (pointer doubling again: D ← min(D, D∘D),
  //   5 rounds ≥ the 24-hop worst case; per-round one self-join + one
  //   (a,b)-keyed MIN). All-pairs is affordable because the graph is the
  //   dimension rollup; numerator/denominator stay integer and the
  //   closeness is ONE double division. Disconnected nodes score 0.
  val q345 = Query.sql(
    "q345_closeness_centrality",
    (s, dir) => {
      val e = nationTradeEdges(s, dir)
      val und = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
      var dist = und.withColumn("d", lit(1L)).barrier()
      for (_ <- 1 to 5) {
        val step = dist.as("a").join(dist.as("b"),
            col("a.dst") === col("b.src"))
          .select(col("a.src").as("src"), col("b.dst").as("dst"),
            (col("a.d") + col("b.d")).as("d"))
        dist = dist.union(step)
          .filter(col("src") =!= col("dst"))
          .groupBy("src", "dst").agg(min(col("d")).as("d"))
          .barrier()
      }
      val nations = Tables.load(s, dir, "nation")
        .select(col("n_nationkey").as("src"), col("n_name"))
      val nTot = nations.agg(count(lit(1)).as("n"))
      nations.join(dist, Seq("src"), "left")
        .groupBy("src", "n_name")
        .agg(count(col("dst")).as("n_reach"), sum(col("d")).as("sum_d"))
        .crossJoin(broadcast(nTot))
        .select(col("n_name"), col("n_reach"),
          coalesce(col("sum_d"), lit(0L)).as("sum_d"),
          when(coalesce(col("sum_d"), lit(0L)) === 0L, lit(0.0))
            .otherwise((col("n_reach") * col("n_reach")).cast("double") /
              ((col("n") - 1L) * col("sum_d")).cast("double"))
            .as("closeness"))
        .orderBy("n_name")
    },
    s"""WITH RECURSIVE $tradeEdgesSql,
       |und AS (
       |  SELECT src, dst FROM kept
       |  UNION SELECT dst, src FROM kept),
       |walk(src, dst, d) AS (
       |  SELECT src, dst, 1 FROM und
       |  UNION
       |  SELECT w.src, u.dst, w.d + 1
       |  FROM walk w JOIN und u ON u.src = w.dst
       |  WHERE w.d < 24 AND w.src <> u.dst),
       |mind AS (
       |  SELECT src, dst, MIN(d) AS d FROM walk
       |  WHERE src <> dst GROUP BY src, dst),
       |agg AS (
       |  SELECT n_nationkey, n_name, COUNT(dst) AS n_reach,
       |    COALESCE(CAST(SUM(d) AS BIGINT), 0) AS sum_d
       |  FROM nation LEFT JOIN mind ON src = n_nationkey
       |  GROUP BY n_nationkey, n_name),
       |nt AS (SELECT COUNT(*) AS n FROM nation)
       |SELECT n_name, n_reach, sum_d,
       |  CASE WHEN sum_d = 0 THEN 0e0 ELSE
       |    CAST(n_reach * n_reach AS DOUBLE) /
       |    CAST((n - 1) * sum_d AS DOUBLE) END AS closeness
       |FROM agg CROSS JOIN nt ORDER BY n_name""".stripMargin)

  val all: Seq[Query] =
    Seq(q119, q123, q150, q166, q170, q203, q233, q236, q237, q248, q252,
      q264, q275, q280, q283, q287, q298, q344, q345)
}
