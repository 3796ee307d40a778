package graft

import graft.core.BarrierLedger
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, ExprId, Expression, WindowExpression}
import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Or}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}

/** Plan hygiene audit: `runMain graft.PlanAudit <name>[,<name>…] [sfDir]`
  * prints, per query, the shuffle-exchange count, broadcast count, number
  * of parquet scans per table, and flags scans that read every column —
  * the quick check that a new operator's plan is the one you'd want at
  * 100 TB (pruned scans, broadcast dims, no accidental subtree
  * re-computation fanning into repeated corpus scans).
  *
  * Beyond the printed report, [[audit]] returns the two plan anti-patterns
  * that BREAK (not degrade) at 100×, as machine-checkable findings that a
  * spec runs over every registered query (PlanAuditSpec):
  *
  *  - a forced broadcast hint whose input scans an SF-growing table with no
  *    aggregation/limit bounding it — works at test SF, OOMs the cluster at
  *    real SF (the q05/t14 bug class from rounds 3–4, now CI);
  *  - a join with no condition (cartesian) whose BOTH sides are unbounded
  *    SF-growing scans — quadratic in SF.
  *
  * Per-key quadratic blowup (self-join fanout on skewed keys) is not
  * statically decidable from the plan shape — that class is pinned by the
  * hub-cap specs instead (q264/q283, GraphSpec).
  */
object PlanAudit {

  /** Tables whose row count grows with the scale factor. Broadcasting one of
    * these because a hint said so is the canonical does-not-survive-100×
    * mistake; `region`/`nation` are fixed-size dims and exempt.
    */
  val growingTables: Set[String] = Set(
    "lineitem", "orders", "customer", "part", "supplier", "partsupp",
    "events", "documents", "embeddings")

  private def tableOf(rel: LogicalRelation): Option[String] =
    rel.relation match {
      case fs: HadoopFsRelation =>
        fs.location.rootPaths.flatMap(p =>
          "/(\\w+)\\.parquet".r.findFirstMatchIn(p.toString).map(_.group(1))).headOption
      case _ => None
    }

  /** Column names that identify a ROW of a growing table (entity ids).
    * Grouping on one — or on anything computed from one, tracked through
    * aliases below — has cardinality that scales with the corpus, so it
    * cannot bound a broadcast or a single-partition window (the
    * q266/q271/q282 class from VERDICT r8). nation/region keys are
    * fixed-cardinality dims and exempt.
    */
  private def entityName(n: String): Boolean = {
    val l = n.toLowerCase
    l == "doc_id" || l == "user_id" || l == "event_id" || l == "vec_id" ||
      l.endsWith("custkey") || l.endsWith("orderkey") ||
      l.endsWith("partkey") || l.endsWith("suppkey")
  }

  /** Columns with O(1) rows PER VALUE in their growing table (the pk, or
    * a key with constant multiplicity like l_orderkey's ≤ 7 lines): a
    * literal UPPER bound on one bounds the subtree to O(constant) rows.
    * user_id/custkey-style foreign keys are absent on purpose — filtering
    * events to user_id < k still grows with SF.
    */
  private def pkName(n: String): Boolean = Set(
    "doc_id", "vec_id", "event_id", "o_orderkey", "c_custkey", "p_partkey",
    "s_suppkey", "l_orderkey", "ps_partkey")(n.toLowerCase)

  /** Does this filter condition pin a pk-multiplicity column under a
    * foldable literal (`pk < k`, `pk <= k`, `pk = k`, or the mirrored
    * forms)? AND needs one bounding side; OR needs both. */
  private def pkBound(cond: Expression): Boolean = cond match {
    case And(l, r) => pkBound(l) || pkBound(r)
    case Or(l, r) => pkBound(l) && pkBound(r)
    case LessThan(a: AttributeReference, l) if l.foldable => pkName(a.name)
    case LessThanOrEqual(a: AttributeReference, l) if l.foldable => pkName(a.name)
    case EqualTo(a: AttributeReference, l) if l.foldable => pkName(a.name)
    case EqualTo(l, a: AttributeReference) if l.foldable => pkName(a.name)
    case GreaterThan(l, a: AttributeReference) if l.foldable => pkName(a.name)
    case GreaterThanOrEqual(l, a: AttributeReference) if l.foldable => pkName(a.name)
    case _ => false
  }

  /** An unbounded growing scan: subtree reaches a growing source and no
    * node ON THE PATH to it (Aggregate / Deduplicate / limit) bounds its
    * size to o(SF) — recursive per-branch, so a bounding aggregate on a
    * SIBLING branch no longer launders a raw scan next to it. A bounding
    * node must group on SAFE keys only: not a continuous metric (a
    * distinct-value histogram of a float/double/decimal scales with a
    * genuinely continuous 100 TB corpus — the q263/q174 class) and not a
    * growing-table entity id or anything alias-derived from one (a
    * per-customer/per-doc rollup scales with the corpus even though it is
    * an Aggregate — VERDICT r8 loophole b). `LogicalRDD` leaves (barriers,
    * two-pass sweeps, wire-protocol scans) carry their producer's verdict
    * via [[BarrierLedger]]; unregistered ones count as growing — loophole
    * a closed in the conservative direction. Lineage through an RDD
    * boundary is name-based (exprIds don't survive a checkpoint), plus
    * whatever entity columns the producer registered.
    */
  private[graft] def unboundedGrowing(p: LogicalPlan): Option[String] = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType, FloatType}
    // entity-derived attributes, propagated bottom-up through aliases
    val ents = {
      var set = Set.empty[ExprId]
      p.foreachUp { node =>
        node match {
          case l: LogicalRelation if tableOf(l).exists(growingTables) =>
            set ++= l.output.filter(a => entityName(a.name)).map(_.exprId)
          case l: LogicalRDD =>
            val extra = BarrierLedger.entityCols(l.rdd.id)
            set ++= l.output
              .filter(a => entityName(a.name) || extra(a.name))
              .map(_.exprId)
          case r: DataSourceV2Relation if v2Verdict(r.table).isDefined =>
            set ++= r.output.filter(a => entityName(a.name)).map(_.exprId)
          case r: DataSourceV2ScanRelation
              if v2Verdict(r.relation.table).isDefined =>
            set ++= r.output.filter(a => entityName(a.name)).map(_.exprId)
          case _ =>
        }
        // taint flows through an alias only via VALUE-carrying refs: a
        // window function's partition/order spec shapes WHICH rows it
        // sees, not what it returns (min(week) OVER (PARTITION BY
        // user_id) is a bounded week, not a user id), so spec refs are
        // excluded
        def taintRefs(e: Expression): Seq[ExprId] = e match {
          case a: AttributeReference => Seq(a.exprId)
          case we: WindowExpression => taintRefs(we.windowFunction)
          case other => other.children.flatMap(taintRefs)
        }
        node.expressions.foreach(_.foreach {
          case al: Alias if taintRefs(al.child).exists(set) =>
            set += al.exprId
          case _ =>
        })
      }
      set
    }
    def unsafeRef(e: Expression): Boolean =
      e.references.exists { r =>
        ents(r.exprId) || (r.dataType match {
          case DoubleType | FloatType | _: DecimalType => true
          case _ => false
        })
      }
    def grow(q: LogicalPlan): Option[String] = q match {
      case _: GlobalLimit => None
      case a: Aggregate if !a.groupingExpressions.exists(unsafeRef) => None
      case d: Deduplicate if !d.keys.exists(unsafeRef) => None
      case d: Distinct if !d.output.exists(a => unsafeRef(a)) => None
      case f: Filter if pkBound(f.condition) => None
      case l: LogicalRelation => tableOf(l).filter(growingTables)
      case l: LogicalRDD => BarrierLedger.verdict(l.rdd.id)
      case r: DataSourceV2Relation => v2Verdict(r.table)
      case r: DataSourceV2ScanRelation => v2Verdict(r.relation.table)
      case other =>
        other.children.iterator.map(grow).collectFirst { case Some(t) => t }
    }
    grow(p)
  }

  /** Growth verdict for a DataSourceV2 leaf: the table declares it via
    * [[graft.core.V2Growth]]; one that doesn't is conservatively growing —
    * the same closed-loophole default as an unregistered LogicalRDD (a v2
    * relation is just as opaque to plan-shape inspection, and the BigQuery
    * Storage scan behind one is an unbounded remote table). */
  private def v2Verdict(
      t: org.apache.spark.sql.connector.catalog.Table): Option[String] =
    t match {
      case g: graft.core.V2Growth => g.growthVerdict
      case other => Some(
        s"unregistered v2 source '${other.name}' — declare graft.core.V2Growth")
    }

  /** Per-table scan profile of the physical plan: how many times each
    * parquet table is scanned and the UNION of columns those scans read
    * (from the `ReadSchema` each `FileScan` prints). This is the CI pin
    * surface for column pruning: a refactor that silently drops pruning —
    * or re-computes a subtree into a second corpus scan — changes this
    * profile and fails the pinned assertion in PlanAuditSpec, long before
    * anyone notices the extra terabytes read at real SF.
    */
  def scanProfile(df: DataFrame): Map[String, (Int, Set[String])] = {
    val perScan = fileScans(df.queryExecution.executedPlan).flatMap { f =>
      f.relation.location.rootPaths
        .flatMap(p => "/(\\w+)\\.parquet".r.findFirstMatchIn(p.toString)
          .map(_.group(1))).headOption
        .map(t => t -> f.requiredSchema.fieldNames.toSet)
    }
    perScan.groupBy(_._1).map { case (t, scans) =>
      t -> (scans.size, scans.iterator.flatMap(_._2).toSet)
    }
  }

  /** All parquet scans in a physical plan — walked node-by-node (the
    * plan STRING truncates ReadSchema at maxMetadataStringLength, so
    * string parsing under-reports wide scans), recursing into the AQE
    * wrapper and subquery expressions. ReusedExchange is a leaf: a reused
    * subtree is one physical scan, and counting it twice would pin the
    * very re-computation the profile exists to catch.
    */
  private def fileScans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val here = p match {
      case a: AdaptiveSparkPlanExec => fileScans(a.executedPlan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(fileScans)
    }
    here ++ p.subqueries.flatMap(fileScans)
  }

  /** Findings for one query's analyzed plan; empty = clean. */
  def audit(df: DataFrame): Seq[String] = {
    val plan = df.queryExecution.analyzed
    val forced = plan.collect {
      case h: ResolvedHint if h.hints.strategy.contains(BROADCAST) =>
        unboundedGrowing(h.child).map(t => s"forced broadcast of unbounded '$t'")
    }.flatten
    val cartesian = plan.collect {
      case j: Join if j.condition.isEmpty =>
        (unboundedGrowing(j.left), unboundedGrowing(j.right)) match {
          case (Some(l), Some(r)) => Some(s"unconditioned cartesian of unbounded '$l' x '$r'")
          case _ => None
        }
    }.flatten
    // A window whose partition spec is empty (or all-foldable, e.g.
    // partitionBy(lit(1))) funnels its whole input through ONE task. Fine
    // over an aggregated histogram; a cluster-killer over an SF-growing
    // row stream (the q148 class — its globalRowNumber scale path exists
    // precisely to avoid this shape).
    val globalWindow = plan.collect {
      case w: Window if w.partitionSpec.forall(_.foldable) =>
        unboundedGrowing(w.child).map(t =>
          s"single-partition window over unbounded '$t'")
    }.flatten
    forced ++ cartesian ++ globalWindow
  }

  def main(args: Array[String]): Unit = {
    val pinsMode = args.nonEmpty && args(0) == "pins"
    val rest = if (pinsMode) args.drop(1) else args
    val names =
      if (rest.isEmpty || rest(0) == "all") SparkEntry.queries.keys.toSeq.sorted
      else rest(0).split(",").toSeq
    val sfDir = if (rest.length > 1) rest(1) else "/root/testdata/sf0.001"
    val spark = GraftSession.builder(4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (n <- names) {
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        if (pinsMode) {
          // Scala-literal pin entry ready to paste into PlanAuditSpec
          val prof = scanProfile(df).toSeq.sortBy(_._1).map { case (t, (c, cols)) =>
            s"""      "$t" -> ($c, Set(${cols.toSeq.sorted.map("\"" + _ + "\"").mkString(", ")}))"""
          }
          println(s"""    "$n" -> Map(\n${prof.mkString(",\n")}),""")
        }
        val plan = df.queryExecution.executedPlan.toString
        val lines = plan.linesIterator.toSeq
        val broadcasts = lines.count(_.contains("BroadcastExchange"))
        val reused = lines.count(_.contains("ReusedExchange"))
        val shuffles = lines.count(_.contains("Exchange")) - broadcasts - reused
        val scans = lines.filter(l => l.contains("FileScan parquet"))
        val byTable = scans
          .flatMap(l => "/(\\w+)\\.parquet".r.findFirstMatchIn(l).map(_.group(1)))
          .groupBy(identity).view.mapValues(_.size).toMap
        val rescanned = byTable.filter(_._2 > 1)
        val findings = audit(df)
        println(s"PLANAUDIT $n shuffles=$shuffles broadcasts=$broadcasts " +
          s"reused=$reused scans=${byTable.toSeq.sortBy(_._1).map { case (t, c) => s"$t:$c" }.mkString(",")}" +
          (if (rescanned.nonEmpty) s" MULTI_SCAN=${rescanned.keys.mkString(",")}" else "") +
          (if (findings.nonEmpty) s" FLAGS=${findings.mkString("; ")}" else ""))
      } catch {
        case e: Throwable => println(s"PLANAUDIT $n ERROR ${e.getMessage}")
      }
    }
  }
}
