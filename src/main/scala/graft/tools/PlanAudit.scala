package graft.tools

import org.apache.spark.sql.catalyst.expressions.{Alias,
  AttributeReference, Cast, ExprId, Expression, Literal, Pmod,
  Remainder, SparkPartitionID}
import org.apache.spark.sql.execution.{ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.window.WindowExec

/** Whole-battery physical-plan sweep: flags every query whose plan
  * contains a BroadcastNestedLoopJoin or CartesianProduct, with counts —
  * the global form of PlanShapeSpec's per-query no-BNLJ pins. Legitimate
  * hits are the 1-row-aggregate broadcast crosses (`crossJoin(broadcast(
  * stats))` — a 1×N nested loop IS the right plan for a 1-row build
  * side); anything else is a scale bug.
  *
  * Also sweeps WINDOW BOUNDEDNESS (the no-BNLJ discipline applied to
  * windows): an unpartitioned `WindowExec` moves its whole frame to one
  * task, which is only scale-safe when the frame is already bounded —
  * an aggregate, a limit, or a union of such. Every unpartitioned
  * window is counted; one whose frame source is NOT provably bounded by
  * that walk is flagged `global_window_unbounded` and must be either
  * fixed (rangedRank is the scale-correct global rank) or classified in
  * PLANS.md. The walk runs on `queryExecution.sparkPlan` — the physical
  * tree BEFORE EnsureRequirements inserts exchanges/sorts — so a
  * window's child is its actual frame source, and treats
  * cardinality-preserving nodes (project/filter/sort/window/expand-free
  * unary ops) as pass-through. Frames bounded by a GLOBAL aggregate or
  * a limit are PROVEN (≤1/≤k rows by construction); frames bounded by a
  * KEYED aggregate are only CLASSIFIED — their size is the grouping
  * key's cardinality, a data property — and each one is printed with
  * its grouping keys so PLANS.md can carry one classification entry per
  * window (key → cardinality bound). The summary splits
  * proven/classified/unbounded; unclassified-unbounded must be 0.
  *
  * Output is one line per flagged query plus a summary, for PLANS.md's
  * audit appendix.
  *
  * Usage: runMain graft.tools.PlanAudit <sfDir>
  */
object PlanAudit {

  /** Boundedness verdict for a global window's frame source:
    * [[Proven]] — the frame is bounded by construction, independent of
    * the data: a GLOBAL (no-grouping-key) aggregate is ≤1 row, a limit /
    * TakeOrderedAndProject is ≤k rows, and joins/unions of proven inputs
    * stay proven;
    * [[Classified]] — the frame is bounded by a KEYED aggregate, whose
    * row count is the grouping key's cardinality. That is a DATA
    * property, not a plan property (strata/dim keys are ≤|dims|;
    * corpus-valued keys would be corpus-sized), so the walk cannot prove
    * it — each such window must carry a PLANS.md classification entry
    * naming its key and its cardinality bound, and the audit prints the
    * query so the table can be checked line by line;
    * [[Unbounded]] — no bound found on the path: a scale bug unless
    * PLANS.md documents otherwise. The previous walk folded Classified
    * into "bounded by convention"; splitting it is what makes a future
    * corpus-keyed aggregate-then-global-window visible instead of
    * silently green. */
  private val Unbounded = 0
  private val Classified = 1
  private val Proven = 2

  /** Alias definitions visible in a plan subtree (Project lists), for
    * resolving an aggregate's grouping ATTRIBUTE back to the expression
    * that produced it. A localCheckpoint below the aggregate cuts this
    * lineage — the resolution then fails and the window stays
    * Classified, which is the safe direction. */
  private def aliasDefs(p: SparkPlan): Map[ExprId, Expression] =
    p.collect { case pr: ProjectExec => pr.projectList }.flatten
      .collect { case a: Alias => a.exprId -> a.child }.toMap

  /** PLAN-bounded domain proof for a grouping expression (round-16
    * verdict task 3 — the keyed-aggregate frames whose key cardinality
    * is a PLAN property, not a data property):
    *  - `spark_partition_id()` — ≤ the session's partition count (the
    *    rangedRank `__pid` family);
    *  - `pmod(_, literal)` / `_ % literal` — ≤ the literal modulus
    *    (hash-bucket keys);
    *  - an attribute carrying the engine's `dsir_buckets` metadata —
    *    the bucket bound [[graft.operators.TextAnalysis.dsirFeaturize]]
    *    stamps on its `b` column and enforces on every consumer
    *    (checkpoint-proof: the metadata survives the lineage cut that
    *    hides the pmod itself);
    *  - casts/aliases of the above, and attributes resolving to the
    *    above through Project aliases.
    * Everything else stays unproven — conservative by construction. */
  private def planBounded(e: Expression, defs: Map[ExprId, Expression],
      depth: Int = 0): Boolean =
    if (depth > 24) false else e match {
      case _: SparkPartitionID => true
      case Pmod(_, Literal(_, _), _) => true
      case Remainder(_, Literal(_, _), _) => true
      case _: Literal => true
      case c: Cast => planBounded(c.child, defs, depth + 1)
      case a: Alias => planBounded(a.child, defs, depth + 1)
      case ar: AttributeReference =>
        ar.metadata.contains("dsir_buckets") ||
          defs.get(ar.exprId).exists(planBounded(_, defs, depth + 1))
      case _ => false
    }

  private def boundedness(p: SparkPlan): Int = p match {
    case a: BaseAggregateExec =>
      if (a.groupingExpressions.isEmpty) Proven
      else {
        val defs = aliasDefs(a)
        if (a.groupingExpressions.forall(g => planBounded(g, defs)))
          Proven
        else Classified
      }
    case _ =>
      val n = p.getClass.getSimpleName
      if (n.contains("Aggregate")) Classified // non-BaseAggregate agg
      else if (n.contains("Limit") || n.contains("TakeOrdered")) Proven
      else if (n == "UnionExec" || n.contains("Join"))
        p.children.map(boundedness).min
      else if (passThrough(n) && p.children.nonEmpty)
        boundedness(p.children.head)
      else Unbounded
  }

  /** Unary nodes that preserve (or shrink) cardinality without being a
    * bound themselves. The exchange/AQE nodes are kept DEFENSIVELY: the
    * walk runs on the pre-EnsureRequirements `sparkPlan` where they
    * should not appear, but a plan that reaches this tool through a
    * cached/checkpointed subtree can embed an executed fragment, and
    * treating an unexpected exchange as pass-through (its cardinality
    * IS its child's) is strictly safer than calling it unbounded. */
  private def passThrough(n: String): Boolean = Set(
    "ProjectExec", "FilterExec", "SortExec", "CoalesceExec",
    "WindowExec", "WindowGroupLimitExec", "DeserializeToObjectExec",
    "SerializeFromObjectExec", "MapPartitionsExec", "ColumnarToRowExec",
    "InputAdapter", "WholeStageCodegenExec", "ReusedExchangeExec",
    "ShuffleExchangeExec", "BroadcastExchangeExec",
    "AQEShuffleReadExec", "SubqueryBroadcastExec").contains(n)

  /** Grouping-key names of the aggregate that bounds this frame (the
    * PLANS.md classification handle); empty when not Classified. */
  private def boundingKeys(p: SparkPlan): Seq[String] = p match {
    case a: BaseAggregateExec =>
      a.groupingExpressions.map(_.name)
    case _ =>
      val n = p.getClass.getSimpleName
      if (n.contains("Limit") || n.contains("TakeOrdered")) Nil
      else if (n == "UnionExec" || n.contains("Join"))
        p.children.flatMap(boundingKeys).distinct
      else if (passThrough(n) && p.children.nonEmpty)
        boundingKeys(p.children.head)
      else Nil
  }

  /** (unpartitioned windows, classified among them, unbounded among
    * them, grouping keys of the classified ones). */
  private def globalWindows(plan: SparkPlan)
      : (Int, Int, Int, Seq[String]) = {
    val ws = plan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    val verdicts = ws.map(w => boundedness(w.child))
    val keys = ws.zip(verdicts).collect {
      case (w, Classified) => boundingKeys(w.child).mkString("+")
    }
    (ws.size, verdicts.count(_ == Classified),
      verdicts.count(_ == Unbounded), keys)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    // the Bench/Verify session shape, so the audited plans are theirs
    val spark = graft.GraftSession.build(sfDir, cpus)
    spark.sparkContext.setLogLevel("ERROR")
    var flagged = 0
    var errors = 0
    var gwTotal = 0
    var gwClassified = 0
    var gwUnbounded = 0
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach {
      case (name, fn) =>
        try {
          val phys = fn(spark, sfDir).queryExecution.sparkPlan
          val plan = phys.toString
          val bnlj = plan.sliding("BroadcastNestedLoopJoin".length)
            .count(_ == "BroadcastNestedLoopJoin")
          val cart = plan.sliding("CartesianProduct".length)
            .count(_ == "CartesianProduct")
          val (gw, gwc, gwu, keys) = globalWindows(phys)
          gwTotal += gw
          gwClassified += gwc
          gwUnbounded += gwu
          // every keyed-aggregate-framed global window is REPORTED (the
          // PLANS.md classification table is built from these lines),
          // but only unbounded ones flag the query
          if (gwc > 0)
            println(s"AUDIT-CLASSIFY $name global_window_keyed_agg=$gwc " +
              s"of=$gw keys=${keys.mkString(",")}")
          if (bnlj + cart > 0 || gwu > 0) {
            flagged += 1
            println(s"AUDIT $name bnlj=$bnlj cartesian=$cart" +
              (if (gwu > 0) s" global_window_unbounded=$gwu of=$gw"
               else ""))
          }
        } catch {
          case e: Throwable =>
            errors += 1
            println(s"AUDIT $name PLAN-ERROR ${e.getMessage.take(100)}")
        }
    }
    println(s"AUDIT_SUMMARY total=${graft.SparkEntry.queries.size} " +
      s"flagged=$flagged errors=$errors " +
      s"global_windows=$gwTotal proven=" +
      s"${gwTotal - gwClassified - gwUnbounded} " +
      s"classified=$gwClassified unbounded=$gwUnbounded")
    spark.stop()
  }
}
