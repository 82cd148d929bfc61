package graft

import org.apache.spark.sql.catalyst.expressions.{Expression, JsonToStructs}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.SortAggregateExec

/** Dev tool (r17, VERDICT r16 #7): sweep EVERY registered batch query's
  * formatted plan and emit ONE committed summary artifact with the
  * plan-health counters the optimization rounds claim in prose —
  * per-query counts of CartesianProduct / BroadcastNestedLoopJoin nodes,
  * SinglePartition exchanges, SortMergeJoin vs BroadcastHashJoin vs
  * ShuffledHashJoin nodes, total Exchange nodes, parquet scans, and scans
  * whose PushedFilters list is empty. The artifact makes the full-registry
  * sweep auditable instead of builder-reported from /tmp dumps.
  *
  * `json_parses` counts `from_json` expressions in the executed plan (each
  * one tokenizes its whole payload on every row it sees, see
  * [[graft.plans.ParseJsonOnce]]); `sort_aggregate` counts SortAggregate
  * nodes.
  *
  * `runMain graft.PlanSweep <sfDir> <outFile>`
  *
  * Notes for the reader of the artifact:
  *  - a SinglePartition exchange is NOT automatically a defect: a global
  *    aggregate emitting one row, a global top-k/sort of an
  *    already-reduced relation, and a bounded driver-side lookup all
  *    legitimately end in one partition. The counter exists so that NEW
  *    single-partition exchanges stand out in a diff.
  *  - an empty PushedFilters on a scan is only suspicious when the query
  *    filters that scan's columns; unfiltered full-table scans (most
  *    operator inputs) legitimately push nothing.
  */
object PlanSweep extends AdaptiveSparkPlanHelper {

  /** Expressions in `plan` that satisfy `p`, over every operator that
    * evaluates them per row, subqueries and adaptive query stages included.
    * Leaves (scans) are skipped: the filters a scan lists are the ones
    * offered to the source, which the Filter above it evaluates again. */
  def countExpressions(plan: SparkPlan)(p: Expression => Boolean): Int =
    collectWithSubqueries(plan) { case n if !n.isInstanceOf[LeafExecNode] =>
      n.expressions.map(_.collect { case e if p(e) => e }.size).sum
    }.sum

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outFile = args(1)
    val spark = GraftSession.local(8)

    def count(hay: String, needle: String): Int = {
      var n = 0; var i = hay.indexOf(needle)
      while (i >= 0) { n += 1; i = hay.indexOf(needle, i + needle.length) }
      n
    }

    val rows = SparkEntry.queries.keys.toSeq.sorted.map { n =>
      try {
        val (txt, plan) = graft.util.Checkpoints.scoped {
          val qe = SparkEntry.queries(n)(spark, sfDir).queryExecution
          (qe.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted")),
            qe.executedPlan)
        }
        // node names are counted on the numbered operator list lines so a
        // mention inside a detail section cannot double-count
        val nodeLines = txt.linesIterator
          .filter(_.matches("""^[\s:+-]*\(\d+\) .*""")).mkString("\n")
        Seq(n,
          count(nodeLines, "CartesianProduct"),
          count(nodeLines, "BroadcastNestedLoopJoin"),
          count(txt, "Arguments: SinglePartition"),
          count(nodeLines, "SortMergeJoin"),
          count(nodeLines, "BroadcastHashJoin"),
          count(nodeLines, "ShuffledHashJoin"),
          count(nodeLines, "Exchange"),
          count(nodeLines, "Scan parquet"),
          count(txt, "PushedFilters: []"),
          countExpressions(plan)(_.isInstanceOf[JsonToStructs]),
          collectWithSubqueries(plan) { case a: SortAggregateExec => a }.size,
          "ok").mkString("\t")
      } catch {
        case t: Throwable =>
          (Seq(n) ++ Seq.fill(11)("-") :+ s"failed: ${t.toString.take(120)}")
            .mkString("\t")
      }
    }
    val header = Seq("query", "cartesian", "bnl_join", "single_partition",
      "sort_merge_join", "broadcast_hash_join", "shuffled_hash_join",
      "exchange", "parquet_scans", "scans_no_pushed_filters", "json_parses",
      "sort_aggregate", "status")
      .mkString("\t")
    val p = java.nio.file.Paths.get(outFile)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, (header +: rows).mkString("", "\n", "\n"))
    println(s"wrote $p (${rows.size} queries)")
    spark.stop()
  }
}
