package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}

/** Whole-registry physical-plan audit — the scale-story evidence in one
  * table. For every `SparkEntry.queries` entry, EXECUTES the query (so
  * AQE's final plan is what gets audited, not the static guess) and
  * reports:
  *
  *   - `xchg`  — distinct shuffle exchanges (each one is a full
  *     network/disk cycle of its input at 100 TB)
  *   - `bhj` / `smj` — broadcast-hash vs sort-merge join counts (a
  *     sort-merge against a dimension table is a missed broadcast)
  *   - `wsc` — WholeStageCodegen spans (0 on a non-trivial plan means
  *     the hot path fell out of codegen)
  *   - `pushed` — whether any parquet scan carries PushedFilters
  *     (blank for queries whose semantics filter nothing at the scan)
  *   - `sort` — global Sort operators (range exchange + per-partition
  *     sort; registry queries order their output for determinism, so ≥1
  *     is expected and the interesting signal is MORE than one)
  *
  * Usage: `runMain graft.tools.PlanAudit <sfDir> [query ...]` — prints a
  * markdown table, one row per query, sorted by name.
  */
object PlanAudit {
  /** One audited plan: the table's columns for one query. */
  final case class Shape(xchg: Int, bhj: Int, smj: Int, wsc: Int,
      sort: Int, pushed: Boolean)

  /** Counts one executed plan's operators. Identity-keyed visited set
    * (not identityHashCode ints, which can collide and undercount; not
    * equals, which would merge distinct-but-equal operators): a subtree
    * reachable both through a query-stage wrapper and a
    * reused-exchange/subquery path is counted exactly once. `pushed`
    * counts parquet scans only: a text or JSON scan's inferred
    * `IsNotNull(value)` skips nothing.
    */
  def audit(plan: SparkPlan): Shape = {
    val visited = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    var shuffles = 0
    var bhj, smj, wsc, sort = 0
    var pushed = false
    def walk(x: SparkPlan): Unit = {
      if (!visited.add(x)) return
      x.nodeName match {
        case n if n.contains("BroadcastHashJoin") => bhj += 1
        case n if n.contains("SortMergeJoin") => smj += 1
        case n if n.contains("WholeStageCodegen") => wsc += 1
        case "Sort" => sort += 1
        case _ =>
      }
      x match {
        case _: ShuffleExchangeLike => shuffles += 1
        case f: FileSourceScanExec
            if f.relation.fileFormat.isInstanceOf[ParquetFileFormat] =>
          if (f.metadata.get("PushedFilters").exists(v =>
              v.nonEmpty && v != "[]")) pushed = true
        case _: ReusedExchangeExec => ()
        case _ =>
      }
      x match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case _ =>
      }
      x.children.foreach(walk)
      x.subqueries.foreach(walk)
    }
    walk(plan)
    Shape(shuffles, bhj, smj, wsc, sort, pushed)
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: PlanAudit <sfDir> [query ...]")
    val sfDir = args(0)
    val only = args.drop(1).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    println("| query | xchg | bhj | smj | wsc | sort | pushed |")
    println("|---|---|---|---|---|---|---|")
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          df.collect() // drive AQE to its final plan
          val a = audit(df.queryExecution.executedPlan)
          val p = if (a.pushed) "yes" else ""
          println(s"| $name | ${a.xchg} | ${a.bhj} | ${a.smj} | ${a.wsc} " +
            s"| ${a.sort} | $p |")
        } catch {
          case e: Throwable =>
            println(s"| $name | ERROR: ${e.getClass.getSimpleName} | | | | | |")
        }
      }
    spark.stop()
  }
}
