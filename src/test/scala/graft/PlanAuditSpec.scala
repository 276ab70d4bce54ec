package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.tools.PlanAudit

/** `PlanAudit`'s `pushed` column counts parquet scans only. A filtered
  * text scan carries the inferred `IsNotNull(value)` (and the filter
  * itself) as PushedFilters, yet the text source skips nothing with
  * them; a filtered parquet scan can skip row groups.
  */
class PlanAuditSpec extends SparkSpec {
  import spark.implicits._

  private def executedPlan(df: org.apache.spark.sql.DataFrame) = {
    df.collect()
    df.queryExecution.executedPlan
  }

  test("pushed: a filtered text scan is not, a filtered parquet scan is") {
    val dir = Files.createTempDirectory("graft-planaudit").toString
    val lines = Seq("a1", "b2", "a3")
    lines.toDF("value").write.text(s"$dir/text")
    lines.toDF("value").write.parquet(s"$dir/parquet")

    val text = spark.read.text(s"$dir/text")
      .filter(col("value").startsWith("a"))
    val textPlan = executedPlan(text)
    assert(textPlan.toString.contains("PushedFilters: [IsNotNull(value)"),
      textPlan.toString)
    assert(!PlanAudit.audit(textPlan).pushed)

    val parquet = spark.read.parquet(s"$dir/parquet")
      .filter(col("value").startsWith("a"))
    assert(PlanAudit.audit(executedPlan(parquet)).pushed)
  }
}
