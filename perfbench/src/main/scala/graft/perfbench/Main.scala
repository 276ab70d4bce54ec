package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark: sets up one workload, measures it for the
  * given seconds, checks its outputs and writes the result as JSON.
  *
  *   Main --workload ingest|stream|query --seed N --seconds S
  *        --trace 0|1 --work DIR --repo DIR --out FILE
  *        [--data DIR]   (query: the corpus perfbench/corpus.py wrote)
  *
  * `perfbench/run.py` builds the program, starts this, runs the DuckDB
  * oracle over the query results it dumps and prints the final line.
  */
object Main {
  val Names: Seq[String] = Seq("ingest", "stream", "query")
  val Cores = 4

  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opt("workload")
    require(Names.contains(workload), s"unknown workload $workload")
    val work = Paths.get(opt("work")).toAbsolutePath
    Files.createDirectories(work)
    val strays = Validity.strayJvms()
    val steal0 = Validity.stealMs()
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.minBatchesToRetain", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val r = new Run(spark, work, Paths.get(opt("repo")).toAbsolutePath,
      opt("seed").toLong, opt("seconds").toDouble, opt("trace") == "1", Cores)
    workload match {
      case "ingest" => Workloads.ingest(r, sessionS)
      case "stream" => Workloads.stream(r, sessionS)
      case "query" => Workloads.queries(r, sessionS, opt("data"))
    }
    r.ledger("peak_rss_mb") = Validity.peakRssMb()
    // run-validity readings: a run with steal, stray JVMs or a late
    // generator (open loop only) measured a shared or overloaded box
    r.ledger("validity") = Map("steal_cpu_ms" -> (Validity.stealMs() - steal0),
      "stray_jvms_at_start" -> strays,
      "generator_late_ms" -> r.ledger.get("generator_late_ms"))
    if (r.trace) {
      r.ledger("span_self_ms_by_layer") = r.tracer.selfMsByLayer
      Files.write(work.resolve("trace.json"), Json(r.tracer.toJson).getBytes("UTF-8"))
    }
    val result = Map(
      "workload" -> workload, "seed" -> r.seed, "seconds" -> r.seconds,
      "trace" -> r.trace, "attempted" -> r.attempted, "failed" -> r.failed,
      "failures" -> r.failures.toSeq, "checks" -> r.checks.toSeq,
      "oracle_queries" -> r.oracle.toSeq,
      "e2e" -> r.e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap,
      "layer" -> r.layer.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap,
      "ledger" -> r.ledger.toMap)
    Files.write(Paths.get(opt("out")), Json(result).getBytes("UTF-8"))
    spark.stop()
  }
}
