package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** Other live JVMs on the box at bench start (excluding this process
    * and its ancestors — the sbt launcher chain). Non-zero means the
    * numbers are suspect: a stale backgrounded JVM once inflated a full
    * run 84→141 s (round 9). Enforced here, not just memory-noted: the
    * warning lands in the ledger logs AND the JSON.
    */
  private def strayJvms(): Seq[String] = {
    import scala.jdk.CollectionConverters._
    import scala.jdk.OptionConverters._
    var anc = List(ProcessHandle.current())
    while (anc.head.parent().isPresent) anc = anc.head.parent().get() :: anc
    val own = anc.map(_.pid()).toSet
    ProcessHandle.allProcesses().iterator().asScala
      .filter { p =>
        !own.contains(p.pid()) &&
          p.info().command().toScala.exists(_.endsWith("java"))
      }
      .map { p =>
        val cmd = p.info().commandLine().toScala
          .orElse(p.info().command().toScala).getOrElse("?")
        s"pid=${p.pid()} ${cmd.take(160)}"
      }.toSeq
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val strays = try strayJvms() catch { case _: Throwable => Seq.empty }
    strays.foreach(s => System.err.println(
      s"[bench] PREFLIGHT WARNING: stray JVM alive at bench start — " +
        s"$s — wall times may be inflated; kill it and rerun"))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm the JVM/codegen/parquet-reader/shuffle paths once so the first
    // timed query doesn't absorb session startup
    try spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count().collect()
    catch { case _: Throwable => () }
    // Prepare-phase pre-builds (one per maintenance-class artifact —
    // the ann_index_build precedent carried since r4): each runs OUTSIDE
    // any timed query window and is priced under its OWN top-level
    // metric, so per-query times price serving. A failed pre-build means
    // the first consuming query silently rebuilds the artifact INSIDE
    // its window — the includes-build flag lands in the JSON so that
    // is never presented as serving cost. One row per artifact:
    // (metric key, includes-build flag key, build), run in table order.
    val prebuilds: Seq[(String, String, () => Unit)] = Seq(
      // IVF index (maintenance job in production — Ann.buildIndex):
      // ann_ivf_* times are probe-only
      ("ann_index_build", "ann_probe_includes_build",
        () => operators.Ann.buildIndex(spark, sfDir)),
      // n-gram dedup pair table + cluster labels (persisted maintenance
      // artifacts — DedupOps.ngramJaccardPairs scaladoc)
      ("pair_table_build", "pair_serving_includes_build",
        () => operators.DedupOps.ngramClusterLabels(spark, sfDir).count()),
      // PQ codebooks + encoded corpus (Pq.buildCodes scaladoc): sim_pq_*
      // times are ADC-scan + re-rank only
      ("pq_code_build", "pq_serving_includes_build",
        () => operators.Pq.buildCodes(spark, sfDir).count()),
      // IVF-PQ cell-partitioned codes artifact (per-generation build)
      ("ivfpq_code_build", "ivfpq_serving_includes_build",
        () => operators.Pq.buildIvfPqCodes(spark, sfDir)),
      // the ingest gate's appended fixture (index on the even half, codes
      // committed there, odd half appended) — measured ~4.7 s at sf0.1
      // absorbed by whichever gate ran first before the r12 split
      ("ivfpq_ingest_fixture_build", "ivfpq_ingest_gate_includes_build",
        () => operators.Pq.ivfPqAppendedFixture(spark, sfDir)),
      // the plain-IVF append/delete gate fixtures (r15 split — each gate's
      // first window used to absorb a half-/whole-corpus k-means build:
      // 7.5 s of the append gate's 7.8 s first rep at sf0.1, and the two
      // gates were the sf10 ledger's largest entries for that reason)
      ("ivf_append_fixture_build", "ivf_append_gate_includes_build",
        () => operators.Ann.appendedIndex(spark, sfDir)),
      ("ivf_delete_fixture_build", "ivf_delete_gate_includes_build",
        () => operators.Ann.deletedIndex(spark, sfDir)),
      // the minhash gate's EXACT truth table (prefix-filter all-pairs over
      // the gate's budget — the registry's most contention-sensitive
      // shuffle; r15 split, exactness intact)
      ("lsh_truth_build", "lsh_gate_includes_build",
        () => operators.DedupOps.buildLshGateTruth(spark, sfDir)),
      // q20's exact-distinct truth (the gate's compare target; r15 split)
      ("q20_truth_build", "q20_gate_includes_build",
        () => operators.Relational.buildQ20Truth(spark, sfDir)))
    val prebuildJson = prebuilds.map { case (key, flag, build) =>
      val t0 = System.nanoTime()
      val sec =
        try { build(); Some((System.nanoTime() - t0) / 1e9) }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $key failed: ${e.getMessage}")
          None
        }
      s""""$key":${sec.fold("null")(_.toString)},"$flag":${sec.isEmpty}"""
    }.mkString(",")
    // ---- per-query session-state attribution (round 14): the sf10
    // q20/minhash gate outliers could only be ADJUDICATED, not explained,
    // from wall times alone — capture per-query task GC / spill via a
    // listener plus driver GC and post-GC heap, so a full-bench number
    // that diverges from its fresh-session twin (`bench/micro_*.json`)
    // carries its own cause in the ledger. Listener counters are
    // monotonic; per-query values are deltas. (local[...] = one JVM, so
    // "task GC" and "driver GC" sample the same collector from two
    // angles.)
    val taskGcMs = new java.util.concurrent.atomic.AtomicLong()
    val memSpill = new java.util.concurrent.atomic.AtomicLong()
    val diskSpill = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = t.taskMetrics
          if (m != null) {
            taskGcMs.addAndGet(m.jvmGCTime)
            memSpill.addAndGet(m.memoryBytesSpilled)
            diskSpill.addAndGet(m.diskBytesSpilled)
            ()
          }
        }
      })
    def driverGcMs(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
    }
    // hypervisor CPU steal (/proc/stat field 9, cumulative ticks across
    // all cpus; 1 tick = 10 ms of stolen cpu-time at USER_HZ=100): this
    // box's steal is BURSTY — measured 0.01% idle vs 5.5% during one
    // r15 bench run — and per-query deltas let an outlier adjudication
    // read its contention off the ledger instead of guessing (the
    // r13/r14 q20 lesson). 0 on boxes without the field.
    def stealTicks(): Long =
      try {
        val line = java.nio.file.Files.readAllLines(
          java.nio.file.Paths.get("/proc/stat")).get(0)
        val f = line.trim.split("\\s+")
        if (f.length > 8) f(8).toLong else 0L
      } catch { case _: Throwable => 0L }
    def usedHeapMb(): Long = {
      val rt = Runtime.getRuntime
      (rt.totalMemory - rt.freeMemory) >> 20
    }
    val queryMetrics =
      scala.collection.mutable.LinkedHashMap.empty[String, String]
    // fixed alphabetical order: deterministic run-to-run comparisons
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val gc0 = driverGcMs(); val tg0 = taskGcMs.get()
      val ms0 = memSpill.get(); val ds0 = diskSpill.get()
      val st0 = stealTicks()
      val t0 = System.nanoTime()
      // collect(), not count(): count() lets Catalyst prune every column
      // and EliminateSorts drop the final ordering, so the timed plan
      // would not be the plan the oracle verifies. All query outputs are
      // aggregate/top-k bounded, so full driver materialization is safe.
      var ok = true
      try { fn(spark, sfDir).collect() } catch { case e: Throwable =>
        ok = false
        failed += name
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
      }
      // a failed query's elapsed time is meaningless — excluding it keeps
      // the per-query map and total honest (a crash must not read as fast)
      val dt = if (ok) (System.nanoTime() - t0) / 1e9 else Double.NaN
      // drain the async listener bus BEFORE snapshotting the task-metric
      // atomics: SparkListenerTaskEnd delivery is asynchronous, so events
      // still queued at snapshot time would be attributed to the NEXT
      // query (round-14 ADVICE). Outside the timed window; a drain
      // timeout (never observed locally) leaves at most that query's
      // tail events mis-attributed — the documented residual skew.
      try org.apache.spark.graft.ListenerBusDrain.drain(spark.sparkContext)
      catch { case _: java.util.concurrent.TimeoutException =>
        System.err.println(s"[bench] listener drain timed out after $name" +
          " — its tail task metrics may attribute to the next query")
      }
      // localCheckpoint blocks from dedup/ANN queries are reclaimed by the
      // ContextCleaner only after a driver GC notices the RDD is dead —
      // without this they accumulate across the session and bleed memory
      // pressure into later queries' times. Outside the timed window.
      System.gc()
      queryMetrics(name) =
        s"""{"gc_ms":${driverGcMs() - gc0},""" +
          s""""task_gc_ms":${taskGcMs.get() - tg0},""" +
          s""""mem_spill_mb":${(memSpill.get() - ms0) >> 20},""" +
          s""""disk_spill_mb":${(diskSpill.get() - ds0) >> 20},""" +
          s""""steal_cpu_ms":${(stealTicks() - st0) * 10},""" +
          s""""heap_after_gc_mb":${usedHeapMb()}}"""
      name -> dt
    }.toMap
    val timed = results.filterNot { case (_, v) => v.isNaN }
    val qs = timed.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val fails = failed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    // the SERVING total is the headline: gate-class entries (exact-mode
    // twins / truth tables — SparkEntry.gateQueries) are correctness
    // maintenance, and folding a 13 s truth table into the serving sum
    // is the same smell the pair_table_build split fixed. Per-query
    // times for BOTH classes stay in `queries` so round-over-round
    // diffs compare everything.
    val gateNames = SparkEntry.gateQueries
    val (gates, serving) = timed.partition { case (k, _) => gateNames(k) }
    val servingTotal = if (serving.nonEmpty) serving.values.sum else 0.0
    val gateTotal = if (gates.nonEmpty) gates.values.sum else 0.0
    val gateList = gateNames.toSeq.sorted.map("\"" + _ + "\"")
      .mkString("[", ",", "]")
    val metricsJson = queryMetrics
      .map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val json = s"""{"metric":"serving_total","value":$servingTotal,"unit":"sec","gate_total":$gateTotal,"grand_total":${servingTotal + gateTotal},"gate_queries":$gateList,"queries":$qs,"query_metrics":$metricsJson,$prebuildJson,"stray_jvms_at_start":${strays.size},"failed":$fails,"sf":"$sfDir"}"""
    println(json)
    // the driver's captured tail truncates long stdout lines, so ALSO
    // persist the full per-query JSON under a stable path — round-over-
    // round diffs then compare every query, not the ~55 that fit the tail
    try {
      val out = java.nio.file.Paths.get("bench/bench_full_latest.json")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out,
        json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      System.err.println(s"[bench] full per-query JSON written to $out")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write bench/bench_full_latest.json: ${e.getMessage}")
    }
    spark.stop()
  }
}
