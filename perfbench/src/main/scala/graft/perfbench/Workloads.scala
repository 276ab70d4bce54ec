package graft.perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.operators.{Cdc, CdcEnvelope}
import graft.sources.CdcSchemas
import graft.streaming.CdcStream

/** What one run of a workload reports. `e2e` and `layer` map a metric name
  * to (value, unit).
  */
final class Run(val spark: SparkSession, val work: Path, val repo: Path,
    val seed: Long, val seconds: Double, val trace: Boolean, val cores: Int) {
  val tracer = new Tracer(trace)
  val exec: Option[ExecListener] =
    if (trace) {
      val l = new ExecListener
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val ledger = mutable.LinkedHashMap.empty[String, Any]
  val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  val failures = mutable.ArrayBuffer.empty[String]
  /** Queries whose first result is dumped for the DuckDB oracle. */
  val oracle = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  def check(name: String, problem: Option[String]): Unit =
    checks += Map("check" -> name, "ok" -> problem.isEmpty,
      "detail" -> problem.getOrElse(""))

  /** Run `body` with every Spark job it submits tagged with `group`. */
  def group[T](g: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(g, g, interruptOnCancel = false)
    try body finally sc.clearJobGroup()
  }

  def dir(name: String): Path = Files.createDirectories(work.resolve(name))

  /** Generate the run's inputs. The time is kept in the ledger only: the
    * harness pays it, not the program, so it is not part of setup_s.
    */
  def generate[T](body: => T): T = {
    val t0 = System.nanoTime()
    val v = body
    ledger("input_generation_s") = (System.nanoTime() - t0) / 1e9
    v
  }

  /** setup_s: session start plus the program's one-time preparation `once`
    * (warm-up pass, state snapshot, prebuilt artifacts).
    */
  def setup[T](sessionS: Double)(once: => T): T = {
    val t0 = System.nanoTime()
    val v = once
    val onceS = (System.nanoTime() - t0) / 1e9
    e2e("setup_s") = (sessionS + onceS, "s")
    ledger("setup") = Map("session_start_s" -> sessionS, "once_s" -> onceS)
    v
  }

  /** Record the latency sample set as end-to-end and tail metrics. */
  def latencies(ms: Seq[Double]): Unit = {
    e2e("latency_p50_ms") = (Stats.median(ms), "ms")
    val tail = Stats.supportedTail(ms.size)
    layer("latency_p90_ms") = (Stats.pct(ms, 90), "ms")
    layer("latency_samples") = (ms.size.toDouble, "count")
    ledger("latency_ms") = Map("n" -> ms.size, "p50" -> Stats.median(ms),
      "p90" -> Stats.pct(ms, 90), "highest_supported_percentile" -> tail,
      s"p$tail" -> Stats.pct(ms, tail.toDouble))
  }

  /** Exec-layer metrics per operation, from the Spark work `counts` picks
    * out of the listener's totals for the `windowMs` measured.
    */
  def execLayer(ops: Long, windowMs: Double)(counts: ExecListener => ExecCounts): Unit =
    exec.foreach { l =>
      val c = counts(l)
      val per = math.max(1L, ops).toDouble
      layer("exec.jobs") = (c.jobs / per, "count")
      layer("exec.stages") = (c.stages / per, "count")
      layer("exec.tasks") = (c.tasks / per, "count")
      layer("exec.executor_run_ms") = (c.runMs / per, "ms")
      layer("exec.core_util") = (c.runMs / (windowMs * cores), "ratio")
      layer("exec.shuffle_read_bytes") = (c.shuffleRead / per, "bytes")
      layer("exec.shuffle_write_bytes") = (c.shuffleWrite / per, "bytes")
      layer("exec.input_bytes") = (c.input / per, "bytes")
      layer("exec.gc_ms") = (c.gcMs / per, "ms")
      layer("exec.spill_bytes") = (c.spill / per, "bytes")
      layer("exec.peak_rss_mb") = (Validity.peakRssMb(), "MB")
      ledger("exec_by_group") = l.groups(spark).map { case (g, x) => g -> x.toMap }
    }

  def now(): Double = System.nanoTime() / 1e6
}

/** The batch CDC chain as the workloads call it. */
object Chain {
  val Schemas: Seq[(String, StructType)] = Seq(
    "customers" -> CdcSchemas.customer, "products" -> CdcSchemas.product,
    "orders" -> CdcSchemas.order, "order_items" -> CdcSchemas.orderItem)
  val Keys = Seq("table_name", "id")
  def ord = Seq(Cdc.lsnOrd(col("lsn")))

  /** One table's files under every dir, as a Hadoop glob (alternation
    * only works below a common parent).
    */
  def glob(dirs: Seq[String], table: String): String =
    if (dirs.size == 1) s"${dirs.head}/$table"
    else {
      val ps = dirs.map(java.nio.file.Paths.get(_))
      require(ps.map(_.getParent).distinct.size == 1, s"no common parent: $dirs")
      s"${ps.head.getParent}/${ps.map(_.getFileName).mkString("{", ",", "}")}/$table"
    }

  def decoded(spark: SparkSession, dirs: Seq[String]): Seq[DataFrame] =
    Schemas.map { case (t, s) =>
      Cdc.readJsonEvents(spark, CdcSchemas.envelope(s), glob(dirs, t))
    }

  def unified(spark: SparkSession, dirs: Seq[String]): DataFrame =
    Cdc.unify(decoded(spark, dirs).map(d => Cdc.softDeleteRewrite(Cdc.unwrap(d))))

  /** Per-stage self times by materialising each prefix of the chain into a
    * `noop` sink: decode, +unwrap/rewrite, +unify, +compact. Returns the
    * median over `reps` of each prefix's increment, in seconds.
    */
  def prefixSelfTimes(spark: SparkSession, dirs: Seq[String], reps: Int)
      : Seq[(String, Double)] = {
    def time(df: => DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val prefixes: Seq[(String, () => DataFrame)] = Seq(
      "decode" -> (() => decoded(spark, dirs).reduce(_.unionByName(_,
        allowMissingColumns = true))),
      "unwrap_rewrite" -> (() => decoded(spark, dirs)
        .map(d => Cdc.softDeleteRewrite(Cdc.unwrap(d)))
        .reduce(_.unionByName(_, allowMissingColumns = true))),
      "unify" -> (() => unified(spark, dirs)),
      "compact" -> (() => Cdc.compactLog(unified(spark, dirs), Keys, ord)))
    val runs = (1 to reps).map(_ => prefixes.map { case (_, df) => time(df()) })
    val med = prefixes.indices.map(i => Stats.median(runs.map(_(i))))
    prefixes.indices.map { i =>
      prefixes(i)._1 -> math.max(0.0, med(i) - (if (i == 0) 0.0 else med(i - 1)))
    }
  }

  def stateCanon(df: DataFrame): Map[(String, Long), String] =
    df.collect().map(Envelopes.canonSpark).toMap
}

object Workloads {
  import Envelopes._

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
      finally s.close()
    }

  private def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try {
        var n = 0L
        s.forEach(f => if (Files.isRegularFile(f)) n += Files.size(f))
        n
      } finally s.close()
    }

  /** One table's events split into `files` JSON-lines files under dir/table. */
  private def writeTable(dir: Path, table: String, events: Seq[Event],
      files: Int): Long = {
    val per = math.max(1, (events.size + files - 1) / files)
    events.grouped(per).zipWithIndex.map { case (chunk, i) =>
      writeJsonl(dir.resolve(table).resolve(f"part-$i%03d.jsonl"), chunk)
    }.sum
  }

  // ---- ingest ------------------------------------------------------------

  /** Events per ingest pass: a 10,000-order snapshot plus DML rounds, cut
    * at exactly 120,000 events before faults, so every seed feeds the same
    * volume.
    */
  val IngestMix = Mix(customers = 5000, products = 1500, orders = 10000)
  val IngestEvents = 120000
  /** Passes run before the window, for codegen and JIT warm-up. */
  val IngestWarmPasses = 1

  final case class IngestInput(dir: Path, truth: Map[(String, Long), String],
      counts: Map[String, Long], duplicates: Long, bytes: Long)

  private def ingestInput(dir: Path, seed: Long, mix: Mix): IngestInput = {
    val g = new Gen(seed)
    val all = mutable.ArrayBuffer.empty[Event] ++= g.snapshot(mix)
    while (all.size < IngestEvents) all ++= g.round()
    val base = all.take(IngestEvents).toSeq
    val byTable = Tables.map(t => t -> g.withFaults(base.filter(_.table == t), mix))
    val bytes = byTable.map { case (t, es) => writeTable(dir, t, es, 4) }.sum
    IngestInput(dir, liveTruth(base.iterator),
      byTable.map { case (t, es) => t -> es.size.toLong }.toMap,
      byTable.map(_._2.size).sum - base.size, bytes)
  }

  def ingest(r: Run, sessionS: Double): Unit = {
    import r.spark
    val in = r.generate(ingestInput(r.work.resolve("in"), r.seed, IngestMix))
    // one pass outside the window: codegen and JIT warm-up are lazy set-up
    // that a deployment pays once, not per pass
    r.setup(sessionS)((1 to IngestWarmPasses).foreach(i =>
      onePass(r, in, r.work.resolve(s"warm-$i"), s"warm-$i")))
    val passMs = mutable.ArrayBuffer.empty[Double]
    val readbacks = mutable.ArrayBuffer.empty[Map[String, Long]]
    val t0 = r.now()
    var k = 0
    while (r.now() - t0 < r.seconds * 1000) {
      k += 1
      val p0 = r.now()
      readbacks += onePass(r, in, r.work.resolve(s"pass-$k"), s"ingest-$k")
      passMs += r.now() - p0
      if (k > 1) deleteTree(r.work.resolve(s"pass-${k - 1}"))
    }
    val windowMs = r.now() - t0
    r.attempted += k
    val events = in.counts.values.sum
    // one client, so throughput is the events of a pass over its median time
    r.e2e("throughput_per_s") = (events / (Stats.median(passMs.toSeq) / 1000), "1/s")
    r.latencies(passMs.toSeq)
    r.ledger("passes") = k
    r.ledger("events_per_pass") = events
    r.ledger("pass_ms") = passMs.toSeq

    // checks, outside the window
    val badCounts = readbacks.zipWithIndex.collect {
      case (c, i) if c != in.counts =>
        s"pass ${i + 1} lake counts $c != generator ${in.counts}"
    }
    r.check("ingest.lake_counts_by_table", badCounts.headOption)
    val state = spark.read.parquet(r.work.resolve(s"pass-$k/state").toString)
    r.check("ingest.state_equals_truth", diff(Chain.stateCanon(state), in.truth))

    malformedProbe(r, in)
    if (r.trace) ingestLayers(r, in, k)
    r.execLayer(k, windowMs)(_.total(spark)(_.startsWith("ingest-")))
  }

  /** One closed-loop pass: decode → unwrap → rewrite → unify → latest
    * state (written), time-partitioned lake (written), read-back query over
    * the lake registered with `createEventsTable`. Returns the read-back
    * counts by table.
    */
  private def onePass(r: Run, in: IngestInput, out: Path, op: String)
      : Map[String, Long] = r.group(op) {
    import r.spark
    val t = r.tracer
    val u = t.span(op, "chain", "cdc")(Chain.unified(spark, Seq(in.dir.toString)))
    t.span(op, "state_write", "cdc") {
      Cdc.latestState(u, Chain.Keys, Chain.ord)
        .write.mode("overwrite").parquet(out.resolve("state").toString)
    }
    t.span(op, "lake_write", "cdc") {
      Cdc.writeTimePartitioned(
        Cdc.withTimePartitions(u, coalesce(col("updated_at"), col("created_at"))),
        out.resolve("lake").toString)
    }
    t.span(op, "readback", "cdc") {
      val tbl = Cdc.createEventsTable(spark, out.resolve("lake").toString,
        s"lake_${op.replace('-', '_')}", "parquet")
      Cdc.countsByTable(tbl).collect()
        .map(x => x.getString(0) -> x.getLong(1)).toMap
    }
  }

  /** The PERMISSIVE decode turns a truncated line into a row whose
    * table_name, id, op and lsn are all NULL, and `latestState` serves it.
    * The reference's errors.tolerance=all sink drops such a record. Each run
    * feeds one truncated line through the envelope chain and counts the
    * operation as failed while the phantom row is served.
    */
  private def malformedProbe(r: Run, in: IngestInput): Unit = {
    val d = r.dir("malformed-probe")
    Tables.foreach { t =>
      val src = in.dir.resolve(t).resolve("part-000.jsonl")
      val lines = new String(Files.readAllBytes(src), "UTF-8").split("\n").take(20)
      val extra = if (t == "customers") Seq("{\"before\":null,\"after\":{\"id\":99,") else Nil
      Files.write(d.resolve(s"$t.jsonl"),
        (lines.toSeq ++ extra).mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    r.attempted += 1
    val phantom = r.group("malformed-probe") {
      Cdc.latestState(CdcEnvelope.unified(r.spark, d.toString), Chain.Keys, Chain.ord)
        .filter(col("table_name").isNull && col("id").isNull).count()
    }
    if (phantom > 0) {
      r.failed += 1
      r.failures += s"malformed-record probe: a truncated envelope line became " +
        s"$phantom phantom state row(s) with NULL table_name/id/op/lsn " +
        "(PERMISSIVE decode keeps it; the reference sink drops it)"
    }
    r.ledger("malformed_probe_phantom_rows") = phantom
  }

  private def ingestLayers(r: Run, in: IngestInput, passes: Int): Unit = {
    import r.spark
    val dirs = Seq(in.dir.toString)
    Chain.prefixSelfTimes(spark, dirs, 3).foreach { case (n, s) =>
      r.layer(s"cdc.${n}_s") = (s, "s")
    }
    val spans = r.tracer.all.filter(_.op.startsWith("ingest-"))
    def meanS(n: String) = {
      val xs = spans.filter(_.name == n).map(s => (s.endNs - s.startNs) / 1e9)
      if (xs.isEmpty) 0.0 else xs.sum / xs.size
    }
    r.layer("cdc.state_write_s") = (meanS("state_write"), "s")
    r.layer("cdc.lake_write_s") = (meanS("lake_write"), "s")
    r.layer("cdc.readback_ms") = (meanS("readback") * 1000, "ms")
    cdcCounts(r, dirs, in.bytes)
    r.layer("cdc.duplicate_events") = (in.duplicates.toDouble, "count")
    val lake = Cdc.fileMetrics(spark, r.work.resolve(s"pass-$passes/lake").toString)
      .agg(count(lit(1)), sum(col("bytes"))).head()
    r.layer("cdc.lake_files") = (lake.getLong(0).toDouble, "count")
    r.layer("cdc.lake_bytes_per_input_byte") = (lake.getLong(1).toDouble / in.bytes, "ratio")
    r.layer("cdc.state_rows") = (spark.read
      .parquet(r.work.resolve(s"pass-$passes/state").toString).count().toDouble, "count")
  }

  /** Event, unknown-field and corrupt-row counts over raw input dirs. */
  private def cdcCounts(r: Run, dirs: Seq[String], bytes: Long): Unit = {
    import r.spark
    val raw = spark.read.text(Tables.map(t => Chain.glob(dirs, t)): _*)
    r.layer("cdc.events_in") = (raw.count().toDouble, "count")
    val unknown = Cdc.unknownFieldStats(raw, CdcSchemas.envelope(CdcSchemas.customer))
      .agg(sum(col("n"))).head()
    r.layer("cdc.unknown_fields") =
      (if (unknown.isNullAt(0)) 0.0 else unknown.getLong(0).toDouble, "count")
    r.layer("cdc.corrupt_rows") = (Chain.decoded(spark, dirs)
      .map(_.filter(col("_corrupt").isNotNull).count()).sum.toDouble, "count")
    r.ledger("input_bytes") = bytes
  }

  // ---- stream ------------------------------------------------------------

  /** Snapshot size for the pre-seeded state (about 2k keys) and the
    * schedule: every 250 ms a slot of 250 events, one file per table
    * present, so 1,000 events/s offered, on a 2 s trigger. A micro-batch of
    * this load takes about 1.2 s (measured on 4 cores), so the query runs
    * below saturation, where lag does not depend on how the backlog grew.
    */
  val StreamMix = Mix(customers = 400, products = 100, orders = 500)
  val SlotEvents = 250
  val SlotMs = 250.0
  val TriggerMs = 2000L
  /** Slots fed on schedule before the window opens (2 s), so the window
    * sees a warmed query at its steady state; their files are folded and
    * checked but not counted as lag samples.
    */
  val RampSlots = 8

  final case class StreamFile(name: String, table: String, events: Seq[Event],
      bytes: Array[Byte])
  /** `slots(i)` holds the files (one per table present) due at slot i. */
  final case class StreamInput(root: Path, snapshot: Seq[Event],
      slots: Seq[Seq[StreamFile]])

  private def streamInput(root: Path, seed: Long, seconds: Double): StreamInput = {
    val g = new Gen(seed)
    val snap = g.snapshot(StreamMix)
    Tables.foreach(t => writeJsonl(root.resolve("snap").resolve(t).resolve("part-000.jsonl"),
      snap.filter(_.table == t)))
    // DML for the warm-up and the window plus a margin, cut into slots in
    // emission order
    val need = ((seconds * 1000 / SlotMs + RampSlots + 8) * SlotEvents).toInt
    val events = mutable.ArrayBuffer.empty[Event]
    while (events.size < need) events ++= g.round()
    val slots = events.toSeq.grouped(SlotEvents).zipWithIndex.map { case (grp, gi) =>
      Tables.flatMap { t =>
        val es = grp.filter(_.table == t)
        if (es.isEmpty) None
        else {
          val faulted = g.withFaults(es, StreamMix)
          val body = faulted.map(json).mkString("", "\n", "\n").getBytes("UTF-8")
          Some(StreamFile(f"f-$gi%05d-$t.jsonl", t, faulted, body))
        }
      }
    }.toSeq
    StreamInput(root, snap, slots)
  }

  def stream(r: Run, sessionS: Double): Unit = {
    import r.spark
    val in = r.generate(streamInput(r.work.resolve("stream"), r.seed, r.seconds))
    val root = in.root
    val ckpt = root.resolve("ckpt")
    val stateDir = root.resolve("state").toString
    val stage = r.dir("stream-stage")
    def drop(f: StreamFile): Unit = {
      val tmp = stage.resolve(f.name)
      Files.write(tmp, f.bytes)
      Files.move(tmp, root.resolve("in").resolve(f.table).resolve(f.name),
        StandardCopyOption.ATOMIC_MOVE)
    }
    val q = r.setup(sessionS) {
      // the batch snapshot of state the stream folds into, so every
      // micro-batch rewrites a state of the same size
      r.group("stream-snapshot") {
        Cdc.compactLog(Chain.unified(spark, Seq(root.resolve("snap").toString)),
          Chain.Keys, Chain.ord)
          .withColumn("lsn_ord", Cdc.lsnOrd(col("lsn")))
          .write.parquet(root.resolve("state").resolve("v=0").toString)
      }
      Tables.foreach(t => Files.createDirectories(root.resolve("in").resolve(t)))
      val source = Chain.Schemas.map { case (t, s) =>
        Cdc.softDeleteRewrite(Cdc.unwrap(CdcStream.jsonEventStream(spark,
          CdcSchemas.envelope(s), root.resolve("in").resolve(t).toString)))
      }
      val q = r.tracer.span("stream", "start_upsert_sink", "streaming") {
        CdcStream.startUpsertSink(
          Cdc.unify(source).withColumn("lsn_ord", Cdc.lsnOrd(col("lsn"))),
          Chain.Keys, "lsn_ord", stateDir, ckpt.toString,
          Trigger.ProcessingTime(TriggerMs))
      }
      // the first micro-batch pays codegen: fold the first slot before the
      // schedule starts
      in.slots.head.foreach(drop)
      q.processAllAvailable()
      q
    }

    // generator: drops each slot's files on a fixed schedule that does not
    // wait for Spark; a file appears atomically by rename from a staging dir
    val scheduled = mutable.ArrayBuffer.empty[(StreamFile, Double, Double)]
    // a ProcessingTime trigger fires at wall-clock multiples of its
    // interval; the schedule starts at a fixed phase between two firings,
    // so every run sees the same offsets of file arrivals to triggers and
    // no file is due at a firing
    val nowEpoch = System.currentTimeMillis()
    val nowMono = r.now()
    val epoch0 = ((nowEpoch + 100) / TriggerMs + 1) * TriggerMs + SlotMs / 2
    val mono0 = nowMono + (epoch0 - nowEpoch)
    val windowStart = mono0 + RampSlots * SlotMs
    // the streaming engine runs every micro-batch under the query's runId
    // job group; the exec layer is that group's work inside the window
    val runGroup = q.runId.toString
    def streamWork(l: ExecListener) = l.total(spark)(_ == runGroup)
    var batchesBefore = 0
    var execBefore: Option[ExecCounts] = None
    val gen = new Thread(() => {
      var i = 0
      while (1 + i < in.slots.size && i * SlotMs < (r.seconds * 1000 + RampSlots * SlotMs)) {
        val dueMono = mono0 + i * SlotMs
        val wait = dueMono - r.now()
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        in.slots(1 + i).foreach { f =>
          drop(f)
          scheduled.synchronized {
            scheduled += ((f, epoch0 + i * SlotMs, r.now() - dueMono))
          }
        }
        if (i == RampSlots) {
          batchesBefore = q.recentProgress.length
          execBefore = r.exec.map(streamWork)
        }
        i += 1
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    val windowEnd = r.now()
    val batchesAtEnd = q.recentProgress.length
    val execInWindow = r.exec.map(streamWork(_) - execBefore.get)
    val fedAll = scheduled.synchronized(scheduled.toSeq)
    val rampFiles = in.slots.slice(1, 1 + RampSlots).flatten.map(_.name).toSet
    val written = fedAll.filterNot(w => rampFiles(w._1.name))
    val committedAtEnd = Lag.committedFiles(ckpt, Tables.size).keySet
    r.layer("streaming.backlog_files") =
      (written.count(w => !committedAtEnd(w._1.name)).toDouble, "count")
    r.tracer.span("stream", "drain", "streaming") {
      q.processAllAvailable()
      q.stop()
    }
    val committed = Lag.committedFiles(ckpt, Tables.size)
    val missing = (in.slots.head ++ fedAll.map(_._1)).count(f => !committed.contains(f.name))
    r.check("stream.every_file_committed",
      if (missing == 0) None else Some(s"$missing of ${fedAll.size + in.slots.head.size} files not in any committed batch"))
    val lags = written.map { case (f, dueEpoch, _) =>
      committed.get(f.name).map(_._2 - dueEpoch) }
    r.attempted += written.size
    r.latencies(lags.flatten)
    val events = written.map(_._1.events.size).sum
    // committed events per second: the window's events over the time from
    // the window's first scheduled file to the commit of its last
    val lastCommit = written.flatMap(w => committed.get(w._1.name)).map(_._2).max
    r.e2e("throughput_per_s") =
      (events / ((lastCommit - (epoch0 + RampSlots * SlotMs)) / 1000), "1/s")
    val late = written.map(_._3)
    r.layer("streaming.generator_late_ms") = (Stats.pct(late, 90), "ms")
    r.ledger("generator_late_ms") = Map("p50" -> Stats.median(late),
      "p90" -> Stats.pct(late, 90), "max" -> late.max)
    r.ledger("files") = written.size
    r.ledger("ramp_files") = fedAll.size - written.size
    r.ledger("events") = events
    r.ledger("offered_events_per_s") = SlotEvents * 1000 / SlotMs

    // checks: stream state == generator truth == batch latestState
    val fed = in.slots.head.flatMap(_.events) ++ fedAll.flatMap(_._1.events)
    val truth = liveTruth((in.snapshot ++ fed).iterator)
    val streamed = Chain.stateCanon(CdcStream.readUpsertState(spark, stateDir))
    r.check("stream.state_equals_truth", diff(streamed, truth))
    val dirs = Seq(root.resolve("snap").toString, root.resolve("in").toString)
    val batch = Chain.stateCanon(Cdc.latestState(Chain.unified(spark, dirs),
      Chain.Keys, Chain.ord))
    r.check("stream.state_equals_batch_latest_state", diff(streamed, batch))

    // the micro-batches that ran inside the window
    val progress = q.recentProgress.toSeq.slice(batchesBefore, batchesAtEnd)
    val batches = progress.count(_.numInputRows > 0)
    r.ledger("batches") = batches
    if (r.trace) {
      def p50(k: String): Double = {
        val xs = progress.filter(_.numInputRows > 0)
          .flatMap(p => Option(p.durationMs.get(k)).map(_.toDouble))
        if (xs.isEmpty) 0.0 else Stats.median(xs)
      }
      r.layer("streaming.batches") = (batches.toDouble, "count")
      r.layer("streaming.trigger_ms") = (p50("triggerExecution"), "ms")
      r.layer("streaming.add_batch_ms") = (p50("addBatch"), "ms")
      r.layer("streaming.latest_offset_ms") = (p50("latestOffset"), "ms")
      r.layer("streaming.query_planning_ms") = (p50("queryPlanning"), "ms")
      r.layer("streaming.wal_commit_ms") = (p50("walCommit"), "ms")
      r.layer("streaming.state_rows") =
        (CdcStream.readUpsertStateRaw(spark, stateDir).count().toDouble, "count")
      r.layer("streaming.state_bytes") = (treeBytes(root.resolve("state")).toDouble, "bytes")
      Chain.prefixSelfTimes(spark, Seq(root.resolve("in").toString), 3).foreach {
        case (n, s) => r.layer(s"cdc.${n}_s") = (s, "s")
      }
      val files = in.slots.head ++ fedAll.map(_._1)
      cdcCounts(r, Seq(root.resolve("in").toString), files.map(_.bytes.length.toLong).sum)
      r.layer("cdc.duplicate_events") = (files.map(f =>
        f.events.size - f.events.distinct.size).sum.toDouble, "count")
    }
    r.execLayer(batches.toLong, windowEnd - windowStart)(_ => execInWindow.get)
  }

  // ---- query ---------------------------------------------------------------

  private def family(name: String): String = name match {
    case n if graft.operators.Relational.queries.contains(n) => "operators.relational"
    case n if graft.operators.EventOps.queries.contains(n) => "operators.events"
    case n if graft.operators.TemporalOps.queries.contains(n) => "operators.temporal"
    case n if graft.operators.SketchOps.queries.contains(n) && n.startsWith("cdc_") => "operators.sketch"
    case "cdc_envelope_unified" => "operators.cdc_envelope"
    case n if n.startsWith("text_") => "curation.text"
    case n if n.startsWith("dedup_") => "curation.dedup"
    case n if n.startsWith("curate_") => "curation.curate"
    case n if n.startsWith("sim_") => "curation.sim"
    case _ => "other"
  }

  /** A fixed cross-section of the registry: every serving family
    * (relational, events, temporal, sketch, envelope) and every curation
    * family (text, dedup, curate, sim), including the entries that carry the
    * known costs: q05's six schema-inference jobs, `text_lm_perplexity`,
    * LSH, the incremental and semantic dedups. The registry's
    * `cdc_unified_*` entries read their fixture from a fixed absolute path
    * outside the checkout, so the envelope family runs as
    * `CdcEnvelope.unified` over the checkout's `fixtures/cdc`.
    */
  val QueryMix: Seq[String] = Seq(
    "q05_region_revenue", "cdc_latest_state", "sessionize",
    "cdc_distinct_users_sketch", "cdc_envelope_unified",
    "text_lm_perplexity", "dedup_minhash_lsh", "dedup_incremental",
    "dedup_semantic", "curate_split", "sim_cosine_topk")

  val MinPasses = 2

  /** Closed loop over [[QueryMix]] in a seeded order, in whole passes, over
    * the corpus `perfbench/corpus.py` wrote to `data`. The IVF index
    * `dedup_semantic` reads is prebuilt during set-up, as a deployment's
    * maintenance job would.
    * The window runs at least [[MinPasses]] passes: the first runs each
    * query for the first time in the JVM, the second runs it warm, and
    * every window holds both in the same proportion.
    */
  def queries(r: Run, sessionS: Double, data: String): Unit = {
    import r.spark
    val names = QueryMix
    val registry = graft.SparkEntry.queries
    val fixtures = r.repo.resolve("fixtures").resolve("cdc").toString
    val fixtureCounts = Tables.map { t =>
      val text = new String(Files.readAllBytes(r.repo.resolve("fixtures/cdc").resolve(s"$t.jsonl")), "UTF-8")
      val ops = text.split("\n").filter(_.nonEmpty).map(l =>
        "\"op\":\"(.)\"".r.findAllMatchIn(l).toSeq.last.group(1))
      ops.groupBy(identity).map { case (op, xs) => (t, op) -> xs.length.toLong }
    }.reduce(_ ++ _)
    val prebuilds = mutable.LinkedHashMap.empty[String, Double]
    r.setup(sessionS) {
      def timed(n: String)(f: => Unit): Unit = r.group(s"prebuild-$n") {
        val t0 = System.nanoTime(); f
        prebuilds(n) = (System.nanoTime() - t0) / 1e9
      }
      timed("ann_index")(graft.operators.Ann.buildIndex(spark, data))
    }
    prebuilds.foreach { case (n, s) => r.layer(s"curation.prebuild_${n}_s") = (s, "s") }
    r.ledger("data_dir") = data

    // the call fn(spark, dir) and the collect() run under separate job
    // groups, so the jobs a query starts while it is being built (schema
    // inference, prebuilt-artifact reads) are told apart from its execution
    def execute(name: String): (Array[Row], StructType, Double, Double) = {
      val t0 = r.now()
      val df = r.group(s"$name/build")(r.tracer.span(name, "build", "sources") {
        if (name == "cdc_envelope_unified") CdcEnvelope.unified(spark, fixtures)
        else registry(name)(spark, data)
      })
      val t1 = r.now()
      val rows = r.group(name)(r.tracer.span(name, "collect", family(name))(df.collect()))
      (rows, df.schema, t1 - t0, r.now() - t0)
    }

    val rnd = new scala.util.Random(r.seed)
    val first = mutable.LinkedHashMap.empty[String, (Array[Row], StructType)]
    val hashes = mutable.HashMap.empty[String, mutable.Set[Int]]
    val samples = mutable.ArrayBuffer.empty[(String, Double, Double)]
    val t0 = r.now()
    var passes = 0
    while (passes < MinPasses || r.now() - t0 < r.seconds * 1000) {
      passes += 1
      rnd.shuffle(names).foreach { n =>
        r.attempted += 1
        try {
          val (rows, schema, buildMs, ms) = execute(n)
          samples += ((n, buildMs, ms))
          if (!first.contains(n)) first(n) = (rows, schema)
          hashes.getOrElseUpdate(n, mutable.Set.empty) +=
            rows.toSeq.map(_.toString).hashCode
        } catch { case e: Exception =>
          r.failed += 1
          r.failures += s"$n: ${e.getClass.getSimpleName}: ${e.getMessage.take(200)}"
        }
      }
    }
    val windowMs = r.now() - t0
    r.e2e("throughput_per_s") = (samples.size / (windowMs / 1000), "1/s")
    r.latencies(samples.map(_._3).toSeq)
    r.ledger("passes") = passes
    r.ledger("query_ms") = samples.groupBy(_._1).map { case (n, xs) => n -> xs.map(_._3).toSeq }

    // checks, outside the window: oracle dumps, hash stability
    val oracles = graft.SparkEntry.oracleSql
    val results = r.dir("results")
    first.foreach { case (n, (rows, schema)) =>
      if (oracles.contains(n)) {
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
          .coalesce(1).write.mode("overwrite").parquet(results.resolve(n).toString)
        r.oracle += n
      }
    }
    Files.write(results.resolve("oracle_sql.json"),
      Json(r.oracle.map(n => n -> oracles(n)).toMap).getBytes("UTF-8"))
    // a query without an oracle is checked by running it
    // again, untimed, when the window ran it only once: its result must not
    // change between executions
    val hashOnly = first.keys.filter(n => !r.oracle.contains(n) && n != "cdc_envelope_unified").toSeq
    hashOnly.filter(n => hashes(n).size == 1 && samples.count(_._1 == n) == 1).foreach { n =>
      hashes(n) += registry(n)(spark, data).collect().toSeq.map(_.toString).hashCode
    }
    val unstable = hashes.collect { case (n, hs) if hs.size > 1 => n }
    r.check("query.result_hash_stable_across_executions",
      if (unstable.isEmpty) None else Some(s"results changed between executions: ${unstable.mkString(",")}"))
    r.ledger("checked_by_hash_only") = hashOnly
    first.get("cdc_envelope_unified").foreach { case (rows, _) =>
      val got = rows.groupBy(x => (x.getAs[String]("table_name"), x.getAs[String]("op")))
        .map { case (k, xs) => k -> xs.length.toLong }
      r.check("query.cdc_envelope_counts_equal_fixture",
        if (got == fixtureCounts) None else Some(s"unified counts $got != fixture $fixtureCounts"))
    }

    if (r.trace) {
      val fams = Seq("operators.relational", "operators.events", "operators.temporal",
        "operators.sketch", "operators.cdc_envelope", "curation.text", "curation.dedup",
        "curation.curate", "curation.sim")
      fams.foreach { f =>
        val xs = samples.filter(s => family(s._1) == f).map(_._3)
        r.layer(s"${f}_ms") = (if (xs.isEmpty) 0.0 else xs.sum / xs.size, "ms")
      }
      r.layer("sources.build_ms") = (samples.map(_._2).sum / samples.size, "ms")
      r.exec.foreach { l =>
        val b = l.total(spark)(g => g.endsWith("/build") && names.contains(g.stripSuffix("/build")))
        r.layer("sources.build_jobs") = (b.jobs.toDouble / samples.size, "count")
      }
    }
    r.execLayer(samples.size.toLong, windowMs)(
      _.total(spark)(g => names.contains(g.stripSuffix("/build"))))
  }
}
