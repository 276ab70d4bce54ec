package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark work attributed to one job group: the `exec` layer as the
  * benchmark sees it from its own listener.
  */
final class ExecCounts {
  var jobs, stages, tasks, runMs, shuffleRead, shuffleWrite, input, gcMs,
    spill = 0L
  def +=(o: ExecCounts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    input += o.input; gcMs += o.gcMs; spill += o.spill
  }
  def -(o: ExecCounts): ExecCounts = {
    val d = new ExecCounts
    d.jobs = jobs - o.jobs; d.stages = stages - o.stages
    d.tasks = tasks - o.tasks; d.runMs = runMs - o.runMs
    d.shuffleRead = shuffleRead - o.shuffleRead
    d.shuffleWrite = shuffleWrite - o.shuffleWrite
    d.input = input - o.input; d.gcMs = gcMs - o.gcMs; d.spill = spill - o.spill
    d
  }
  def toMap: Map[String, Any] = Map("jobs" -> jobs, "stages" -> stages,
    "tasks" -> tasks, "executor_run_ms" -> runMs,
    "shuffle_read_bytes" -> shuffleRead, "shuffle_write_bytes" -> shuffleWrite,
    "input_bytes" -> input, "gc_ms" -> gcMs, "spill_bytes" -> spill)
}

/** Attributes every job, stage and task to the job group that was set on
  * the submitting thread. Operations set a group per call into a layer, so
  * the ledger can say which operation paid for which Spark work. The
  * streaming engine runs each query's micro-batches under the query's runId
  * as group; jobs submitted without a group land under "-".
  */
final class ExecListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val counts = new ConcurrentHashMap[String, ExecCounts]()
  private def acc(g: String): ExecCounts =
    counts.computeIfAbsent(g, _ => new ExecCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("-")
    e.stageIds.foreach(stageGroup.put(_, g))
    val a = acc(g); a.synchronized { a.jobs += 1 }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val g = stageGroup.getOrDefault(e.stageInfo.stageId, "-")
    val a = acc(g); a.synchronized { a.stages += 1 }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.getOrDefault(e.stageId, "-")
    val m = e.taskMetrics
    val a = acc(g)
    a.synchronized {
      a.tasks += 1
      if (m != null) {
        a.runMs += m.executorRunTime
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.input += m.inputMetrics.bytesRead
        a.gcMs += m.jvmGCTime
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Drain the listener bus, then sum the groups that `select` accepts. */
  def total(spark: SparkSession)(select: String => Boolean): ExecCounts = {
    Validity.drain(spark)
    val t = new ExecCounts
    counts.asScala.foreach { case (g, c) => if (select(g)) c.synchronized(t += c) }
    t
  }

  def groups(spark: SparkSession): Map[String, ExecCounts] = {
    Validity.drain(spark)
    counts.asScala.toMap
  }
}

/** One traced interval: a call from the benchmark into a program layer. */
final case class Span(id: Int, parent: Int, op: String, name: String,
    layer: String, startNs: Long, endNs: Long)

/** In-memory span recorder, written out when the run ends. Disabled, it
  * only runs the body, so untraced runs pay nothing but a branch.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List(0)
  private var next = 1
  val t0: Long = System.nanoTime()

  def span[T](op: String, name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = next; next += 1
      val parent = stack.head
      stack = id :: stack
      val s = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, op, name, layer, s, System.nanoTime())
        stack = stack.tail
      }
    }

  def all: Seq[Span] = spans.toSeq

  /** Self time per layer: each span's duration minus the part its child
    * spans cover.
    */
  def selfMsByLayer: Map[String, Double] = {
    val childNs = spans.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.endNs - c.startNs).sum
    }
    spans.groupBy(_.layer).map { case (l, ss) =>
      l -> ss.map(s => (s.endNs - s.startNs) - childNs.getOrElse(s.id, 0L))
        .sum / 1e6
    }
  }

  def toJson: Any = spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
    "op" -> s.op, "name" -> s.name, "layer" -> s.layer,
    "start_ms" -> (s.startNs - t0) / 1e6, "end_ms" -> (s.endNs - t0) / 1e6)).toSeq
}

/** Run-validity readings recorded in every ledger. */
object Validity {
  def drain(spark: SparkSession): Unit =
    try org.apache.spark.graft.ListenerBusDrain.drain(spark.sparkContext)
    catch { case _: java.util.concurrent.TimeoutException => () }

  /** Cumulative hypervisor steal over all cpus, in ms (USER_HZ = 100). */
  def stealMs(): Long =
    try {
      val f = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      if (f.length > 8) f(8).toLong * 10 else 0L
    } catch { case _: Throwable => 0L }

  /** Peak resident set of this JVM, from /proc/self/status VmHWM. */
  def peakRssMb(): Double =
    try {
      java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    } catch { case _: Throwable => 0.0 }

  /** Other JVMs alive at start, excluding this process and its ancestors
    * (the same test `graft.Bench` applies): non-empty means the box was
    * shared and the times are suspect.
    */
  def strayJvms(): Seq[String] = {
    import scala.jdk.OptionConverters._
    var anc = List(ProcessHandle.current())
    while (anc.head.parent().isPresent) anc = anc.head.parent().get() :: anc
    val own = anc.map(_.pid()).toSet
    ProcessHandle.allProcesses().iterator().asScala
      .filter(p => !own.contains(p.pid()) &&
        p.info().command().toScala.exists(_.endsWith("java")))
      .map(p => s"pid=${p.pid()} " + p.info().commandLine().toScala
        .getOrElse("?").take(160))
      .toSeq
  }
}

object Stats {
  /** Linear-interpolated percentile (the `statistics` "inclusive" rule). */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val r = p / 100 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** The highest of p50/p75/p90/p99 with at least ten samples beyond it. */
  def supportedTail(n: Int): Int =
    Seq(99, 90, 75, 50).find(p => n * (100 - p) / 100 >= 10).getOrElse(0)
}

/** Minimal JSON writer for the result and trace files. */
object Json {
  def apply(v: Any): String = {
    val sb = new StringBuilder
    write(v, sb); sb.toString
  }
  private def str(s: String, sb: StringBuilder): Unit = {
    sb += '"'
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
  }
  private def write(v: Any, sb: StringBuilder): Unit = v match {
    case null | None => sb ++= "null"
    case Some(x) => write(x, sb)
    case s: String => str(s, sb)
    case b: Boolean => sb ++= b.toString
    case d: Double =>
      sb ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
    case f: Float => write(f.toDouble, sb)
    case n: Int => sb ++= n.toString
    case n: Long => sb ++= n.toString
    case m: Map[_, _] =>
      sb += '{'
      m.toSeq.sortBy(_._1.toString).zipWithIndex.foreach { case ((k, x), i) =>
        if (i > 0) sb += ','
        str(k.toString, sb); sb += ':'; write(x, sb)
      }
      sb += '}'
    case xs: Iterable[_] =>
      sb += '['
      xs.zipWithIndex.foreach { case (x, i) => if (i > 0) sb += ','; write(x, sb) }
      sb += ']'
    case x => str(x.toString, sb)
  }
}
