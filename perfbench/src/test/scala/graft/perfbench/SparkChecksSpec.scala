package graft.perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Cdc

/** The benchmark's Spark-side accounting on tiny inputs: the truth the
  * generator folds agrees with the program's chain, and the lag accounting
  * finds the batch that really committed each file.
  */
class SparkChecksSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // compact the file-source log every 2 batches, so `.compact` files
    // (which repeat earlier entries) appear
    .config("spark.sql.streaming.fileSource.log.compactInterval", "2")
    .getOrCreate()

  override def beforeAll(): Unit = spark.sparkContext.setLogLevel("ERROR")

  override def afterAll(): Unit = spark.stop()

  private def tmp(): Path = Files.createTempDirectory("perfbench-spec-")

  test("the generator's truth equals the program's latest state") {
    import Envelopes._
    val dir = tmp()
    val mix = Mix(customers = 100, products = 30, orders = 150)
    val g = new Gen(11)
    val base = g.snapshot(mix) ++ (1 to 200).flatMap(_ => g.round())
    Tables.foreach(t => writeJsonl(dir.resolve(t).resolve("part-000.jsonl"),
      g.withFaults(base.filter(_.table == t), mix)))
    val state = Cdc.latestState(Chain.unified(spark, Seq(dir.toString)),
      Chain.Keys, Chain.ord)
    assert(diff(Chain.stateCanon(state), liveTruth(base.iterator)).isEmpty)
  }

  test("lag accounting maps each file to the batch that committed it") {
    val root = tmp()
    val (a, b) = (root.resolve("a"), root.resolve("b"))
    Files.createDirectories(a); Files.createDirectories(b)
    val ckpt = root.resolve("ckpt")
    // ground truth: the files each batch actually read
    val seen = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    val stream = spark.readStream.text(a.toString)
      .unionByName(spark.readStream.text(b.toString))
      .select(input_file_name().as("f"))
    val q = stream.writeStream
      .foreachBatch { (df: DataFrame, id: Long) =>
        df.distinct().collect().foreach(r =>
          seen.put(r.getString(0).split('/').last, id)); ()
      }
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.ProcessingTime(50))
      .start()
    // source b gets its first file one batch after source a, so its
    // logOffsets run behind the batch ids
    val plan = Seq(Seq(a -> "a0"), Seq(a -> "a1", b -> "b0"), Seq(b -> "b1"),
      Seq(a -> "a2"), Seq(b -> "b2"), Seq(a -> "a3", b -> "b3"), Seq(b -> "b4"))
    plan.foreach { step =>
      step.foreach { case (d, n) => Files.write(d.resolve(s"$n.txt"), n.getBytes) }
      q.processAllAvailable()
    }
    q.stop()
    val got = Lag.committedFiles(ckpt, 2)
    val want = plan.flatten.map { case (_, n) => s"$n.txt" }
    assert(want.forall(f => got.get(f).map(_._1).contains(seen.get(f))),
      s"accounting $got, batches that read them $seen")
    val sourceLog = ckpt.resolve("sources").resolve("0").toFile.list().toSeq
    assert(sourceLog.exists(_.endsWith(".compact")), s"no compacted log: $sourceLog")
    // the trap the accounting avoids: source b's first file has logOffset 0
    // but was read by batch 1, not batch 0
    assert(Lag.sourceFiles(ckpt, 1)("b0.txt") == 0L && seen.get("b0.txt") == 1L)
    // every commit comes after the files it folded were written
    val lags = want.map(f => got(f)._2 -
      Files.getLastModifiedTime(if (f.startsWith("a")) a.resolve(f) else b.resolve(f)).toMillis)
    assert(lags.forall(_ >= 0), lags)
  }
}
