package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Which micro-batch committed each input file, read from a streaming
  * query's checkpoint.
  *
  * Two traps make a naive join of `sources/<i>/<b>` with `commits/<b>`
  * wrong (it measured negative lags):
  *  - a file source's metadata log is indexed by that source's own
  *    `logOffset`, not by the query's batch id; `offsets/<batchId>` lists
  *    each source's `logOffset` as of that batch, one line per source;
  *  - `<n>.compact` files repeat every earlier entry of the source log.
  *
  * So a file with `logOffset` L in source i was read by the first batch
  * whose offset for source i is at least L, and it was committed when that
  * batch's `commits/<batchId>` marker was written.
  */
object Lag {
  private def lines(p: Path): Seq[String] =
    new String(Files.readAllBytes(p), UTF_8).split("\n").toSeq

  private def numbered(dir: Path): Seq[(Long, Path)] =
    if (!Files.isDirectory(dir)) Seq.empty
    else Files.list(dir).iterator().asScala.toSeq.flatMap { p =>
      val n = p.getFileName.toString
      n.stripSuffix(".compact").toLongOption.filter(_ => !n.startsWith("."))
        .map(_ -> p)
    }

  private val PathRe = "\"path\"\\s*:\\s*\"([^\"]+)\"".r
  private val BatchRe = "\"batchId\"\\s*:\\s*(-?\\d+)".r
  private val OffsetRe = "\"logOffset\"\\s*:\\s*(-?\\d+)".r

  /** Source i's file log: file name -> logOffset. Entries repeated by
    * compaction carry the same offset, so keeping either is exact.
    */
  def sourceFiles(ckpt: Path, source: Int): Map[String, Long] =
    numbered(ckpt.resolve("sources").resolve(source.toString)).flatMap {
      case (_, p) => lines(p).drop(1).flatMap { l =>
        for (path <- PathRe.findFirstMatchIn(l); b <- BatchRe.findFirstMatchIn(l))
          yield path.group(1).split('/').last -> b.group(1).toLong
      }
    }.toMap

  /** batchId -> per-source logOffset (-1 where a source had none yet). */
  def batchOffsets(ckpt: Path): Seq[(Long, Vector[Long])] =
    numbered(ckpt.resolve("offsets")).map { case (b, p) =>
      b -> lines(p).drop(2).filter(_.nonEmpty).map(l =>
        OffsetRe.findFirstMatchIn(l).map(_.group(1).toLong).getOrElse(-1L))
        .toVector
    }.sortBy(_._1)

  /** batchId -> commit time in epoch ms (the commit marker's mtime). */
  def commitTimes(ckpt: Path): Map[Long, Double] =
    numbered(ckpt.resolve("commits")).map { case (b, p) =>
      b -> Files.getLastModifiedTime(p).to(java.util.concurrent.TimeUnit.MICROSECONDS) / 1e3
    }.toMap

  /** File name -> (batchId, commit epoch ms) for every committed file of
    * sources 0 until `nSources`.
    */
  def committedFiles(ckpt: Path, nSources: Int): Map[String, (Long, Double)] = {
    val offs = batchOffsets(ckpt)
    val commits = commitTimes(ckpt)
    (0 until nSources).flatMap { i =>
      sourceFiles(ckpt, i).flatMap { case (file, logOffset) =>
        offs.find { case (_, o) => o.size > i && o(i) >= logOffset }
          .flatMap { case (b, _) => commits.get(b).map(t => file -> (b, t)) }
      }
    }.toMap
  }
}
