package graft.operators

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** The single-file epoch DELTA tier of a cell-partitioned artifact dir —
  * the streamed-ingest answer to the file-granularity tax, shared by the
  * PQ codes artifact ([[Pq]], round 13) and the index DATA tier
  * ([[Ann]], round 14).
  *
  * WHY: a cell-PARTITIONED write of one streamed epoch costs one file
  * per touched cell. At the 2M-vector/10⁴-cell rehearsal decade that is
  * ~10⁴ files per 125k-row epoch — measured 20.6 s of a 24–29 s epoch
  * wall for the DATA write and 28–31 s for the codes write before its
  * round-13 fix, none of it bytes (NOTES.md, round 13). So
  * appended epochs land instead as ONE cell-SORTED file under
  * `<artifactDir>/_delta/e-<uuid>/`: the at-rest base stays
  * cell-partitioned (built/folded by build/compact, where the
  * partitioned write amortizes over the whole corpus) and serving reads
  * base ∪ delta — the LSM contract every ingesting store converges on.
  * Probe pruning still reaches both tiers: the base by partition
  * pruning, the delta by parquet row-group min/max stats on the sorted
  * `cell` column (epoch files are written with a small row-group size
  * so a cell-range predicate skips most groups). Deltas FOLD into the
  * base at compaction; between compactions the tier is
  * epochs-since-compaction small files, listed in one listStatus.
  *
  * Crash contract: an epoch is COMMITTED iff the parquet job
  * committer's `_SUCCESS` marker is present. The committer creates the
  * epoch dir at job setup, renames task files out of `_temporary` one
  * at a time, and writes `_SUCCESS` strictly LAST — so gating on the
  * marker (round-14 ADVICE) means a multi-file bulk epoch is never read
  * half-renamed, where the old any-visible-file test could list (and
  * token-memoize) a partial epoch between the first and last rename.
  * [[write]] pins `marksuccessfuljobs` on its own job, so the gate
  * never depends on ambient hadoop conf. Orphans (crashed writes — no
  * marker) are reaped by WRITERS via [[reapOrphans]], never by serving
  * reads (round-14 ADVICE: a read-path reap could delete a concurrent
  * bulk writer's in-flight epoch once it outlived the grace window).
  */
private[graft] object DeltaTier {

  /** Subdir name — `_`-prefixed, so the base tier's partition-discovering
    * data read never sees it (the `_centroids` trick).
    */
  val Name = "_delta"

  /** An UNCOMMITTED epoch dir whose newest file (recursively, including
    * task output under `_temporary`) is older than this is presumed a
    * crashed write's orphan and deleted by [[reapOrphans]]. The
    * recursive-recency test is what keeps a LONG bulk write safe even
    * past the grace window: its in-flight task files keep refreshing
    * the newest mtime. Should a genuinely live epoch still be reaped
    * (writer paused > grace with no file activity), the failed write
    * surfaces loudly at job commit — streamed epochs re-land via the
    * replay protocol; bulk [[Ann.appendToIndex]] must be retried by the
    * operator (documented there).
    */
  private val OrphanGraceMs = 3600000L

  private def fsOf(s: SparkSession, p: Path): FileSystem =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  /** An epoch dir is committed iff the job committer's `_SUCCESS`
    * marker is present (written after ALL task-file renames) and at
    * least one visible data file exists (a markered dir with no data —
    * an empty write — has nothing a parquet read could infer a schema
    * from, so it must stay invisible). One listStatus.
    */
  private def isCommitted(fs: FileSystem, dir: Path): Boolean =
    scala.util.Try(fs.listStatus(dir)).toOption.exists { sts =>
      sts.exists(st => st.isFile && st.getPath.getName == "_SUCCESS") &&
        sts.exists { st =>
          val n = st.getPath.getName
          st.isFile && !n.startsWith("_") && !n.startsWith(".")
        }
    }

  /** Newest modification time anywhere under `dir` (the dir itself,
    * files, and recursively subdirs — `_temporary` task output
    * included). Short-circuits: only called on UNCOMMITTED epoch dirs,
    * which are rare (crashed or in-flight writes).
    */
  private def newestMtimeUnder(fs: FileSystem, dir: Path): Long = {
    def walk(st: FileStatus): Long =
      if (!st.isDirectory) st.getModificationTime
      else (st.getModificationTime +:
        scala.util.Try(fs.listStatus(st.getPath)).toOption
          .map(_.toSeq).getOrElse(Seq.empty).map(walk)).max
    scala.util.Try(walk(fs.getFileStatus(dir))).getOrElse(Long.MaxValue)
  }

  /** The COMMITTED epoch dirs of an artifact's delta tier: `e-*` dirs
    * carrying the job committer's `_SUCCESS` marker. One listStatus of
    * `_delta` plus one per epoch dir — bounded by epochs since
    * compaction. Uncommitted dirs (crashed or in-flight writes) are
    * filtered, never deleted here: reaping is a WRITER's job
    * ([[reapOrphans]]) — a serving read must not race a concurrent
    * bulk writer's in-flight epoch.
    */
  def epochDirs(s: SparkSession, artifactDir: String): Seq[FileStatus] = {
    val p = new Path(s"$artifactDir/$Name")
    val fs = fsOf(s, p)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("e-"))
      .filter(st => isCommitted(fs, st.getPath))
  }

  /** Delete crashed writes' orphan epoch dirs: uncommitted (no
    * `_SUCCESS`) AND no file activity anywhere under the dir for
    * [[OrphanGraceMs]]. Called from WRITE paths only ([[write]] after
    * its own job commits, and compaction) — the single-writer-per-
    * artifact contract means no sibling writer's in-flight epoch can be
    * present, and the recursive-recency test protects even a
    * contract-violating concurrent bulk write whose tasks are still
    * landing files. Best-effort; returns the number reaped.
    */
  def reapOrphans(s: SparkSession, artifactDir: String): Int = {
    val p = new Path(s"$artifactDir/$Name")
    val fs = fsOf(s, p)
    if (!fs.exists(p)) 0
    else {
      val cutoff = System.currentTimeMillis() - OrphanGraceMs
      fs.listStatus(p).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("e-"))
        .filterNot(st => isCommitted(fs, st.getPath))
        .filter(st => newestMtimeUnder(fs, st.getPath) < cutoff)
        .count(st => scala.util.Try(fs.delete(st.getPath, true))
          .getOrElse(false))
    }
  }

  /** Fresh (non-memoized) read of the delta tier: None when absent or
    * empty. Each committed epoch dir is passed explicitly, so no tree
    * walk or partition inference happens; crashed-write orphans are
    * invisible by [[epochDirs]]' filter.
    */
  def read(s: SparkSession, artifactDir: String): Option[DataFrame] = {
    val dirs = epochDirs(s, artifactDir).map(_.getPath.toString)
    if (dirs.isEmpty) None
    else Some(s.read.parquet(dirs: _*))
  }

  /** Version fingerprint of the delta tier (count:maxMtime:dirnames of
    * the committed epoch dirs) — folded into the serving reads' memo
    * versions beside the base manifest's [[CellManifest.stateToken]], so
    * a sibling process's streamed epoch is visible to an open session at
    * its next query. Commit-gated on `_SUCCESS` like every read here: a
    * half-renamed bulk epoch is not committed, so it can neither be
    * served nor memoized ([[isCommitted]]).
    */
  def token(s: SparkSession, artifactDir: String): String = {
    val sts = epochDirs(s, artifactDir)
    if (sts.isEmpty) "-"
    else s"${sts.length}:${sts.map(_.getModificationTime).max}:" +
      sts.map(_.getPath.getName.hashCode.toLong).sum
  }

  /** Land one epoch's rows as a single cell-sorted delta file (or
    * `files` of them for bulk batches — range-split on the sort key so
    * every file still carries a prunable cell range). The small parquet
    * row-group size is what makes the sorted `cell` column prunable
    * inside a file: stats are per row group, and one epoch-sized group
    * would span every cell. Commit is the job committer's `_SUCCESS`
    * marker — pinned on per-job conf so [[epochDirs]]' commit gate
    * never depends on ambient hadoop settings; a crashed write leaves
    * an unmarked dir, which no read lists and [[reapOrphans]] (run here
    * by the NEXT successful writer) eventually deletes. Returns the
    * epoch dir path (callers attach `_`-prefixed sidecars — e.g. the
    * presence-probe bloom — after the commit).
    */
  def write(df: DataFrame, artifactDir: String,
      sortCols: Seq[Column], files: Int = 1): String = {
    val epochDir = s"$artifactDir/$Name/e-${java.util.UUID.randomUUID()}"
    val shaped =
      if (files <= 1) df.coalesce(1).sortWithinPartitions(sortCols: _*)
      else df.repartitionByRange(files, sortCols: _*)
        .sortWithinPartitions(sortCols: _*)
    shaped.write.mode("overwrite")
      .option("parquet.block.size", 4L * 1024 * 1024)
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "true")
      .parquet(epochDir)
    reapOrphans(df.sparkSession, artifactDir)
    epochDir
  }
}
