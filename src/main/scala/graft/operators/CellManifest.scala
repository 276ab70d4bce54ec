package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Commit-time partition manifest for a cell-partitioned artifact dir
  * (the IVF index and its `_pq_codes` sibling).
  *
  * WHY: `spark.read.parquet(dir)` on a 10⁴-cell tree pays a driver-side
  * recursive listing + partition inference PER FRESH READ — measured
  * 15–17 s at the 2M-vector decade (`bench/emb_decade_r11.json`,
  * NOTES.md round 11), feeding a 0.2 s probed scan. The session memo
  * ([[SessionCache]]) amortizes that within a session, but every COLD
  * session re-pays it, and the walk grows with cell count — at 100 TB
  * geometry (10⁵–10⁶ cells on an object store) it is minutes of driver
  * time and O(cells) LIST calls. The fix is the one every table format
  * (Hive metastore partitions, Delta/Iceberg file manifests) converged
  * on: the WRITER already knows the files — and their stat facts — at
  * commit time; persist them once, and readers open the artifact with
  * ONE small-file read and ZERO list/stat calls
  * ([[org.apache.spark.sql.graft.ManifestRead]]: a pre-warmed
  * FileStatusCache under a stock InMemoryFileIndex, so partition
  * pruning and split planning stay stock Spark).
  *
  * FORMAT: one plain-text file `<dir>/_cell_manifest` (the `_` prefix
  * keeps it invisible to partition discovery, the `_centroids` trick):
  * line 1 `schema\t<DDL of the read-back schema, partition col
  * included>`, then one `<cell>\t<relative/path>\t<length>\t<mtime>`
  * line per data file. Written complete to a staging sibling and
  * renamed into place, so readers see the old manifest or the new one,
  * never a partial write ([[rewrite]]). A manifest whose entries lack
  * the stat fields (or is missing entirely — legacy dir, crashed
  * build) makes [[readAsDf]] return None and the caller falls back to
  * the walking read.
  *
  * TRUTHFULNESS CONTRACT: the manifest is advisory for SERVING reads
  * only — every path that must see the exact on-disk state regardless
  * of crash windows (the ingest presence probe, the codes append's
  * anti-join) goes through [[cellBoundedRead]], a fresh listing of just
  * the touched cell dirs. Writers sequence data → manifest → commit
  * marker, and the idempotent ingest path re-runs its manifest update
  * on every replay of an uncommitted epoch, so a crash between data
  * and manifest self-heals on replay.
  */
private[graft] object CellManifest {

  private val Name = "_cell_manifest"
  private val StagingName = "_cell_manifest.next"
  private val LockName = "_cell_manifest.lock"
  private val PendingName = "_cell_manifest.pending"

  /** How long a lock file may sit before it is presumed abandoned (a
    * writer that crashed between lock and unlock) and broken. Appends
    * hold the lock for one batch-bounded relist + one small-file write
    * — seconds, not minutes.
    */
  private val LockStaleMs = 120000L

  /** Serialize manifest read-modify-writes across writer PROCESSES.
    *
    * [[updateCells]] is a read-merge-write of the whole manifest; two
    * concurrent writers each publishing a merge of the PRE-write state
    * would each drop the other's new files — and because a manifest
    * exists, the walk fallback never triggers, so physically present
    * rows become silently invisible to manifest-backed serving. The
    * production contract is SINGLE WRITER per artifact dir (the
    * streaming ingest path is one query; compaction writes a NEW dir),
    * but that contract is enforced nowhere — this lock turns a
    * violation into mutual exclusion instead of silent row loss.
    *
    * Mechanics: `create(overwrite = false)` is the usual atomic
    * lock-file primitive (local FS + HDFS; object stores without
    * atomic create degrade to best-effort, same as every lock-file
    * scheme). A lock older than [[LockStaleMs]] is presumed abandoned
    * by a crashed writer and broken. Failure to acquire within the
    * stale window THROWS — blocking forever inside an ingest commit is
    * worse than failing loud.
    */
  private def withManifestLock[T](fs: FileSystem, dir: Path)(f: => T): T = {
    val lock = new Path(dir, LockName)
    val me = java.util.UUID.randomUUID().toString
    val deadline = System.currentTimeMillis() + LockStaleMs
    var acquired = false
    while (!acquired) {
      acquired =
        try {
          // holder UUID INSIDE the lock file: release and break can then
          // verify ownership instead of assuming whatever sits at the
          // lock path is theirs (round-14 ADVICE — a breaker race could
          // otherwise cascade into deleting a live winner's lock). The
          // create(overwrite=false) stays the atomic claim; the UUID
          // write after it is only readable metadata.
          val out = fs.create(lock, false)
          try out.write(me.getBytes("UTF-8")) finally out.close()
          true
        }
        catch {
          case _: java.io.IOException =>
            val staleAt = System.currentTimeMillis() - LockStaleMs
            val stale = scala.util.Try(
              fs.getFileStatus(lock).getModificationTime)
              .toOption.exists(_ < staleAt)
            if (stale) breakStaleLock(fs, dir, lock, staleAt, deadline)
            else if (System.currentTimeMillis() > deadline)
              sys.error(s"could not acquire manifest writer lock $lock " +
                s"within ${LockStaleMs / 1000} s — a concurrent writer is " +
                "violating the single-writer-per-artifact contract, or a " +
                "crashed writer's lock has a future mtime; remove the " +
                "lock file if the writer is known dead")
            else Thread.sleep(50)
            false
        }
    }
    // release ONLY a lock this holder still owns: if the file is gone or
    // carries another UUID, a breaker (wrongly) broke this fresh lock and
    // a new holder claimed the path — deleting it would put a third
    // contender inside the critical section (the cascade the ADVICE
    // names). The read-then-delete window is microseconds against the
    // 120 s staleness horizon that gates any break.
    try f finally {
      if (holderOf(fs, lock).contains(me))
        scala.util.Try(fs.delete(lock, false))
      ()
    }
  }

  /** The holder UUID recorded inside a lock file; None when the file is
    * missing, unreadable, or empty (a pre-UUID legacy lock / another
    * contender's half-created claim — neither provably ours).
    */
  private def holderOf(fs: FileSystem, lock: Path): Option[String] =
    scala.util.Try {
      val in = fs.open(lock)
      try {
        val buf = new Array[Byte](64)
        val n = in.read(buf)
        if (n <= 0) "" else new String(buf, 0, n, "UTF-8")
      } finally in.close()
    }.toOption.filter(_.nonEmpty)

  /** Break a stale lock by RENAME to a unique tombstone, never by
    * delete: a bare delete has a TOCTOU hole — between this contender's
    * staleness stat and its delete, another contender may have already
    * broken the lock and created a FRESH one at the same path, and the
    * delete would then remove the live winner's lock, putting two
    * writers inside the read-merge-write the lock exists to serialize.
    * Rename is atomic, so of N breakers exactly one captures whatever
    * sits at the lock path; the winner then re-checks what it actually
    * captured — a genuinely stale one is discarded, a FRESH lock (the
    * race above) is restored via the reverse rename, RETRYING while a
    * third contender's claim occupies the path (round-14 ADVICE: the
    * old code deleted the captured fresh lock on a failed restore,
    * which let the live winner and the third contender both proceed and
    * cascaded via the winner's release-delete). If the restore cannot
    * land by the caller's deadline the tombstone is LEFT IN PLACE —
    * litter in a pathological triple race is recoverable, a deleted
    * live lock is not — and the captured holder's own release is a
    * no-op by the ownership check. Best-effort on stores without atomic
    * rename, like every lock-file scheme here.
    */
  private def breakStaleLock(fs: FileSystem, dir: Path, lock: Path,
      staleAt: Long, deadline: Long): Unit = {
    val tomb = new Path(dir,
      s"$LockName.broken-${java.util.UUID.randomUUID()}")
    if (scala.util.Try(fs.rename(lock, tomb)).getOrElse(false)) {
      val capturedFresh = scala.util.Try(
        fs.getFileStatus(tomb).getModificationTime)
        .toOption.exists(_ >= staleAt)
      if (!capturedFresh) {
        scala.util.Try(fs.delete(tomb, false))
        ()
      } else {
        var restored = false
        while (!restored && System.currentTimeMillis() <= deadline) {
          restored = scala.util.Try(fs.rename(tomb, lock)).getOrElse(false)
          if (!restored) Thread.sleep(50)
        }
      }
    }
  }

  /** cell id, dir-relative path, file length, file mtime. */
  private type Entry = (Int, String, Long, Long)

  private def fsOf(s: SparkSession, p: Path): FileSystem =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  /** List the data files of one `cell=N` dir (non-hidden, non-marker),
    * carrying the stat facts the reader will serve without re-statting.
    */
  private def listCell(fs: FileSystem, cellDir: Path)
      : Seq[(String, Long, Long)] =
    fs.listStatus(cellDir).toSeq
      .filter(st => st.isFile && {
        val n = st.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      })
      .map(st => (s"${cellDir.getName}/${st.getPath.getName}",
        st.getLen, st.getModificationTime))

  /** Full walk of `dir` → entries. The one place the O(cells) listing
    * is still paid — at COMMIT time, by the writer, once per
    * generation, not per query/session. Driver-side parallel (the
    * listing is pure metadata I/O; a Spark job here would pay one task
    * per cell — measured ~15 s at 10⁴ cells against ~1 s of threaded
    * listStatus calls).
    */
  private def walk(fs: FileSystem, dir: Path): Seq[Entry] = {
    import scala.collection.parallel.CollectionConverters._
    fs.listStatus(dir).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("cell="))
      .par.flatMap { st =>
        val cell = st.getPath.getName.stripPrefix("cell=").toInt
        listCell(fs, st.getPath).map { case (f, len, mt) =>
          (cell, f, len, mt)
        }
      }.seq
  }

  /** Driver-side parallel relist of the given cells (existing dirs
    * only) — the shared kernel of [[updateCells]] and
    * [[cellBoundedRead]]: metadata-only, batch-bounded, no Spark job.
    */
  private def listCells(fs: FileSystem, p: Path, cells: Seq[Int])
      : Seq[Entry] = {
    import scala.collection.parallel.CollectionConverters._
    cells.distinct.par.flatMap { c =>
      val cd = new Path(p, s"cell=$c")
      try listCell(fs, cd).map { case (f, len, mt) => (c, f, len, mt) }
      catch { case _: java.io.FileNotFoundException => Nil }
    }.seq
  }

  private def writeLines(fs: FileSystem, dir: Path, schemaDdl: String,
      entries: Seq[Entry]): Unit = {
    val staging = new Path(dir, StagingName)
    val out = fs.create(staging, true)
    try {
      out.write(s"schema\t$schemaDdl\n".getBytes("UTF-8"))
      entries.sortBy(e => (e._1, e._2)).foreach { case (c, f, len, mt) =>
        out.write(s"$c\t$f\t$len\t$mt\n".getBytes("UTF-8"))
      }
    } finally out.close()
    val live = new Path(dir, Name)
    // delete-then-rename: a crash in between leaves NO manifest, which
    // readers treat as "walk the tree" — never a partial manifest
    fs.delete(live, false)
    require(fs.rename(staging, live),
      s"could not publish cell manifest at $live")
  }

  /** Parse the manifest if present: (read-back schema DDL, entries).
    * One re-read retry covers a concurrent [[writeLines]] swap window
    * (delete live, rename staging) — the second attempt sees the new
    * complete manifest or none at all. A structurally old/foreign
    * manifest (missing stat fields) parses to None: the caller's walk
    * fallback is always safe, a half-understood manifest is not.
    */
  private def readLines(s: SparkSession, dir: Path)
      : Option[(String, Seq[Entry])] = {
    val fs = fsOf(s, dir)
    def once(): Option[(String, Seq[Entry])] = {
      val live = new Path(dir, Name)
      if (!fs.exists(live)) None
      else {
        val in = fs.open(live)
        val text =
          try {
            val bs = new java.io.ByteArrayOutputStream()
            val buf = new Array[Byte](64 * 1024)
            var n = in.read(buf)
            while (n >= 0) { bs.write(buf, 0, n); n = in.read(buf) }
            bs.toString("UTF-8")
          } finally in.close()
        val lines = text.split("\n").iterator.filter(_.nonEmpty).toSeq
        if (lines.isEmpty || !lines.head.startsWith("schema\t")) None
        else {
          val ddl = lines.head.stripPrefix("schema\t")
          // ANY malformed line — wrong column count OR non-numeric
          // cell/length/mtime — parses the whole manifest to None (the
          // documented foreign-manifest contract): the walk fallback is
          // always safe, a NumberFormatException propagated into the
          // serving read is not
          scala.util.Try {
            lines.tail.map { ln =>
              val parts = ln.split("\t")
              require(parts.length == 4)
              (parts(0).toInt, parts(1), parts(2).toLong, parts(3).toLong)
            }
          }.toOption.map(entries => (ddl, entries))
        }
      }
    }
    try once()
    catch { case scala.util.control.NonFatal(_) => once() }
  }

  /** Declare cells ABOUT to be appended to, BEFORE the data write — the
    * crash-safety half of the manifest contract for NON-replayed appends
    * ([[graft.operators.Ann.appendToIndex]]): without it, a crash after
    * the data write but before [[updateCells]] leaves a manifest that
    * permanently lags the tree, and because a manifest exists the walk
    * fallback never triggers — physically present rows silently
    * invisible to every manifest-backed read. With the pending sidecar
    * down first, readers ([[readAsDf]]) treat the named cells as
    * UNTRUSTED and fresh-relist exactly them (batch-bounded, the
    * [[cellBoundedRead]] kernel) until a successful [[updateCells]] or
    * [[rewrite]] clears it — so the crash window degrades to a bounded
    * per-read relist, never to hidden rows. No-op when no manifest
    * exists (readers are already on the truthful walk). Idempotent
    * replayed appends get the same healing from their replay, but the
    * sidecar also covers their pre-replay window.
    */
  def markPending(s: SparkSession, dir: String, cells: Seq[Int]): Unit = {
    val p = new Path(dir)
    val fs = fsOf(s, p)
    // under the SAME writer lock as updateCells: the sidecar merge is a
    // read-modify-write too, and unlocked it races a concurrent
    // updateCells (which merges-and-DELETES the sidecar) — writer A's
    // pending record could be consumed by writer B's update before A's
    // data lands, re-opening exactly the invisible-rows crash window
    // the sidecar exists to close. The critical section is two tiny
    // file ops, well inside the lock's stale threshold.
    if (fs.exists(new Path(p, Name)))
      withManifestLock(fs, p) {
        // merge over any still-unhealed earlier pending set — overwriting
        // would re-hide a previous crash's cells. An UNREADABLE earlier
        // sidecar stays untouched: readers are already on the safe full
        // walk, and this append's updateCells will heal it wholesale.
        pendingCells(fs, p) match {
          case Some(None) => ()
          case prior =>
            val out = fs.create(new Path(p, PendingName), true)
            try out.write(
              (prior.flatten.getOrElse(Seq.empty) ++ cells)
                .distinct.sorted.mkString(",").getBytes("UTF-8"))
            finally out.close()
        }
      }
  }

  /** The pending sidecar's cells: None when the sidecar is absent,
    * Some(cells) when present and parseable. A present-but-unreadable
    * sidecar (foreign format, torn write) parses to Some(Nil) — callers
    * must then trust NO cell ([[readAsDf]] falls back to the walk): a
    * half-understood crash record is worse than re-walking once.
    */
  private def pendingCells(fs: FileSystem, dir: Path)
      : Option[Option[Seq[Int]]] = {
    val p = new Path(dir, PendingName)
    if (!fs.exists(p)) None
    else Some(scala.util.Try {
      val in = fs.open(p)
      val text =
        try {
          val bs = new java.io.ByteArrayOutputStream()
          val buf = new Array[Byte](8 * 1024)
          var n = in.read(buf)
          while (n >= 0) { bs.write(buf, 0, n); n = in.read(buf) }
          bs.toString("UTF-8").trim
        } finally in.close()
      if (text.isEmpty) Seq.empty[Int]
      else text.split(",").toSeq.map(_.trim.toInt)
    }.toOption)
  }

  /** Regenerate the manifest from a full tree walk — the build/compact
    * commit step (and the codes build's). The stored schema is the
    * READ-BACK one: data columns (from ONE file footer — never a
    * tree-wide inference) plus the `cell` partition column. An empty
    * tree drops any existing manifest instead of publishing one that
    * lists no files.
    */
  def rewrite(s: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    val fs = fsOf(s, p)
    val entries = walk(fs, p)
    if (entries.isEmpty) { fs.delete(new Path(p, Name), false); () }
    else {
      val dataSchema = s.read.parquet(s"$dir/${entries.head._2}").schema
      val schema =
        if (dataSchema.fieldNames.contains("cell")) dataSchema
        else dataSchema.add("cell", org.apache.spark.sql.types.IntegerType)
      writeLines(fs, p, schema.toDDL, entries)
    }
    // a full walk supersedes any crash record — the new manifest IS the
    // tree (and with no manifest, readers walk anyway)
    fs.delete(new Path(p, PendingName), false)
    ()
  }

  /** Refresh ONLY the given cells' entries after an append — a
    * cell-bounded relist (batch-sized, never O(cells)) merged over the
    * existing manifest. No-op when no manifest exists (legacy dir /
    * crashed build: readers are already on the walk fallback, and a
    * partial manifest would silently HIDE every other cell). Re-listing
    * the dirs instead of trusting the writer's file names makes the
    * update idempotent and crash-healing: a replay that appends nothing
    * still folds any orphaned files from a crashed attempt in.
    */
  def updateCells(s: SparkSession, dir: String, cells: Seq[Int]): Unit = {
    val p = new Path(dir)
    val fs = fsOf(s, p)
    // lock BEFORE the read: the merge must be over the state no other
    // writer is concurrently rewriting (see withManifestLock)
    if (fs.exists(new Path(p, Name)))
      withManifestLock(fs, p) {
        pendingCells(fs, p) match {
          case Some(None) =>
            // unreadable crash record: nothing can be trusted cell-wise
            // — heal wholesale (rewrite also clears the sidecar)
            rewrite(s, dir)
          case pend =>
            // fold any unhealed pending cells into this update's relist
            // — the append that crashed before ITS update gets healed by
            // the next writer that completes one
            val all = (cells ++ pend.flatten.getOrElse(Seq.empty)).distinct
            readLines(s, p).foreach { case (ddl, entries) =>
              val touched = all.toSet
              val kept = entries.filterNot { case (c, _, _, _) => touched(c) }
              writeLines(fs, p, ddl, kept ++ listCells(fs, p, all))
            }
            fs.delete(new Path(p, PendingName), false)
            ()
        }
      }
  }

  /** Plan the artifact's scan from the manifest: the stored listing is
    * served through a pre-warmed FileStatusCache under a stock
    * InMemoryFileIndex ([[org.apache.spark.sql.graft.ManifestRead]]) —
    * no tree walk, no per-file stat, no footer read, no partition-type
    * inference; partition pruning on `cell` still reaches the scan.
    * None when no (readable, current-format) manifest — the caller
    * falls back to the walking read.
    */
  def readAsDf(s: SparkSession, dir: String): Option[DataFrame] = {
    val p = new Path(dir)
    val fs = fsOf(s, p)
    // a pending sidecar marks cells whose manifest entries may lag the
    // tree (an append's crash window): fresh-relist exactly those cells
    // (batch-bounded) and trust the manifest for the rest. Unreadable
    // sidecar → trust nothing, walk.
    pendingCells(fs, p) match {
      case Some(None) => None
      case pend =>
        readLines(s, p).map { case (ddl, entries) =>
          val untrusted = pend.flatten.getOrElse(Seq.empty)
          val merged =
            if (untrusted.isEmpty) entries
            else {
              val u = untrusted.toSet
              entries.filterNot { case (c, _, _, _) => u(c) } ++
                listCells(fs, p, untrusted)
            }
          require(merged.nonEmpty, s"cell manifest at $dir lists no files")
          org.apache.spark.sql.graft.ManifestRead.parquetFromListing(
            s, dir, StructType.fromDDL(ddl),
            merged.map { case (_, f, len, mt) =>
              org.apache.spark.sql.graft.ManifestRead.entry(dir, f, len, mt)
            })
        }
    }
  }

  /** A cheap fingerprint of the manifest's on-disk commit state —
    * (mtime, length) of the manifest file and of the pending sidecar,
    * "-" when absent. Every committed writer republishes the manifest
    * ([[writeLines]] rename) or touches the sidecar, so the token
    * changes on every mutation a reader should see. Feeding it to
    * [[SessionCache.memoVersioned]] as the version of the memoized
    * artifact read gives an OPEN session bounded staleness across
    * writer PROCESSES: one getFileStatus pair per query construction
    * buys visibility of a sibling process's append at the very next
    * query, not at the next newSession(). A dir with neither file
    * (legacy / walking-read artifact) returns the constant "-|-" —
    * exactly the old semantics: in-process writers still invalidate
    * via [[SessionCache.drop]], cross-process appends become visible
    * at the next session.
    */
  def stateToken(s: SparkSession, dir: String): String = {
    val p = new Path(dir)
    val fs = fsOf(s, p)
    def tok(name: String): String =
      scala.util.Try(fs.getFileStatus(new Path(p, name)))
        .toOption
        .map(st => s"${st.getModificationTime}:${st.getLen}")
        .getOrElse("-")
    s"${tok(Name)}|${tok(PendingName)}"
  }

  /** TRUTHFUL cell-bounded read: a fresh listing of exactly the given
    * cells' dirs, bypassing both the manifest and any session memo —
    * what the exactly-once machinery (ingest presence probe, codes
    * append anti-join) must anti-join against, because in the
    * crash-between-data-and-manifest window the manifest legitimately
    * lags the tree and trusting it would re-append rows that already
    * physically exist. Cost: one exists() per touched cell plus a
    * listing of batch-occupancy-many dirs — batch-bounded, never
    * O(cells). Returns None when none of the cells' dirs exist yet
    * (first rows of a brand-new cell).
    *
    * The TRUTHFUL listing happens driver-side (threaded listStatus of
    * the touched cell dirs) and the scan is planned through
    * [[org.apache.spark.sql.graft.ManifestRead]] over exactly those
    * statuses — handing Spark the dirs instead would re-list them with
    * a one-task-per-dir job (measured ~15 s at 10⁴ touched cells,
    * per PROBE, i.e. twice per streamed epoch).
    */
  def cellBoundedRead(s: SparkSession, dir: String, cells: Seq[Int])
      : Option[DataFrame] = {
    val p = new Path(dir)
    val fs = fsOf(s, p)
    val entries = listCells(fs, p, cells)
    if (entries.isEmpty) None
    else {
      // one footer read for the data schema; the cell partition column
      // rides in from the paths
      val dataSchema = s.read.parquet(s"$dir/${entries.head._2}").schema
      val schema =
        if (dataSchema.fieldNames.contains("cell")) dataSchema
        else dataSchema.add("cell", org.apache.spark.sql.types.IntegerType)
      Some(org.apache.spark.sql.graft.ManifestRead.parquetFromListing(
        s, dir, schema,
        entries.map { case (_, f, len, mt) =>
          org.apache.spark.sql.graft.ManifestRead.entry(dir, f, len, mt)
        }))
    }
  }
}
