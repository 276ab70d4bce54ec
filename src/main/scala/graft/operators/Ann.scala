package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables._

/** Approximate nearest-neighbor search over the `embeddings` table — the
  * scale path beside the brute-force baseline in [[SimilarityOps]].
  *
  * IVF (inverted-file) design, the standard vector-DB layout:
  *  1. TRAIN (once, offline): k-means centroids via distributed Lloyd
  *     iterations over a deterministic hash SAMPLE of the vectors — never
  *     the full table. Assignment is a broadcast of k·dim doubles against a
  *     scan (no shuffle); the update step is one posexplode +
  *     groupBy(cell, dim) shuffle whose output is k·dim rows, aggregated in
  *     exact decimal so centroids are independent of shuffle merge order.
  *  2. INDEX (once, offline): every vector is assigned to its nearest
  *     centroid cell and written `partitionBy(cell)` — the at-rest layout
  *     where a probe reads ONLY the probed cells' files (partition
  *     pruning, proven in DedupAnnSpec).
  *  3. PROBE (per query): rank cells by distance from the query vector
  *     (driver-side over k centroid rows), scan the `nprobe` nearest
  *     cells, exact-cosine re-rank, top-k.
  *
  * The train/index cost amortizes across every subsequent query — the
  * query-time plan contains NO k-means job, only the pruned index scan
  * (here the index is built lazily on first use per scale directory and
  * memoized; a production deployment runs steps 1–2 as a maintenance job).
  *
  * Determinism: sample = stable id-hash filter, init = the k lowest ids,
  * fixed iteration count, decimal centroid sums, exact integer tie-breaks.
  * The result is *approximate* — probing `Nprobe` of `Cells` cells bounds
  * recall below 1.0 — so there is no exact SQL oracle: the driver does a
  * rows-only check and `DedupAnnSpec` asserts recall@20 ≥ 0.9 against the
  * brute-force baseline ([[SimilarityOps]] `sim_cosine_topk` is the exact,
  * oracle-checked twin).
  */
object Ann {
  type Q = (SparkSession, String) => DataFrame

  /** Index geometry. Clustering happens on the UNIT SPHERE (vectors are
    * L2-normalized before train/assign/probe): for cosine similarity,
    * squared L2 on normalized vectors is 2−2·cos — monotone in cosine —
    * so spherical cells align with what the re-rank actually scores;
    * clustering raw magnitudes would split cosine-neighbors across cells.
    * Nprobe is corpus-dependent: the synthetic test embeddings are
    * near-uniform on the sphere (top-20 cosine ≈ 0.24–0.33 vs corpus
    * median 0.01, neighbors scattered across labels), the hardest case
    * for IVF — holding recall@20 ≥ 0.9 there needs Nprobe=8 of 10.
    * Real embedding corpora cluster, pushing the working ratio down
    * (measured here: full-data training alone reaches 0.95 recall at
    * Nprobe=4); the recall gate in DedupAnnSpec is what licenses any
    * retuning.
    */
  val Cells = 10
  val Iters = 5
  val Nprobe = 8

  /** Deployed index geometry — session confs so a corpus scale-up
    * re-sizes the index without a code change (the FAISS nlist/nprobe
    * knobs). Cell count is the load-bearing one: within-cell work
    * (dedup_semantic, per-cell probe scans) is quadratic in CELL
    * OCCUPANCY, so the default now derives cells ≈ n / [[TargetCellRows]]
    * from the corpus vector count — occupancy (and every consumer's
    * within-cell quadratic) stays CONSTANT as the corpus grows, where the
    * old fixed default grew it linearly and the within-cell join
    * quadratically (measured: dedup_semantic 105× wall at 10× data under
    * fixed cells=10; linear at the derived cells=100). The round-5
    * rehearsal set cells=100 at sf1 by hand; the derivation reproduces
    * exactly that and removes the silent scale trap for callers who
    * don't. An explicit `spark.graft.ann.cells` always wins;
    * DedupAnnSpec's recall gates license any retuning.
    */
  def cellCount(s: SparkSession, d: String): Int =
    s.conf.getOption("spark.graft.ann.cells").map(_.toInt).getOrElse {
      val derived = embeddingCount(s, d) / TargetCellRows
      math.min(math.max(Cells.toLong, derived), 65536L).toInt
    }
  /** Default probe fraction of the cell count. Recall under a given
    * fraction is a property of the corpus DISTRIBUTION, not its size —
    * so the un-tuned default must hold the recall floor on the WORST
    * distribution, and 0.6 is calibrated there: on the sf1 rehearsal
    * corpus (10 alphabet-rotated near-uniform copies, the documented
    * IVF worst case — neighbors barely above the cosine noise floor, so
    * cell assignment carries minimal signal), cells=100, measured
    * recall@20 is 0.70/0.80/0.85/0.90/0.95/1.00 at nprobe
    * 8/32/48/52/56/60 (RecallCheck, round 7): 0.6 lands at measured
    * 1.00 with margin over the 52-cell 0.90 knee. Real embedding
    * corpora cluster and sit FAR above that curve at the same
    * fraction — measured on the other shape (round 8,
    * [[graft.tools.ClusteredCorpus]]: 20 k vectors, 50 clusters,
    * same derived cells=100): recall@20 = 0.80 at nprobe=1 and 1.00
    * from nprobe=2 on — a 2% probe fraction, 30× below the uniform
    * worst case's knee. So 0.6 is deliberately conservative, and the
    * deployment loop is: run [[graft.tools.RecallCheck]] on YOUR
    * corpus, then tune `spark.graft.ann.nprobe` DOWN to the measured
    * knee. The FAISS operating reality (nprobe is the per-deployment
    * recall/latency knob) is unchanged — only the no-knowledge default
    * now scales with the geometry instead of silently probing a
    * shrinking fraction as cells derive upward.
    */
  val ProbeFraction = 0.6

  /** Default nprobe: `max(Nprobe, ceil(cells × ProbeFraction))`, capped
    * at the cell count — derives WITH the geometry, so an unconfigured
    * scale-up keeps the probe fraction (and the measured worst-case
    * recall floor) constant instead of letting it shrink as cells grow.
    * At the historical test geometry (cells=10) this is exactly the old
    * fixed default 8, so every existing recall gate still measures the
    * same configuration. An explicit `spark.graft.ann.nprobe` always
    * wins.
    */
  def nprobeOf(s: SparkSession, d: String): Int =
    s.conf.getOption("spark.graft.ann.nprobe").map(_.toInt).getOrElse {
      val cells = cellCount(s, d)
      math.min(cells,
        math.max(Nprobe, math.ceil(cells * ProbeFraction).toInt))
    }

  /** Target mean cell occupancy for the derived cell count. 200 keeps the
    * test-scale geometry identical (2 000 vectors → the historical 10
    * cells, so every measured recall still applies) and is small enough
    * that a within-cell pairwise block stays ~20k dot products.
    */
  val TargetCellRows = 200L

  /** Corpus vector count, once per (session, scale dir) — parquet footer
    * metadata, no data scan. Session-keyed (not dir-keyed) for the same
    * reason as [[DedupOps.exactTwinModulus]]'s memo: after an in-JVM
    * corpus rewrite a process-global dir key would keep deriving the
    * index geometry from the OLD row count while every scan reads the
    * new files. The cost of the tighter key is one metadata-only count
    * per session.
    */
  private[graft] def embeddingCount(s: SparkSession, d: String): Long =
    SessionCache.memo(s, "annCorpusCount#" + d, embeddings(s, d).count())
  /** Training-sample size target. Centroid quality needs vector COUNT,
    * not corpus fraction — so the sample is COUNT-bounded: the id-hash
    * modulus is derived from the table's row count to land ~this many
    * vectors (deterministic across partitionings, unlike Bernoulli
    * sampling; the one count() job is metadata-cheap on parquet). A
    * fixed modulus would collect a constant FRACTION — half of 100 TB
    * on the driver. ~400 samples per centroid is comfortably beyond the
    * k·10–100 rule of thumb for Lloyd stability.
    */
  val SampleTarget = 4096L

  /** Training points per derived centroid once the geometry outgrows
    * [[SampleTarget]] — the FAISS-documented working range is ~39–256
    * per centroid; 32 keeps the budget modest while never again
    * training more cells than points.
    */
  val TrainPerCell = 32L

  /** Largest training sample the driver will collect for the local
    * k-means path (≈ 32 MB of doubles at dim 64). Beyond it, training
    * runs as the distributed Lloyd [[kmeans]] over the sampled FRAME —
    * the driver materializes only the k·dim centroid state.
    */
  val DriverTrainCap = 65536L

  /** Soft-assignment width stored IN the index (`soft_cells`: the
    * [[SoftIndexWidth]] nearest cell ids, ascending (distance, cell) —
    * element 1 IS the primary `cell`). The build is already paying one
    * full k·dim nearest-centroid pass per vector to assign the primary
    * cell; widening that same kernel to top-m costs only the per-row
    * heap, while QUERY-time soft assignment costs the whole pass again —
    * at the 2M-vector/10 000-cell rehearsal decade that is ~1.3 Tflop
    * per semantic-dedup execution, re-paid per query. Consumers slice
    * the first `probes` entries ([[graft.operators.DedupOps]]
    * semanticSides/cosinePairsRouted) and fall back to a live
    * [[softCellsOf]] recompute only when a session asks for more probes
    * than the index stores (`spark.graft.dedup.semanticProbes` > 8).
    * 8 covers the default 3 with the measured adversarial-boundary
    * recovery range (probes 5–7, bench/routed_boundary_r9.json) above
    * it; the storage cost is ≤ 8 ints/row.
    */
  val SoftIndexWidth = 8

  private def asDouble(c: Column): Column = transform(c, x => x.cast("double"))

  /** Squared L2 distance between an array column and a literal centroid —
    * the fused codegen'd kernel (evaluated once per row per centroid, so
    * an interpreted HOF here multiplies per-element lambda dispatch by the
    * cell count).
    */
  private def dist2(v: Column, cent: Seq[Double]): Column =
    graft.functions.VectorExprs.dist2(v, typedlit(cent))

  /** Public face of the cell assignment — used to build the at-rest
    * cell-partitioned index (`partitionBy("cell")`), so a probe's
    * `filter(cell isin ...)` prunes to the probed cells' files.
    *
    * One [[graft.functions.VectorExprs.NearestCentroids]] kernel holding
    * the centroid matrix as a reference object: the old literal-unrolled
    * `array_min(array(struct(dist2...)))` form generated code LINEAR in
    * the cell count, which the derived geometry (cells ≈ n/200) turned
    * into multi-second JIT compiles and codegen fallback at scale.
    * Ties break toward the lower cell id, exactly as before.
    */
  def cellOf(v: Column, cents: Seq[Seq[Double]]): Column =
    graft.functions.VectorExprs.nearestCentroids(v, cents, 1).getItem(0)

  /** Top-m nearest cell ids for a vector, ascending (distance, cell) —
    * element 1 is exactly [[cellOf]]. SOFT assignment: near-threshold
    * cosine pairs often straddle a cell boundary (the worst case on
    * near-uniform corpora), so a within-cell operator that expands each
    * vector into its m nearest cells sees boundary pairs at m× the
    * assignment rows — the standard IVF/SemDeDup soft-assignment fix.
    * Same constant-size [[graft.functions.VectorExprs.NearestCentroids]]
    * kernel as [[cellOf]].
    */
  def softCellsOf(v: Column, cents: Seq[Seq[Double]], m: Int): Column =
    graft.functions.VectorExprs.nearestCentroids(v, cents, m)

  /** Distributed Lloyd k-means over an (id, vec: array<double>) frame.
    * Returns k centroids. Each iteration: broadcast-assign (narrow) +
    * one posexplode/groupBy shuffle emitting k·dim rows. Centroid means
    * are exact-decimal sums of round(x,6) divided by the count — order
    * independent, so the trained centroids are deterministic under any
    * partitioning (same construction as sim_label_centroids).
    */
  def kmeans(vecsIn: DataFrame, k: Int, iters: Int): Seq[Seq[Double]] = {
    // the training loop scans the vectors iters+2 times — cache once
    // (callers pass a SAMPLE, so this is a small cached frame); persist(),
    // not localCheckpoint: unpersist() on a checkpointed frame only
    // touches the CacheManager, never the RDD blocks, so the finally
    // below would silently pin the sample for the whole session
    val vecs = vecsIn.persist()
    try {
      var cents: Seq[Seq[Double]] = vecs.orderBy(col("id")).limit(k)
        .select(col("vec")).collect().map(_.getSeq[Double](0)).toSeq
      require(cents.nonEmpty, "kmeans needs a non-empty training frame")
      // a sample smaller than k trains that many cells (each init vector
      // is its own centroid) instead of indexing out of bounds below
      val kEff = cents.length
      val dim = cents.head.length
      for (_ <- 0 until iters) {
        // same blocked-kernel routing as assignedRows: at decade k the
        // per-row expression streams the whole centroid matrix per row
        val assigned =
          if (BlockedAssign.eligible(cents))
            BlockedAssign.withSoftCells(vecs, "vec", "_sc", cents, 1)
              .withColumn("cell", col("_sc").getItem(0)).drop("_sc")
          else vecs.withColumn("cell", cellOf(col("vec"), cents))
        val byDim = assigned
          .select(col("cell"), posexplode(col("vec")).as(Seq("pos", "x")))
          .groupBy(col("cell"), col("pos"))
          .agg((sum(round(col("x"), 6).cast("decimal(28,12)")).cast("double") /
            count(lit(1))).as("m"))
          .collect()
        val next = byDim.groupBy(_.getInt(0)).map { case (cell, rows) =>
          cell -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
        }
        // empty cells keep their previous centroid
        cents = (0 until kEff).map(c => next.getOrElse(c, cents(c)))
        require(cents.forall(_.length == dim))
      }
      cents
    } finally vecs.unpersist(false)
  }

  /** In-memory Lloyd k-means over a COLLECTED sample — the training path
    * [[ivfIndex]] uses. The sample is bounded by COUNT by design (the
    * hash-sample rate drops as the corpus grows; centroid quality needs
    * vector count, not a fraction), so training belongs on the driver:
    * one collect of k·10³-ish rows, then tight JVM iterations with zero
    * job-scheduling overhead per step — the standard vector-index
    * pattern (train on a bounded sample in memory, assign distributed).
    * [[kmeans]] remains the distributed twin for unbounded training
    * frames. Deterministic: init = k lowest ids, fixed iteration count,
    * sequential accumulation in sorted-id order.
    */
  def kmeansLocal(sample: Array[(Long, Array[Double])], k: Int,
      iters: Int): Seq[Seq[Double]] = {
    require(sample.nonEmpty, "kmeans needs a non-empty training sample")
    val pts = sample.sortBy(_._1).map(_._2)
    var cents: Array[Array[Double]] = pts.take(k).map(_.clone())
    val kEff = cents.length
    val dim = cents.head.length
    require(pts.forall(_.length == dim))
    for (_ <- 0 until iters) {
      val sums = Array.fill(kEff, dim)(0.0)
      val counts = new Array[Long](kEff)
      pts.foreach { p =>
        // argmin by (distance, cell) — same integer tie-break as the
        // distributed assignment kernel
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < kEff) {
          var d = 0.0; var i = 0
          val ct = cents(c)
          while (i < dim) { val t = p(i) - ct(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        var i = 0
        while (i < dim) { sums(best)(i) += p(i); i += 1 }
        counts(best) += 1
      }
      // empty cells keep their previous centroid
      cents = Array.tabulate(kEff)(c =>
        if (counts(c) == 0) cents(c)
        else sums(c).map(_ / counts(c)))
    }
    cents.toSeq.map(_.toSeq)
  }

  /** A built IVF index: unit-sphere centroids + the cell-partitioned
    * at-rest path.
    */
  final case class IvfIndex(dir: String, cents: Seq[Seq[Double]]) {
    /** The `nprobe` cell ids nearest to a query vector (driver-side over
      * k centroid rows — k·dim doubles, never data-sized). The query is
      * L2-normalized here to match the unit-sphere centroids.
      */
    def probeCells(qv: Seq[Double], nprobe: Int): Seq[Int] = {
      // zip would silently truncate a wrong-dimension query to a prefix
      // and return confidently wrong cells (the executor-side dist2
      // kernel returns null on mismatch — keep the semantics aligned)
      require(cents.isEmpty || qv.length == cents.head.length,
        s"query dim ${qv.length} != index dim ${cents.head.length}")
      val nrm = math.sqrt(qv.map(x => x * x).sum)
      val uq = if (nrm == 0.0) qv else qv.map(_ / nrm)
      cents.zipWithIndex
        .map { case (c, i) =>
          (i, c.zip(uq).map { case (a, b) => (a - b) * (a - b) }.sum)
        }
        .sortBy { case (i, d2) => (d2, i) }.take(nprobe).map(_._1)
    }
  }

  /** One process-wide build lock per pinned index dir: sessions sharing
    * a context (the newSession-per-run pattern) race a pinned-dir build
    * otherwise — one session lazily reads the dir per query execution
    * while another `mode("overwrite")`s the same path. The lock plus the
    * ready-marker check below serializes the ONE build; every later
    * session loads instead of rewriting, so no overwrite ever races a
    * reader. (Cross-JVM coordination is the maintenance job's concern —
    * run [[buildIndex]] once, then start the serving processes.)
    */
  private val buildLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Marker written LAST into a completed index dir (data parquet, then
    * `_centroids`, then this) — its presence means every file a probe or
    * [[loadIndex]] needs is fully committed.
    */
  private val ReadyMarker = "_GRAFT_INDEX_READY"

  /** Temp-dir indexes pending deletion at JVM exit. ONE static shutdown
    * hook over this set, registered lazily on first use: a hook PER
    * build would accumulate without bound in a long-lived multi-session
    * JVM, and `addShutdownHook` during shutdown throws — a build racing
    * JVM exit now just leaves its dir for the OS tmp reaper instead of
    * crashing.
    */
  private val tempIndexDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private lazy val tempDirHookOnce: Unit =
    try Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(); ()
      }
      tempIndexDirs.forEach(t => rm(new java.io.File(t)))
    }))
    catch { case _: IllegalStateException => () }
  private[graft] def registerTempIndexDir(t: String): Unit = {
    tempDirHookOnce
    tempIndexDirs.add(t); ()
  }

  /** Load a completed index from `dir` if its ready marker is present:
    * centroids from `$dir/_centroids` (cell-ordered), data left at rest
    * for the probes. Returns None when the dir is absent or was never
    * finished (a crashed build leaves no marker → the caller rebuilds
    * and overwrites).
    */
  private def loadIndex(s: SparkSession, dir: String): Option[IvfIndex] = {
    val marker = new org.apache.hadoop.fs.Path(dir, ReadyMarker)
    val fs = marker.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker)) None
    else {
      val cents = s.read.parquet(s"$dir/_centroids")
        .orderBy(col("cell")).collect()
        .map(_.getSeq[Double](1).toSeq).toSeq
      Some(IvfIndex(dir, cents))
    }
  }

  /** Build (once per SESSION, scale dir AND geometry, memoized) the IVF
    * index for `embeddings`: train on the hash sample, assign every
    * vector, persist cell-partitioned parquet. Columns: vec_id, label,
    * vec, soft_cells, cell.
    *
    * Session-keyed via [[SessionCache]], NOT process-global: every
    * serving consumer (`ann_ivf_*`, `dedup_semantic`, the routed branch
    * of `dedup_embedding_cosine`) reads its corpus fresh but its index
    * from this memo, so a process-global dir key would serve stale
    * vectors / vanished vec_ids after an in-JVM corpus rewrite — the
    * exact staleness class [[DedupOps.exactTwinModulus]]'s session memo
    * exists to prevent. A new session re-pays one index build ONLY for
    * temp-dir (test/tool) indexes; with a pinned `spark.graft.ann.indexDir`
    * the dir carries a ready marker + persisted centroids, so later
    * sessions LOAD the completed index instead of overwriting it under
    * a concurrent reader (the geometry is encoded in the path — a
    * changed cell count builds a sibling dir). Pinning the dir means
    * the deployment owns invalidation: rewrite the corpus → delete (or
    * re-point) the index dir, exactly the external-index contract every
    * vector store has.
    */
  def ivfIndex(s: SparkSession, d: String): IvfIndex =
    SessionCache.memo(s, s"ivfIndex#$d#k=${cellCount(s, d)}", {
      s.conf.getOption("spark.graft.ann.indexDir") match {
        case Some(base) =>
          val dir = s"$base/ivf-" +
            s"${java.lang.Integer.toHexString(d.hashCode)}" +
            s"-k${cellCount(s, d)}"
          val lock = buildLocks.computeIfAbsent(dir, _ => new Object)
          lock.synchronized {
            loadIndex(s, dir).getOrElse(buildInto(s, d, dir))
          }
        case None =>
          val t = java.nio.file.Files
            .createTempDirectory("graft-ivf-index-").toString
          registerTempIndexDir(t)
          buildInto(s, d, t)
      }
    })

  /** Train + assign + persist into `dir` (see [[ivfIndex]] for the
    * policy of WHEN this runs). Write order: cell-partitioned data,
    * `_centroids`, ready marker — a crash leaves no marker, so the next
    * builder overwrites the partial dir.
    */
  private def buildInto(s: SparkSession, d: String, dir: String)
      : IvfIndex =
    buildFrom(s, embeddings(s, d).select(col("vec_id"), col("label"),
      asDouble(col("embedding")).as("vec")), cellCount(s, d), dir)

  /** Unit-normalize for spherical clustering (see Index geometry note);
    * the ORIGINAL vector is what gets stored and cosine-re-ranked.
    * Zero-norm guard mirrors probeCells: x/0.0 would make every element
    * NaN, all NaN<bestD comparisons false, and silently index the
    * vector into cell 0 where no meaningful probe finds it — keep the
    * raw (all-zero) vector instead, same as the query side.
    */
  private def unitNormed(base: DataFrame): DataFrame =
    base
      .withColumn("nrm", SimilarityOps.l2norm(col("vec")))
      .withColumn("uvec", when(col("nrm") === 0, col("vec"))
        .otherwise(transform(col("vec"), x => x / col("nrm"))))

  /** The index row shape: one top-[[SoftIndexWidth]] pass assigns BOTH
    * the primary cell (element 1 — same argmin, same (distance, cell)
    * tie-break as [[cellOf]]) and the stored soft assignment every
    * semantic consumer would otherwise recompute per query. Shared by
    * the full build and [[appendToIndex]] so appended rows are
    * bit-identical to what the build would have assigned them.
    */
  private def assignedRows(normed: DataFrame, cents: Seq[Seq[Double]])
      : DataFrame = {
    val m = math.min(SoftIndexWidth, cents.length)
    // decade/production geometry takes the row-BLOCKED kernel: the
    // per-row expression is L3-bandwidth-bound past a few thousand
    // cells (every row streams the whole k·dim matrix — measured
    // bench/assign_probe_r16_2m_e.json: eliminating 94 % of the flops
    // moved the wall ~1 %), and blocking divides the matrix traffic by
    // the row-block size. Bit-identical output (BlockedAssignSpec);
    // bench-SF geometries stay below the gate, keeping their plans
    // byte-identical.
    val assigned =
      if (BlockedAssign.eligible(cents))
        BlockedAssign.withSoftCells(normed, "uvec", "soft_cells", cents, m)
      else
        normed.withColumn("soft_cells", softCellsOf(col("uvec"), cents, m))
    assigned
      .withColumn("cell", col("soft_cells").getItem(0))
      .select(col("vec_id"), col("label"), col("vec"),
        col("soft_cells"), col("cell"))
  }

  private[graft] def buildFrom(s: SparkSession, base: DataFrame, k: Int,
      dir: String): IvfIndex = {
      val normed = unitNormed(base)
      // the hash sample is COUNT-bounded — but the count must scale
      // with the GEOMETRY, not stay fixed: cells derive as n/200, so a
      // fixed SampleTarget eventually trains more centroids than it has
      // points (measured at the 2M-vector rehearsal decade: 10 000
      // derived cells vs a 4 096-point sample — k-means degenerates to
      // one-point cells). Budget ≈ TrainPerCell points per centroid
      // (the FAISS working range), floored at SampleTarget; up to
      // DriverTrainCap the sample is collected and trained locally
      // (tight JVM loops, zero scheduling overhead), beyond it training
      // moves to the DISTRIBUTED Lloyd twin over the sampled frame —
      // the driver then never materializes more than the k·dim centroid
      // state, which is the bounded-collect contract this file keeps.
      val trainTarget =
        math.max(SampleTarget, TrainPerCell * k.toLong)
      val sampleMod = math.max(1L, base.count() / trainTarget)
      val sampleFrame = normed
        .filter(pmod(xxhash64(col("vec_id")), lit(sampleMod)) === 0)
        .select(col("vec_id").as("id"), col("uvec").as("vec"))
      val cents =
        if (trainTarget <= DriverTrainCap)
          kmeansLocal(
            sampleFrame.collect()
              .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)),
            k, Iters)
        else kmeans(sampleFrame, k, Iters)
      // the index dir is a SHARED path on a real cluster (pin
      // spark.graft.ann.indexDir to a DFS path) — a driver-local temp dir
      // only works on local[*] masters, where executors share the filesystem;
      // on a cluster, executor task outputs to a file:// temp path would
      // scatter across machines and the probe would read partial cells
      // cluster by cell BEFORE the partitioned write: without it every
      // writer task emits a file into every cell dir — writers × cells
      // files (measured at the 2M-vector decade: 32 × 10 000 ≈ 290 000
      // ~4 KB files, 3.9 GB at rest where the data is ~500 MB, and every
      // probe pays an open() per file). One shuffle at build time buys
      // one ~occupancy-sized file per cell — the at-rest shape every
      // probe scan wants. (hash-)repartition on the cell key: with
      // cells ≫ shuffle partitions each task still writes only its own
      // cells' rows.
      assignedRows(normed, cents)
        .repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(dir)
      invalidateIndexRead(s, dir)
      commitIndexMeta(s, dir, cents)
  }

  /** Persist the centroids beside the data (an `_`-prefixed subdir is
    * invisible to the partition-discovering data read) so a LATER
    * session/process can load the completed index without retraining,
    * then commit the whole dir with the ready marker — data first,
    * `_centroids`, marker LAST, so a crash anywhere leaves no marker
    * and the next builder overwrites the partial dir. Shared by
    * [[buildFrom]] and [[compactIndex]].
    */
  private def commitIndexMeta(s: SparkSession, dir: String,
      cents: Seq[Seq[Double]]): IvfIndex = {
      import s.implicits._
      val timing = scala.util.Try(
        s.conf.get("spark.graft.maintenance.timing")).toOption
        .contains("true")
      def timed[T](label: String)(f: => T): T =
        if (!timing) f
        else {
          val t0 = System.nanoTime()
          val r = f
          System.err.println(f"[maint-timing] meta/$label " +
            f"${(System.nanoTime() - t0) / 1e9}%.1f s")
          r
        }
      cents.zipWithIndex.map { case (c, i) => (i, c) }
        .toDF("cell", "vec")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/_centroids")
      // commit-time cell manifest: cold sessions plan the scan from this
      // instead of re-walking the 10^4-cell tree (the decade's 15 s
      // listing, paid once per SESSION before — now once per GENERATION,
      // by the writer). Written before the ready marker, like _centroids.
      timed("manifest_rewrite")(CellManifest.rewrite(s, dir))
      // presence-probe bloom over the generation's ids ([[GenBloomFile]])
      // — one id-column pass at commit buys every streamed epoch a
      // definitely-absent pre-filter; skipped past the size cap (the
      // probe then stays cell-bounded exact). Plan the id scan from the
      // manifest JUST rewritten above (explicit leaf files, no
      // partition-discovery tree walk): at decade geometry a bare
      // `spark.read.parquet(dir)` re-walks the 10⁴ cell dirs — the
      // measured 15 s listing this commit already paid once inside
      // `rewrite` — so the fallback read only fires for dirs the
      // manifest could not describe (it never is, post-rewrite).
      timed("gen_bloom") {
        // one materialization feeds BOTH the count and the bloom
        // aggregate: the id column is ~8 B/row but the generation tree
        // is 10⁴ tiny files, so each job over it is file-OPEN-bound,
        // not byte-bound — two uncached jobs paid 2 × 10⁴ footer reads
        // (measured 12–17 s of the commit; see writeIdBloom's fan-in
        // note for the other half of that number). Coalesced small so
        // the persist holds a handful of blocks and the bloom merge
        // sees a handful of partials.
        val genIds = CellManifest.readAsDf(s, dir)
          .getOrElse(s.read.parquet(dir)).select(col("vec_id"))
          .coalesce(BloomAggMaxPartitions).persist()
        try
          writeIdBloom(s, new org.apache.hadoop.fs.Path(dir, GenBloomFile),
            genIds, genIds.count())
        finally { genIds.unpersist(false); () }
      }
      val marker = new org.apache.hadoop.fs.Path(dir, ReadyMarker)
      val fs = marker.getFileSystem(s.sparkContext.hadoopConfiguration)
      val out = fs.create(marker, true)
      out.write(s"k=${cents.length}\n".getBytes("UTF-8"))
      out.close()
      IvfIndex(dir, cents)
  }

  /** Open a COMMITTED index dir (built by [[buildIndex]]/[[buildFrom]],
    * compacted by [[compactIndex]]) without rebuilding: centroids load
    * from `_centroids` iff the ready marker is present, else this
    * throws — an uncommitted dir means the build crashed and must be
    * re-run, not served. The serving-process entry of the maintenance
    * contract: one job builds, every serving session/process opens.
    */
  def openIndex(s: SparkSession, dir: String): IvfIndex =
    loadIndex(s, dir).getOrElse(sys.error(
      s"no committed index at $dir — ready marker missing; " +
        "run buildIndex/compactIndex to completion first"))

  /** Explicit maintenance entry: build (or fetch the memoized) IVF index
    * for a scale directory ahead of serving — the production shape the
    * class doc describes. Run it as the offline index job (or call it at
    * service start); every `ann_ivf_*` query afterwards is probe-only.
    * [[graft.Bench]] pre-builds through this and reports the build as its
    * own metric, so the per-query numbers measure serving, not indexing.
    */
  def buildIndex(s: SparkSession, d: String): IvfIndex = ivfIndex(s, d)

  /** Incremental ingest — the FAISS `add()` contract for a built index:
    * assign a batch of NEW vectors to the EXISTING centroids (frozen —
    * no retrain) and append them into the index dir's DELTA tier
    * ([[DeltaTier]]: cell-SORTED single-file epochs; a cell-partitioned
    * epoch write costs one file per touched cell — measured 20.6 s of a
    * 24–29 s epoch wall at the 2M/10⁴-cell decade — and compaction is
    * where the partitioned layout is re-bought, amortized over the
    * generation). The appended rows go through the SAME normalize +
    * top-m assignment kernel as the build, so their `cell`/`soft_cells`
    * are bit-identical to what a build that had seen them would have
    * assigned against these centroids; every probe and semantic
    * consumer serves them with no code change (base partition pruning ∪
    * delta row-group pruning). Cost is one batch-sized narrow pass +
    * one batch-sized write — the corpus is never rescanned, which is
    * the whole point at 100 TB: a daily 0.1% ingest costs 0.1%, not a
    * rebuild.
    *
    * `batch` has the embeddings-table shape (vec_id, label, embedding).
    * The write is job-atomic (file-source commit protocol: files land
    * under _temporary until job commit), but a reader planning its scan
    * DURING the commit may see a partial batch — the same
    * eventual-visibility every non-transactional file-source append has.
    * Production contract: run appends from the maintenance job between
    * serving generations (or point serving at a versioned snapshot dir).
    * Centroids frozen means cell occupancy drifts as the corpus
    * distribution does — the maintenance answer is a periodic rebuild
    * ([[buildIndex]] after invalidating the dir), not per-batch retrain;
    * [[graft.tools.RecallCheck]] is the drift monitor.
    */
  def appendToIndex(s: SparkSession, idx: IvfIndex, batch: DataFrame)
      : Unit = {
    val base = batch.select(col("vec_id"), col("label"),
      asDouble(col("embedding")).as("vec"))
      .repartition(s.sparkContext.defaultParallelism) // kernel-width,
    // never the caller's file granularity (see appendToIndexIdempotent)
    // one assignment pass feeds the write, the manifest update AND the
    // codes append (the n·k·dim kernel is the dominant batch cost —
    // see appendToIndexIdempotent's persist rationale). When a codes
    // generation is committed, the PQ encode rides the SAME pass
    // (Pq.withCodesColumn before the persist): data + codes then come
    // out of one materialization of the batch instead of appendCodes
    // paying a second encode pass per epoch.
    val books = Pq.booksIfCommitted(s, idx.dir)
    val assigned = books
      .foldLeft(assignedRows(unitNormed(base), idx.cents))(
        (a, b) => Pq.withCodesColumn(a, b))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val batchCells = assigned.select(col("cell")).distinct()
        .collect().map(_.getInt(0)).toSeq
      val batchCount = assigned.count()
      if (batchCount > 0) {
        // the batch lands as cell-SORTED delta file(s), never a
        // cell-partitioned write (one file PER TOUCHED CELL — measured
        // 20.6 s of a 24–29 s epoch wall at the 2M/10⁴-cell decade for
        // megabytes of rows, round-13 stage walls). Serving reads
        // base ∪ delta; compaction folds deltas into the next
        // generation's partitioned base. The base tree — and therefore
        // the cell manifest — is untouched, so the per-epoch
        // markPending/updateCells protocol retires with the write that
        // needed it; readers see the epoch through DeltaTier.token in
        // the listing memo's version.
        val epochDir = DeltaTier.write(assigned.drop("codes"), idx.dir,
          Seq(col("cell"), col("vec_id")), deltaFiles(batchCount))
        // the epoch's probe bloom rides the commit ([[EpochBloomFile]]);
        // a crash between the two leaves a committed epoch without a
        // sidecar — probeBlooms then disables the pre-filter wholesale
        writeIdBloom(s, new org.apache.hadoop.fs.Path(epochDir,
          EpochBloomFile), assigned.select(col("vec_id")), batchCount)
        invalidateIndexRead(s, idx.dir)
        // keep the IVF-PQ codes artifact in step: a committed codes
        // generation that missed this batch would silently serve recall
        // loss (appended ids unreachable through the ADC shortlist)
        Pq.appendCodes(s, idx.dir, assigned, batchCells)
        // re-ingest wins: an appended id that was tombstoned serves
        // again (see deleteFromIndex's semantics note)
        clearTombstones(s, idx, assigned.select(col("vec_id")))
        ()
      }
    } finally assigned.unpersist()
    ()
  }

  /** Rows per delta file for a bulk append — streamed epochs (≤ ~10⁵
    * rows) land as ONE file; a bulk batch range-splits on the sort key
    * so no single task writes unboundedly and every file still carries
    * a prunable cell range (~0.5 GB at dim 64).
    */
  private val RowsPerDeltaFile = 1L << 20

  private def deltaFiles(rows: Long): Int =
    math.max(1L, (rows + RowsPerDeltaFile - 1) / RowsPerDeltaFile).toInt

  /** Exactly-once wrapper around [[appendToIndex]] for STREAMING ingest
    * (`foreachBatch`): Structured Streaming replays any micro-batch
    * whose epoch didn't commit, and a bare append is not idempotent —
    * one replay doubles the batch's rows in the index. This wrapper
    * makes the append replay-safe with the file sink's own trick, a
    * per-batch commit marker under `_ingest_commits/` (the `_` prefix
    * keeps it invisible to the partition-discovering data read), plus
    * an EXACT probe for the one window the marker alone can't close:
    * a crash AFTER the append job started committing but BEFORE the
    * marker write. On replay with no marker, the batch is re-assigned
    * to the frozen centroids and ONLY its own cells are scanned
    * (partition pruning — recovery cost is bounded by the batch's cell
    * occupancy, never a corpus pass) for the batch's vec_ids; the
    * replay then appends EXACTLY the missing complement. A partial
    * count is therefore repaired, not refused: FileOutputCommitter's
    * job commit is a loop of per-task renames — not one atomic op,
    * especially on object stores — so a crash inside the commit window
    * can legitimately leave some task files visible and others not.
    * (Appending the complement converges because batch ids are unique
    * and already-present rows are never rewritten; a throw here would
    * wedge the stream permanently on a crash the protocol itself
    * allows.)
    *
    * Contract: ingested vec_ids are not LIVE in the index (the
    * embeddings ingest shape — an upsert needs the latest-state
    * compaction path, not an index append) and unique within the
    * batch. Re-ingesting a TOMBSTONED id is defined: re-ingest wins —
    * the append clears the covering tombstone ([[clearTombstones]])
    * whether the row needed appending (tombstoned + compacted away) or
    * was still physically present (tombstoned, not yet compacted), so
    * the id serves again either way. Returns true when rows were
    * appended (fully or as a repair), false when the batch was
    * recognized as already present (marker or probe) and skipped.
    *
    * Generation swaps compose with this: [[compactIndex]] does NOT
    * carry `_ingest_commits` into the new dir, and doesn't need to —
    * the checkpoint (not the marker) stops committed epochs from ever
    * re-firing, so the only epoch that can replay after a
    * restart-against-the-compacted-dir is the in-flight one, and the
    * presence probe recognizes its rows (compaction carried them) and
    * heals the marker in the new generation. Markers themselves are
    * PRUNED to the newest [[MaxIngestMarkers]] after each commit — a
    * long-running low-churn stream must not grow an unbounded
    * small-file set in the index dir. Pruning is safe for the same
    * reason compaction may drop them all: a committed epoch never
    * re-fires, and if one somehow did, the presence probe recognizes
    * its rows and re-heals the marker.
    */
  def appendToIndexIdempotent(s: SparkSession, idx: IvfIndex,
      batch: DataFrame, batchId: Long): Boolean = {
    val commits = new org.apache.hadoop.fs.Path(idx.dir, "_ingest_commits")
    val marker = new org.apache.hadoop.fs.Path(commits, s"batch-$batchId")
    val fs = marker.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(marker)) return false
    // a streamed micro-batch arrives at the SOURCE's partition
    // granularity — with file sources at maxFilesPerTrigger=1 that is
    // ONE partition per epoch, and the n·k·dim assignment kernel then
    // runs on one core (measured 84 s/epoch of an 1,255 s decade
    // rehearsal vs 9 s for the same batch pre-split — the in-stream
    // stage walls, round 13). Spread the batch across the cluster
    // BEFORE the kernel: the shuffle moves only the raw batch bytes
    // (megabytes), the kernel is the dominant per-epoch flop cost.
    val rows = batch.select(col("vec_id"), col("label"),
      asDouble(col("embedding")).as("vec"))
      .repartition(s.sparkContext.defaultParallelism)
    // ONE batch-sized assignment pass serves the presence probe AND
    // the append's write: the n·k·dim nearest-centroid kernel is the
    // dominant per-batch cost, so recomputing it for the write would
    // double every micro-batch. Persisted, not localCheckpoint'd —
    // the frame is ingest-batch-sized. With a committed codes
    // generation, the PQ encode rides this same pass
    // (Pq.withCodesColumn) — the codes-in-step work then adds no
    // second pass over the batch.
    val books = Pq.booksIfCommitted(s, idx.dir)
    val assignedDf = books
      .foldLeft(assignedRows(unitNormed(rows), idx.cents))(
        (a, b) => Pq.withCodesColumn(a, b))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // opt-in per-stage walls (`spark.graft.ingest.timing=true`) — the
    // decade ingest rehearsals are file-op bound, and stage attribution
    // from the outside is guesswork; this prints one line per stage to
    // stderr, zero cost when off
    val timing = s.conf.getOption("spark.graft.ingest.timing")
      .contains("true")
    def staged[A](stage: String)(f: => A): A =
      if (!timing) f
      else {
        val t0 = System.nanoTime()
        val r = f
        System.err.println(f"[ingest-timing] batch=$batchId%-4d $stage%-12s" +
          f" ${(System.nanoTime() - t0) / 1e9}%8.3f s")
        r
      }
    val result =
      try {
        // the driver holds only the batch's DISTINCT cell list (≤ k
        // ints — geometry-bounded) and two counts; the presence check
        // itself is a distributed semi-join of the probed cells
        // against the batch ids, never a collect of cell contents
        // (cells hold ~TargetCellRows rows each, so collecting them
        // would put ~200× the batch on the driver)
        val batchCells = staged("assign") {
          assignedDf.select(col("cell")).distinct()
            .collect().map(_.getInt(0)).toSeq
        }
        val batchCount = assignedDf.count()
        // data-tree presence of the batch, reused by the codes append:
        // 0 lets appendCodes skip its truthful anti-join entirely
        // (codes-present ⊆ data-present — see its knownAbsent contract)
        var presentInData = -1L
        val didAppend = batchCount > 0 && {
          // bloom pre-pass ([[GenBloomFile]]): ids every sidecar calls
          // DEFINITELY ABSENT need no exact probe (no false negatives),
          // so the exact read below prunes to the SUSPECTS' cells — a
          // fresh-id epoch probes ~fpp·batch cells instead of opening
          // every touched cell's base file. None (any source without a
          // sidecar) keeps the full pre-r15 exact probe.
          val suspectCells = staged("bloom_scan") {
            probeBlooms(s, idx.dir).map { bs =>
              assignedDf.filter(mightBePresent(bs))
                .select(col("cell")).distinct()
                .collect().map(_.getInt(0)).toSeq
            }
          }
          val probeCells = suspectCells.getOrElse(batchCells)
          // TRUTHFUL presence read, NOT the memoized one: base tier by
          // a fresh cell-bounded listing of only the probed cells
          // (batch-bounded, never O(cells)), delta tier by a fresh
          // committed-epoch listing — the batch's own crashed-epoch
          // rows live THERE, and a probe that missed them would
          // re-append duplicates, the exact failure this protocol
          // exists to prevent. (Restricting to suspect cells is sound:
          // a definitely-absent id can be in no tier, and a present id
          // is a bloom suspect in its own assigned cell.)
          val cellIds = staged("probe_list") {
            val tiers =
              if (probeCells.isEmpty) Seq.empty
              else CellManifest.cellBoundedRead(s, idx.dir, probeCells)
                .map(_.select(col("vec_id"))).toSeq ++
                DeltaTier.read(s, idx.dir)
                  .map(_.filter(col("cell").isin(probeCells: _*))
                    .select(col("vec_id"))).toSeq
            tiers.reduceOption(_ unionByName _)
              .getOrElse(s.range(0).select(col("id").as("vec_id")))
          }
          val present = staged("probe_scan") {
            if (probeCells.isEmpty) 0L
            else cellIds
              .join(assignedDf.select(col("vec_id")), Seq("vec_id"),
                "left_semi")
              .count()
          }
          presentInData = present
          if (present < batchCount) {
            // none present → the normal append; SOME present → a crash
            // inside the commit window left a partial batch — append
            // exactly the missing complement (anti-join over the same
            // truthful two-tier read). The epoch lands as cell-SORTED
            // delta file(s) — see appendToIndex — so the base tree and
            // its manifest are untouched and no markPending/updateCells
            // crash window exists on this path anymore.
            val toAppend =
              if (present == 0) assignedDf
              else assignedDf.join(cellIds, Seq("vec_id"), "left_anti")
            val epochDir = staged("data_write") {
              DeltaTier.write(toAppend.drop("codes"), idx.dir,
                Seq(col("cell"), col("vec_id")), deltaFiles(batchCount))
            }
            // the epoch's own probe bloom ([[EpochBloomFile]]): a crash
            // between epoch commit and this write leaves a committed
            // epoch without a sidecar — probeBlooms then disables the
            // pre-filter wholesale, never guesses
            staged("bloom_write") {
              writeIdBloom(s, new org.apache.hadoop.fs.Path(epochDir,
                EpochBloomFile), toAppend.select(col("vec_id")), batchCount)
            }
            invalidateIndexRead(s, idx.dir)
            true
          } else false
        }
        // codes catch-up on EVERY uncommitted-epoch branch (appended,
        // repaired, or skip-after-crash): the update is an idempotent
        // anti-join over the batch's cells, so a replay whose data
        // already landed still heals a codes artifact the crash left
        // behind — before the marker declares the epoch done
        if (batchCount > 0) {
          staged("codes") {
            Pq.appendCodes(s, idx.dir, assignedDf, batchCells,
              knownAbsent = presentInData == 0L)
          }
        }
        // re-ingest wins over a pending tombstone, on EVERY branch: the
        // re-ingested id may be physically present (skip/repair paths)
        // or freshly appended — either way its tombstone must go
        if (batchCount > 0)
          staged("tombstones") {
            clearTombstones(s, idx, assignedDf.select(col("vec_id")))
          }
        (batchCount, didAppend)
      } finally assignedDf.unpersist()
    val out = fs.create(marker, true)
    out.write(s"rows=${result._1}\n".getBytes("UTF-8"))
    out.close()
    pruneIngestMarkers(fs, commits)
    result._2
  }

  /** Ingest markers retained after each commit — enough to cover any
    * sane checkpoint-retained replay range by orders of magnitude (the
    * only epoch that CAN replay is the in-flight one), while bounding
    * the small-file set a years-long low-churn stream would otherwise
    * accumulate one-per-epoch.
    */
  val MaxIngestMarkers = 256

  /** Drop all but the newest [[MaxIngestMarkers]] markers (by batchId —
    * epoch order, not mtime). Safe because a pruned epoch can no longer
    * replay; the presence probe backstops even that (see
    * [[appendToIndexIdempotent]]).
    */
  private[graft] def pruneIngestMarkers(fs: org.apache.hadoop.fs.FileSystem,
      commits: org.apache.hadoop.fs.Path): Unit = {
    val ids = fs.listStatus(commits).flatMap { st =>
      val n = st.getPath.getName
      if (n.startsWith("batch-"))
        scala.util.Try(n.stripPrefix("batch-").toLong).toOption
          .map(_ -> st.getPath)
      else None
    }
    if (ids.length > MaxIngestMarkers)
      ids.sortBy(_._1).dropRight(MaxIngestMarkers)
        .foreach { case (_, p) => fs.delete(p, false) }
  }

  /** Presence-probe bloom sidecars (round 15) — the probe_scan fix: the
    * exactly-once probe's TRUTHFUL semi-join had to OPEN every touched
    * cell's base file per epoch (~3.5 s of a ~13 s plain epoch at the
    * 2M decade; 56+20 s in churn), even though a fresh-id batch matches
    * nothing. A vec_id bloom per SOURCE — one over the committed base
    * generation (`_bloom_gen`, written with the ready marker) and one
    * inside each committed delta epoch dir (`_bloom`) — lets the probe
    * pre-filter the batch: ids every bloom calls DEFINITELY ABSENT need
    * no exact probe (no false negatives), and the exact anti-join
    * backstop shrinks to the surviving suspects' cells, so exactly-once
    * is untouched. A source without a sidecar (legacy dir, crash
    * between epoch commit and bloom write) disables the pre-filter
    * wholesale — the probe falls back to the full exact read, never to
    * a guess.
    */
  private val GenBloomFile = "_bloom_gen"
  private val EpochBloomFile = "_bloom"

  /** False-positive rate for the probe blooms. 0.1% keeps a decade
    * epoch's false suspects to ~100 rows (a bounded cell relist) at
    * ~14.4 bits/id — ~3.5 MB for the 2M base generation.
    */
  private val BloomFpp = 0.001

  /** Corpus-size ceiling for writing probe blooms — the filter is a
    * driver/task-held object (n·14.4 bits: ~29 MB at 16M ids), so past
    * this the build/compact skips the sidecar and the probe keeps the
    * cell-bounded exact read (the documented pre-r15 cost).
    */
  private val BloomMaxItems = 16000000L

  private def writeBloomFile(s: SparkSession, path: org.apache.hadoop.fs.Path,
      bf: org.apache.spark.util.sketch.BloomFilter): Unit = {
    val fs = hadoopFs(s, path)
    val out = fs.create(path, true)
    try bf.writeTo(out) finally out.close()
  }

  private def readBloomFile(s: SparkSession, path: org.apache.hadoop.fs.Path)
      : Option[org.apache.spark.util.sketch.BloomFilter] = {
    val fs = hadoopFs(s, path)
    if (!fs.exists(path)) None
    else scala.util.Try {
      val in = fs.open(path)
      try org.apache.spark.util.sketch.BloomFilter.readFrom(in)
      finally in.close()
    }.toOption
  }

  /** Write a source's vec_id bloom sidecar: distributed build
    * (`df.stat.bloomFilter` — one narrow pass over the id column),
    * driver-serialized to `path`. Skipped (and any stale sidecar
    * removed) when `n` exceeds [[BloomMaxItems]] — a missing sidecar
    * degrades the probe to exact, never to wrong.
    */
  /** Cap on the bloom aggregation's partial fan-in: `stat.bloomFilter`
    * ships ONE partial filter per scan partition to the merge, and a
    * GENERATION-sized id scan plans one partition per ~32 packed cell
    * files — measured at the 2M/10⁴-cell decade: ~313 partials ×
    * 3.6 MB (2M items at fpp 0.001) ≈ 1.1 GB serialized into the merge,
    * 12–17 s of the generation commit for a 16 MB id column
    * (`bench/compact_probe_r16_base.json` phase walls). Reading the
    * same bytes through a few coalesced partitions ships a few partials
    * instead; the filter built is identical (bloom merge is
    * commutative/associative). 8 keeps the tiny scan parallel enough.
    */
  private val BloomAggMaxPartitions = 8

  private def writeIdBloom(s: SparkSession, path: org.apache.hadoop.fs.Path,
      ids: DataFrame, n: Long): Unit = {
    if (n > 0 && n <= BloomMaxItems)
      writeBloomFile(s, path, ids.coalesce(BloomAggMaxPartitions)
        .stat.bloomFilter("vec_id", n, BloomFpp))
    else {
      scala.util.Try(hadoopFs(s, path).delete(path, false))
      ()
    }
  }

  /** All probe blooms of an index dir — base generation + one per
    * committed delta epoch — or None when ANY source lacks one (the
    * pre-filter must cover every physical row or it proves nothing).
    * Session-memoized, versioned on both tiers' commit state, so a
    * fresh epoch's bloom (this process or a sibling) is picked up at
    * the next probe.
    */
  private def probeBlooms(s: SparkSession, dir: String)
      : Option[Seq[org.apache.spark.util.sketch.BloomFilter]] =
    SessionCache.memoVersioned(s, s"probeBlooms#$dir",
      CellManifest.stateToken(s, dir) + "|" + DeltaTier.token(s, dir), {
        readBloomFile(s,
          new org.apache.hadoop.fs.Path(dir, GenBloomFile)).flatMap { gen =>
          val epochs = DeltaTier.epochDirs(s, dir).map(st =>
            readBloomFile(s,
              new org.apache.hadoop.fs.Path(st.getPath, EpochBloomFile)))
          if (epochs.exists(_.isEmpty)) None
          else Some(gen +: epochs.map(_.get))
        }
      })

  /** Keep-if-any-bloom-might-contain predicate over `vec_id`. */
  private def mightBePresent(
      blooms: Seq[org.apache.spark.util.sketch.BloomFilter]): Column =
    blooms.map(b =>
      graft.functions.BloomExprs.mightContainLong(b, col("vec_id")))
      .reduce(_ || _)

  /** Tombstone subdir (`_`-prefixed → invisible to the
    * partition-discovering data read, same trick as `_centroids` and
    * `_ingest_commits`).
    */
  private val DeletesDir = "_deletes"

  /** Staging sibling for a tombstone-set REWRITE (re-ingest clearing —
    * see [[clearTombstones]]): the new set is written COMPLETE here
    * before the old dir is removed and this renamed over it, so no
    * crash window ever loses tombstones that should survive (losing one
    * silently resurrects a deleted row — the GDPR-bad direction; the
    * safe direction, a crash leaving the OLD set, merely keeps the
    * re-ingested id hidden until the epoch replays and re-clears).
    * Readers prefer this dir when it exists (it is always the newer,
    * complete set); writers promote it before touching tombstones.
    */
  private val DeletesNextDir = "_deletes.next"

  private def hadoopFs(s: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  /** The CURRENT tombstone set's path, if any: a completed-but-unswapped
    * rewrite (`_deletes.next`) wins over `_deletes` — it is by
    * construction the newer complete set. Read-only (safe under
    * concurrent readers); writers call [[promoteDeletesSwap]] first.
    */
  private def liveDeletesPath(s: SparkSession, idx: IvfIndex)
      : Option[String] = {
    val next = new org.apache.hadoop.fs.Path(idx.dir, DeletesNextDir)
    val cur = new org.apache.hadoop.fs.Path(idx.dir, DeletesDir)
    val fs = hadoopFs(s, next)
    if (fs.exists(next)) Some(next.toString)
    else if (fs.exists(cur)) Some(cur.toString)
    else None
  }

  /** Finish a tombstone rewrite a crash may have left half-swapped:
    * `_deletes.next`, when present, is complete and newer — remove the
    * stale `_deletes` and rename it into place. Writer-side only (the
    * single-writer maintenance/ingest contract every mutation path here
    * already assumes); readers never mutate, they just prefer `.next`.
    */
  private def promoteDeletesSwap(s: SparkSession, idx: IvfIndex): Unit = {
    val next = new org.apache.hadoop.fs.Path(idx.dir, DeletesNextDir)
    val cur = new org.apache.hadoop.fs.Path(idx.dir, DeletesDir)
    val fs = hadoopFs(s, next)
    if (fs.exists(next)) {
      fs.delete(cur, true)
      fs.rename(next, cur)
      ()
    }
  }

  /** Re-ingest WINS over a pending tombstone — the defined semantics for
    * the CDC-shaped sequence delete(id) → ingest(id) between
    * compactions (formerly documented "undefined", which in practice
    * meant the anti-join silently kept hiding the re-ingested live row):
    * appending a batch clears any tombstone covering one of its ids, so
    * the re-ingested row serves immediately. Returns how many
    * tombstones were cleared.
    *
    * The driver-side collect of the SURVIVING set is bounded by the
    * existing contract: the between-compactions tombstone set is
    * ingest-batch-class (it already broadcasts at serve time in
    * [[indexData]]); a tombstone volume that outgrows that is the
    * signal to compact, not to stream on. Crash-safety: the new set is
    * written complete into `_deletes.next` before the old dir is
    * dropped ([[DeletesNextDir]]); every window either keeps the OLD
    * set (re-clear happens on epoch replay) or serves the NEW complete
    * set — never a partial one.
    */
  private def clearTombstones(s: SparkSession, idx: IvfIndex,
      ids: DataFrame): Long = {
    promoteDeletesSwap(s, idx)
    val cur = new org.apache.hadoop.fs.Path(idx.dir, DeletesDir)
    val fs = hadoopFs(s, cur)
    if (!fs.exists(cur)) return 0L
    val dels = s.read.parquet(cur.toString)
      .select(col("vec_id")).distinct()
    val idSet = ids.select(col("vec_id").cast("long").as("vec_id"))
      .distinct()
    val hit = dels.join(broadcast(idSet), Seq("vec_id"), "left_semi").count()
    if (hit == 0L) return 0L
    // bounded collect: the tombstone set is broadcast-class by contract
    val surviving = dels.join(broadcast(idSet), Seq("vec_id"), "left_anti")
      .collect().map(_.getLong(0)).sorted
    if (surviving.isEmpty) fs.delete(cur, true)
    else {
      import s.implicits._
      val next = new org.apache.hadoop.fs.Path(idx.dir, DeletesNextDir)
      surviving.toSeq.toDF("vec_id").coalesce(1)
        .write.mode("overwrite").parquet(next.toString)
      promoteDeletesSwap(s, idx)
    }
    hit
  }

  /** Logical DELETE from the index — the CDC-shaped other half of
    * [[appendToIndex]]: deleted vec_ids land as an appended tombstone
    * file under `_deletes/`, never touching a data file (an in-place
    * data rewrite would race concurrent readers AND cost a corpus pass
    * for a batch-sized delete). Serving subtracts tombstones through
    * [[indexData]]; [[compactIndex]] applies them PHYSICALLY into the
    * next generation, after which the tombstone set is empty again.
    * Deletes are idempotent (anti-join semantics — tombstoning an id
    * twice, or an id that was never indexed, is a no-op) and win over
    * the row until the id is RE-INGESTED or compacted: delete → ingest
    * of the same id resolves re-ingest-wins (the append clears the
    * covering tombstone — [[appendToIndexIdempotent]] /
    * [[appendToIndex]]), the CDC-natural "latest operation wins" order;
    * ingest → delete hides the row as usual. Single-writer sequencing
    * (one maintenance/ingest job mutates an index generation at a time)
    * is what makes that order well-defined — the same contract every
    * mutation path here already assumes. The tombstone set between
    * compactions is assumed ingest-batch-class (it broadcasts at serve
    * time) — a delete volume that outgrows broadcast IS the signal to
    * compact.
    */
  def deleteFromIndex(s: SparkSession, idx: IvfIndex, ids: DataFrame)
      : Unit = {
    // finish any half-swapped tombstone rewrite first: appending into
    // `_deletes` while a completed `_deletes.next` still shadows it
    // would hide THIS delete from every reader
    promoteDeletesSwap(s, idx)
    ids.select(col("vec_id").cast("long").as("vec_id"))
      .write.mode("append").parquet(s"${idx.dir}/$DeletesDir")
  }

  /** Session-memoized RAW read of the index data. The DataFrame's
    * FileIndex holds the partition LISTING, and at decade geometry that
    * listing is the dominant serving cost — measured at the
    * 2M-vector/10,000-cell decade: 15–17 s PER `spark.read.parquet`
    * call (driver-side directory walk + partition inference, NOT
    * warmed by repetition) vs 0.2 s for the probed scan it feeds. A
    * fresh read per query re-paid it every time; the memo amortizes it
    * across the session, and every DATA-file writer in this file drops
    * it ([[invalidateIndexRead]]) so a single-writer session never
    * serves a stale listing. Tombstone writes don't touch it — the
    * delete set is read fresh per query in [[indexData]] (its dir is
    * one small file; the listing cost lives in the 10⁴ cell dirs).
    * Cross-PROCESS mutation keeps the existing generation contract:
    * appends become visible to other sessions on their next open —
    * the same eventual visibility the file-source append documents
    * (pinned by CrossProcessSpec's forked-append test).
    *
    * COLD sessions plan from the commit-time [[CellManifest]] when one
    * exists (explicit leaf files + stored schema — no tree walk, no
    * footer/partition inference), falling back to the walking read for
    * legacy dirs; every writer keeps the manifest in step, so the two
    * paths list the same files (ManifestSpec).
    *
    * The memo is VERSIONED on the manifest's file status
    * ([[CellManifest.stateToken]] → [[SessionCache.memoVersioned]]):
    * a sibling PROCESS's committed append republishes the manifest, so
    * an open session re-plans from the new listing at its very next
    * query — one driver-side getFileStatus pair per query construction
    * instead of generation-scoped staleness until newSession()
    * (CrossProcessSpec pins both the old next-session path for
    * manifest-less dirs and this same-session path). Decade cold/steady
    * serving is unchanged: the token stat is microseconds against the
    * 3.3 s cold open it protects.
    */
  private def indexRead(s: SparkSession, idx: IvfIndex): DataFrame =
    SessionCache.memoVersioned(s, s"ivfIndexRead#${idx.dir}",
      CellManifest.stateToken(s, idx.dir) + "|" +
        DeltaTier.token(s, idx.dir), {
        val base = CellManifest.readAsDf(s, idx.dir)
          .getOrElse(s.read.parquet(idx.dir))
        DeltaTier.read(s, idx.dir)
          .map(d => base.unionByName(d.select(base.columns.map(col)
            .toSeq: _*)))
          .getOrElse(base)
      })

  private def invalidateIndexRead(s: SparkSession, dir: String): Unit =
    SessionCache.drop[DataFrame](s, s"ivfIndexRead#$dir")

  /** The PHYSICAL rows of an index dir — base tier ∪ delta tier, read
    * fresh with no tombstone subtraction (the maintenance/verification
    * view: conservation asserts, codes re-encode; serving goes through
    * [[indexData]]). A bare `spark.read.parquet(dir)` misses the
    * `_`-prefixed delta tier, so every consumer that means "everything
    * the appends landed" must come through here.
    *
    * The base tier plans from the commit-time [[CellManifest]] when one
    * exists, exactly like the serving read: a bare `read.parquet` pays
    * the decade's 15 s partition-inference tree walk PER CALL, and the
    * maintenance/verification consumers (conservation counts, codes
    * re-encode, compaction) call this repeatedly between generations.
    * The listing source is manifest-vs-walk only — row contents still
    * come from the parquet files, and ManifestSpec pins manifest ==
    * tree for every writer. Fresh (unmemoized) on purpose: these are
    * verification surfaces.
    */
  def physicalRows(s: SparkSession, dir: String): DataFrame = {
    val base = CellManifest.readAsDf(s, dir)
      .getOrElse(s.read.parquet(dir))
    DeltaTier.read(s, dir)
      .map(d => base.unionByName(d.select(base.columns.map(col)
        .toSeq: _*)))
      .getOrElse(base)
  }

  /** The tombstone set, materialized DRIVER-SIDE at query-build time —
    * bounded by the existing contract (between-compactions tombstones
    * are broadcast-class; they were already collected into a broadcast
    * at execution time, this only moves the same tiny read earlier).
    * Materializing eagerly is what makes the read safe under a
    * concurrent [[promoteDeletesSwap]]: a lazy scan could plan against
    * `_deletes` and execute after the writer deleted it (rewrite swap:
    * delete cur, rename next over it) — FileNotFound despite the
    * resolved path having existed. Here the scan runs immediately, and
    * a swap racing it gets ONE re-resolution: the swap is
    * delete-then-rename, so the second resolution sees either the
    * renamed complete set or no set at all (fully cleared) — never a
    * partial one. A second consecutive failure propagates (fail loud:
    * two failures can't be one swap window).
    */
  private[graft] def liveDeleteIds(s: SparkSession, idx: IvfIndex)
      : Option[Array[Long]] = {
    def readOnce(p: String): Array[Long] =
      s.read.parquet(p).select(col("vec_id")).distinct()
        .collect().map(_.getLong(0))
    // session memo VERSIONED on the tombstone dirs' file statuses: the
    // broadcast-class set was re-read as a Spark job at EVERY query
    // build (~0.2 s of the delete gate's sf0.1 window — a fixed
    // scheduling floor for one tiny file). Any tombstone write/clear
    // changes the token (file set, lengths, mtimes of `_deletes` and
    // `_deletes.next`), so deletes stay immediately visible — the
    // bounded-staleness contract is unchanged, only the redundant
    // same-state re-read is gone.
    SessionCache.memoVersioned(s, s"liveDeleteIds#${idx.dir}",
      deletesToken(s, idx), {
        liveDeletesPath(s, idx).map { p =>
          try readOnce(p)
          catch {
            case scala.util.control.NonFatal(_) =>
              liveDeletesPath(s, idx).map(readOnce)
                .getOrElse(Array.empty[Long])
          }
        }.filter(_.nonEmpty)
      })
  }

  /** Commit-state fingerprint of the tombstone set — one driver-side
    * listStatus per dir (microseconds against the Spark job it
    * replaces), covering both the live dir and a pending rewrite.
    */
  private def deletesToken(s: SparkSession, idx: IvfIndex): String = {
    def tok(name: String): String = {
      val p = new org.apache.hadoop.fs.Path(idx.dir, name)
      val fs = hadoopFs(s, p)
      scala.util.Try(fs.listStatus(p).map(st =>
        s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
        .sorted.mkString(",")).getOrElse("-")
    }
    tok(DeletesDir) + "|" + tok(DeletesNextDir)
  }

  /** The index's LIVE rows: the at-rest cell-partitioned data minus any
    * tombstoned vec_ids. This is THE read path every serving consumer
    * uses (probe queries, the semantic-dedup family): with no deletes
    * it is exactly the bare scan (no join in the plan at all), and with
    * deletes it adds one broadcast anti-join — cell partition-pruning
    * still reaches the scan because the probe filter pushes below the
    * join. The tombstone set is resolved + read fresh at every query
    * build (deletes stay immediately visible) through [[liveDeleteIds]],
    * which is what keeps the read safe under a concurrent tombstone
    * rewrite.
    */
  def indexData(s: SparkSession, idx: IvfIndex): DataFrame = {
    val data = indexRead(s, idx)
    liveDeleteIds(s, idx) match {
      case None => data
      case Some(ids) =>
        import s.implicits._
        data.join(broadcast(ids.toSeq.toDF("vec_id")),
          Seq("vec_id"), "left_anti")
    }
  }

  /** Maintenance compaction for an appended index — the layout half of
    * the ingest contract: every append lands a cell-sorted epoch file in
    * the DELTA tier, so after F epochs a probe scans F delta files
    * besides its pruned base cells and the at-rest shape drifts from
    * the one-file-per-cell layout the build buys. Compaction FOLDS the
    * delta tier into the new generation's partitioned base and rewrites
    * the DATA — rows, `soft_cells`, assignments carried verbatim; no
    * retrain, no re-assignment, a pure layout move — into `dstDir` with
    * the build's repartition(cell) shape, copies the centroids, and
    * commits with the ready marker (this is exactly where the
    * per-epoch single-file writes pay their deferred partitioned
    * write, amortized over the generation — the LSM contract).
    *
    * It writes a NEW generation instead of rewriting `idx.dir` in place:
    * an in-place overwrite would delete files under a concurrent
    * reader's planned scan, exactly the race the pinned-dir build lock
    * exists to prevent. The caller swaps serving to the returned index
    * (re-point `spark.graft.ann.indexDir` / restart the serving session) and
    * then retires the old dir — the generation contract every external
    * vector index has. Cost is one index-sized shuffle, so schedule it
    * when appended-file count (not time) says so; the append → compact
    * lifecycle per decade is measured in `bench/append_decade_r10.json`.
    */
  def compactIndex(s: SparkSession, idx: IvfIndex, dstDir: String)
      : IvfIndex = {
    // phase walls on stderr when `spark.graft.maintenance.timing` is set
    // (the ingest-timing precedent, applied to the maintenance window:
    // the churn rehearsal's 62.6 s compaction block was unattributable
    // from the one aggregate number)
    val timing = scala.util.Try(
      s.conf.get("spark.graft.maintenance.timing")).toOption
      .contains("true")
    def timed[T](label: String)(f: => T): T =
      if (!timing) f
      else {
        val t0 = System.nanoTime()
        val r = f
        System.err.println(
          f"[maint-timing] compact/$label ${(System.nanoTime() - t0) / 1e9}%.1f s")
        r
      }
    // LIVE rows only: compaction is where tombstones are applied
    // physically — the new generation starts with an empty delete set
    val live = indexData(s, idx)
      .select(col("vec_id"), col("label"), col("vec"),
        col("soft_cells"), col("cell"))
    // An all-tombstoned index (a plausible takedown/retention end state)
    // must NOT commit: a partitioned write of zero rows emits zero data
    // files, so the generation would carry a ready marker for a dir
    // every data read fails on (parquet schema inference) — a marker
    // claiming servable for something that is not. Refuse with the fix
    // in the message; full erasure is "delete the index dir", not a
    // generation swap.
    timed("empty_check") {
      require(!live.isEmpty,
        s"index at ${idx.dir} has no live rows (every row tombstoned) — " +
          "an empty generation is not servable; delete the index dir " +
          "and rebuild when data returns instead of compacting")
    }
    timed("fold_write") {
      live
        .repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(dstDir)
    }
    invalidateIndexRead(s, dstDir)
    val out = timed("commit_meta")(commitIndexMeta(s, dstDir, idx.cents))
    // a committed codes generation rides the swap: codes are per-vec_id
    // and compaction changes neither vectors nor cells, so carrying
    // them (minus tombstones) is a pure m-bytes/row layout move — ~32×
    // less IO than the wholesale re-encode the new generation would
    // otherwise pay on first composed query. Committed AFTER the data
    // marker under its own marker: a crash here leaves a servable data
    // generation whose codes rebuild on demand.
    timed("carry_codes")(Pq.carryCodesInto(s, idx, out))
    out
  }

  /** The append gate's fixture index, once per (session, scale dir):
    * build on the even-vec_id half, append the odd half — the
    * continuous-ingest shape, on a temp dir so pinned production indexes
    * are never touched. Training sees only the base half (exactly the
    * deployed timeline: the batch arrives AFTER the index exists).
    */
  private[graft] def appendedIndex(s: SparkSession, d: String): IvfIndex =
    SessionCache.memo(s, "ivfAppendIdx#" + d, {
      val t = java.nio.file.Files
        .createTempDirectory("graft-ivf-append-").toString
      registerTempIndexDir(t)
      val ev = embeddings(s, d)
      val idx = buildFrom(s,
        ev.filter(col("vec_id") % 2 === 0)
          .select(col("vec_id"), col("label"),
            asDouble(col("embedding")).as("vec")),
        cellCount(s, d), t)
      appendToIndex(s, idx, ev.filter(col("vec_id") % 2 === 1))
      idx
    })

  /** The delete gate's fixture index, once per (session, scale dir):
    * build on the WHOLE corpus, then tombstone the odd-vec_id half —
    * the retention/takedown shape (GDPR erasure, license revocation,
    * corpus pruning), on a temp dir so pinned production indexes are
    * never touched. Serving must behave as if the odd half never
    * existed, while the data files still physically contain it until
    * compaction.
    */
  private[graft] def deletedIndex(s: SparkSession, d: String): IvfIndex =
    SessionCache.memo(s, "ivfDeleteIdx#" + d, {
      val t = java.nio.file.Files
        .createTempDirectory("graft-ivf-delete-").toString
      registerTempIndexDir(t)
      val ev = embeddings(s, d)
      val idx = buildFrom(s,
        ev.select(col("vec_id"), col("label"),
          asDouble(col("embedding")).as("vec")),
        cellCount(s, d), t)
      deleteFromIndex(s, idx, ev.filter(col("vec_id") % 2 === 1))
      idx
    })

  val queries: Map[String, Q] = Map(
    // IVF top-20 for the vec_id=0 query against the prebuilt index: rank
    // cells driver-side, scan only the Nprobe nearest cells' files
    // (partition pruning), exact-cosine re-rank. Approximate by design —
    // recall@20 ≥ 0.9 vs brute force is asserted in DedupAnnSpec; rows
    // where the probe misses the true neighbor differ from sim_cosine_topk.
    "ann_ivf_topk" -> ((s, d) => {
      val idx = ivfIndex(s, d)
      val qv = embeddings(s, d).filter(col("vec_id") === 0)
        .select(asDouble(col("embedding"))).first().getSeq[Double](0)
      val probed = idx.probeCells(qv, nprobeOf(s, d))
      indexData(s, idx)
        .filter(col("cell").isin(probed: _*))
        .withColumn("sim", round(
          SimilarityOps.cosine(col("vec"), typedlit(qv)), 4))
        .select(col("vec_id"), col("label"), col("sim"))
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(20)
    }),

    // Batched IVF serving: N query vectors against the SAME prebuilt
    // index in one job — the index amortizes across the batch exactly as
    // it does across time. Per-query cell ranking happens driver-side
    // over k centroid rows (tiny); the index is scanned ONCE over the
    // UNION of all probed cells (partition pruning still applies), each
    // base row is scored only against the queries that probed its cell,
    // and per-query results go through the k-bounded TopK aggregator —
    // never a per-qid window funnel (the sim_batch_topk lesson). The
    // brute-force oracle-gated twin is sim_batch_topk; this is its
    // approximate scale path, recall-gated in DedupAnnSpec.
    "ann_ivf_batch" -> ((s, d) => {
      val idx = ivfIndex(s, d)
      val qvs = embeddings(s, d).filter(col("vec_id") < 3)
        .select(col("vec_id"), asDouble(col("embedding")).as("qv"))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toSeq))
      val probes = qvs.map { case (q, v) =>
        (q, v, idx.probeCells(v, nprobeOf(s, d)))
      }
      val allCells = probes.flatMap(_._3).distinct
      val qlit = array(probes.map { case (q, v, cells) =>
        struct(lit(q).as("qid"), typedlit(v).as("qv"),
          typedlit(cells).as("cells"))
      }: _*)
      indexData(s, idx)
        .filter(col("cell").isin(allCells: _*))
        .select(col("vec_id"), col("cell"), col("vec"),
          explode(qlit).as("q"))
        .filter(array_contains(col("q.cells"), col("cell")))
        .select(col("q.qid").as("qid"), col("vec_id"),
          round(SimilarityOps.cosine(col("vec"), col("q.qv")), 4).as("sim"))
        .groupBy(col("qid"))
        .agg(graft.functions.TopK.topK(5)(col("sim"), col("vec_id")).as("top"))
        .select(col("qid"), posexplode(col("top")).as(Seq("p", "t")))
        .select(col("qid"), (col("p") + 1).cast("int").as("rk"),
          col("t.vec_id").as("vec_id"), col("t.sim").as("sim"))
        .orderBy(col("qid"), col("rk"))
    }),

    // EXACT-MODE twin of ann_ivf_topk: the identical IVF serving path —
    // memoized index, driver-side cell ranking, partition-pruned probe
    // scan, cosine re-rank — with nprobe pinned to the FULL cell count,
    // where IVF is exact by construction (every cell probed → the
    // candidate set is the whole corpus). This hash-gates the entire
    // probe machinery against the brute-force SQL oracle, reducing the
    // production entry's approximation to ONE variable: which cells the
    // default probes — and that is what RecallCheck/DedupAnnSpec
    // measure. Oracle = sim_cosine_topk's, verbatim (same output
    // contract by design).
    "ann_ivf_exact_topk" -> ((s, d) => {
      val idx = ivfIndex(s, d)
      val qv = embeddings(s, d).filter(col("vec_id") === 0)
        .select(asDouble(col("embedding"))).first().getSeq[Double](0)
      val probed = idx.probeCells(qv, idx.cents.length)
      indexData(s, idx)
        .filter(col("cell").isin(probed: _*))
        .withColumn("sim", round(
          SimilarityOps.cosine(col("vec"), typedlit(qv)), 4))
        .select(col("vec_id"), col("label"), col("sim"))
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(20)
    }),

    // EXACT-MODE twin of ann_ivf_batch, same device: all cells probed →
    // the batched union-scan, per-cell query routing, and k-bounded TopK
    // merge are hash-gated against sim_batch_topk's brute-force oracle.
    "ann_ivf_exact_batch" -> ((s, d) => {
      val idx = ivfIndex(s, d)
      val qvs = embeddings(s, d).filter(col("vec_id") < 3)
        .select(col("vec_id"), asDouble(col("embedding")).as("qv"))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toSeq))
      val probes = qvs.map { case (q, v) =>
        (q, v, idx.probeCells(v, idx.cents.length))
      }
      val allCells = probes.flatMap(_._3).distinct
      val qlit = array(probes.map { case (q, v, cells) =>
        struct(lit(q).as("qid"), typedlit(v).as("qv"),
          typedlit(cells).as("cells"))
      }: _*)
      indexData(s, idx)
        .filter(col("cell").isin(allCells: _*))
        .select(col("vec_id"), col("cell"), col("vec"),
          explode(qlit).as("q"))
        .filter(array_contains(col("q.cells"), col("cell")))
        .select(col("q.qid").as("qid"), col("vec_id"),
          round(SimilarityOps.cosine(col("vec"), col("q.qv")), 4).as("sim"))
        .groupBy(col("qid"))
        .agg(graft.functions.TopK.topK(5)(col("sim"), col("vec_id")).as("top"))
        .select(col("qid"), posexplode(col("top")).as(Seq("p", "t")))
        .select(col("qid"), (col("p") + 1).cast("int").as("rk"),
          col("t.vec_id").as("vec_id"), col("t.sim").as("sim"))
        .orderBy(col("qid"), col("rk"))
    }),

    // GATE for the incremental-ingest path ([[appendToIndex]]): build
    // the index on the even-vec_id half only, append the odd half with
    // centroids frozen, then serve through the identical full-probe
    // path — where IVF is exact, so the result must BE the brute-force
    // top-20 over the WHOLE corpus. Hash-gated against sim_cosine_topk's
    // oracle verbatim: a dropped batch row, a mis-assigned cell, or an
    // append that clobbered base files all surface as a hash mismatch.
    // The default-probe recall floor on the appended index is
    // AnnAppendSpec's half.
    "ann_ivf_append_gate" -> ((s, d) => {
      val idx = appendedIndex(s, d)
      val qv = embeddings(s, d).filter(col("vec_id") === 0)
        .select(asDouble(col("embedding"))).first().getSeq[Double](0)
      val probed = idx.probeCells(qv, idx.cents.length)
      indexData(s, idx)
        .filter(col("cell").isin(probed: _*))
        .withColumn("sim", round(
          SimilarityOps.cosine(col("vec"), typedlit(qv)), 4))
        .select(col("vec_id"), col("label"), col("sim"))
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(20)
    }),

    // GATE for the tombstone-delete path ([[deleteFromIndex]] +
    // [[indexData]]): index the whole corpus, tombstone the odd half,
    // serve full-probe — exact there — so the result must BE the
    // brute-force top-20 over the SURVIVING (even) half. Hash-gated
    // against a restricted brute-force oracle: a tombstone that leaks
    // into serving, an anti-join that drops a survivor, or a probe
    // filter that stops pruning all surface as a hash mismatch. The
    // physical-apply half (compaction erases tombstoned rows from the
    // next generation's files) is AnnDeleteSpec's.
    "ann_ivf_delete_gate" -> ((s, d) => {
      val idx = deletedIndex(s, d)
      val qv = embeddings(s, d).filter(col("vec_id") === 0)
        .select(asDouble(col("embedding"))).first().getSeq[Double](0)
      val probed = idx.probeCells(qv, idx.cents.length)
      indexData(s, idx)
        .filter(col("cell").isin(probed: _*))
        .withColumn("sim", round(
          SimilarityOps.cosine(col("vec"), typedlit(qv)), 4))
        .select(col("vec_id"), col("label"), col("sim"))
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(20)
    }),
  )

  /** The production `ann_ivf_*` entries stay approximate — no exact SQL
    * twins (driver rows-only; DedupAnnSpec + RecallCheck gate recall).
    * Their `_exact` twins probe every cell, where IVF is exact, and
    * share the brute-force oracles with the SimilarityOps baselines —
    * deliberately the SAME SQL text: the twins' output contract is
    * "identical to brute force".
    */
  val oracles: Map[String, String] = Map(
    "ann_ivf_exact_topk" -> SimilarityOps.oracles("sim_cosine_topk"),
    "ann_ivf_exact_batch" -> SimilarityOps.oracles("sim_batch_topk"),
    // append + full probe is exact over base ∪ batch = the whole corpus,
    // so the brute-force oracle gates the ingest path bit-for-bit
    "ann_ivf_append_gate" -> SimilarityOps.oracles("sim_cosine_topk"),
    // delete + full probe is exact over corpus ∖ tombstones = the even
    // half, so the RESTRICTED brute-force oracle gates the tombstone
    // path bit-for-bit (the query vector is vec_id=0 — even, surviving)
    "ann_ivf_delete_gate" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
                    FROM embeddings WHERE vec_id = 0)
         SELECT vec_id, label,
           round(list_sum(list_transform(list_zip(CAST(embedding AS DOUBLE[]), qv),
                   p -> p[1] * p[2]))
             / (sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x*x)))
                * sqrt(list_sum(list_transform(qv, x -> x*x)))), 4) AS sim
         FROM embeddings, q
         WHERE vec_id % 2 = 0
         ORDER BY sim DESC, vec_id LIMIT 20""",
  )
}
