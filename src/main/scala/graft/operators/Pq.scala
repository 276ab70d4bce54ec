package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables._

/** Product-quantized similarity search — the embedding STORAGE+SCAN
  * answer at 100 TB, one notch past int8: instead of 4× (one tinyint
  * per coordinate), PQ stores `m` CODES per vector (`4·dim/m`× smaller
  * than float32 at rest — 16× at the default m=16, dim=64; see
  * [[SubspacesMax]] for the measured recall-per-byte rationale behind
  * the default), each code naming the nearest
  * entry of a per-subspace 256-way codebook trained offline by k-means
  * (the FAISS `PQ8` shape; see Jégou et al., "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011).
  *
  * Serving is the canonical two-stage shape:
  *   1. **ADC scan** over the codes table: the query builds one flat
  *      m·ks lookup table of per-subspace dot products (256·dim flops,
  *      driver-side, per query — ~2 KB broadcast), and every stored
  *      vector scores in m ARRAY READS
  *      ([[graft.functions.PqExprs.PqAdcDot]], codegen'd) — a
  *      TakeOrderedAndProject keeps the top-[[Shortlist]] per partition,
  *      so the stage is one narrow scan of m-byte rows, no shuffle.
  *   2. **Exact re-rank**: the shortlist (vec_id only) broadcasts back
  *      against the full-precision table; survivors get the EXACT
  *      rounded cosine of `sim_cosine_topk` — so every similarity the
  *      query PUBLISHES is exact, and the only approximation left is
  *      recall (a true neighbor the ADC scan ranked below the
  *      shortlist cut). `sim_pq_topk_gate` states both properties as
  *      DuckDB-checkable booleans: top-20 overlap vs the exact query
  *      ≥ 18, and max |sim − sim_exact| on the overlap == 0.
  *
  * At 100 TB: codes are ~3 TB (scan stage 1 reads nothing else), the
  * re-rank touches [[Shortlist]] full vectors per query, and the
  * codebook tensor is m·ks·dsub = 256·dim doubles (~130 KB at dim=64)
  * — maintenance-sized, like the IVF centroids. The natural composition
  * with [[Ann]]'s cell-partitioned index (scan only the probed cells'
  * codes — IVF-PQ) needs no new kernels: PqAdcDot is indifferent to
  * which rows it scans.
  *
  * Maintenance vs serving: codebook training + corpus encoding is the
  * index-build class of work ([[buildCodes]]); [[graft.Bench]]
  * pre-builds it and reports `pq_code_build` as its own metric, the
  * ann_index_build / pair_table_build precedent.
  *
  * Training determinism: the sample is hash-mod COUNT-bounded exactly
  * like [[Ann]]'s ([[Ann.SampleTarget]] rationale), k-means runs
  * [[Ann.kmeansLocal]] per subspace (sorted-id init, fixed iterations,
  * sequential accumulation), so codebooks — and therefore codes, ADC
  * scores and the published rows — are deterministic for a given
  * corpus.
  */
object Pq {
  type Q = (SparkSession, String) => DataFrame

  /** Codebook entries per subspace — one byte per code ([[CodebookSize]]
    * ≤ 256 is load-bearing: [[graft.functions.PqExprs.PqEncode]] stores
    * codes as unsigned bytes). Corpora smaller than this train one
    * centroid per sample vector instead (kmeansLocal's k-cap).
    */
  val CodebookSize = 256

  /** Default upper bound on subspace count; the actual m is the largest
    * divisor of dim ≤ the session's cap ([[subspacesOf]]), so dim=64 →
    * 16 subspaces of 4 dims at the default.
    *
    * RAISED 8 → 16 (round 13) on the recall-per-byte measurement: at
    * the 2M-vector clustered decade, 8-byte codes sit below the
    * within-cluster cosine gaps — recall@20 = 0.20 at shortlist 200,
    * reaching 1.00 only at 64,000 (3.2% of the corpus,
    * `bench/pq_recall_r11_2m.json`), which makes the composed IVF-PQ
    * serve re-rank a corpus-fractional shortlist and lose to plain IVF.
    * Doubling m HALVES each subspace (4 dims quantized by 256 entries —
    * far finer cells) at almost no compute cost: encode flops are
    * ks·dim regardless of m, the per-query LUT build is ks·dim
    * regardless of m, and the ADC scan pays m array reads per row (16
    * vs 8). The at-rest price is codes of 16 bytes instead of 8 — still
    * 16× under float32 at dim 64 — bought back many times over by the
    * shortlist the measured sweep licenses (see
    * `bench/pq_recall_r13_2m_m16.json`). Deployments wanting the old
    * 32× at-rest ratio (or finer 32-subspace codes) set
    * `spark.graft.pq.m`; committed codes generations are unaffected —
    * they serve with their persisted `_books` sidecar geometry.
    */
  val SubspacesMax = 16

  /** The session's subspace cap, in precedence order: an explicit
    * `spark.graft.pq.m` (a BUILD-time knob — committed generations keep
    * the geometry their `_books` sidecar records); the calibration
    * artifact's MEASURED m ([[graft.tools.PqRecallSweep]]'s sweep —
    * corpus-aware when the caller can supply the serving corpus size
    * `n`, else the artifact's own `chosen_m`); else [[SubspacesMax]].
    * Geometry, not width, is the scale lever: the driver-side shortlist
    * is corpus-FRACTIONAL at fixed recall, so as the corpus grows past
    * the swept size the projected shortlist must be re-bounded by
    * moving to a finer m (round-14 verdict task 6).
    */
  private[graft] def subspacesCap(s: SparkSession,
      n: Option[Long] = None): Int = {
    val cap = s.conf.getOption("spark.graft.pq.m").map(_.toInt)
      .orElse(calibratedMOf(s, n))
      .getOrElse(SubspacesMax)
    require(cap >= 1, s"spark.graft.pq.m must be ≥ 1, got $cap")
    cap
  }

  /** Ceiling for the projected driver-side ADC shortlist when the
    * corpus-aware m-selection runs (`spark.graft.pq.maxShortlistRows`,
    * default 65536 — the [[Ann.DriverTrainCap]] class of driver-object
    * bound: ~a few MB of (vec_id, cell) rows).
    */
  private def maxShortlistRows(s: SparkSession): Long =
    s.conf.getOption("spark.graft.pq.maxShortlistRows").map(_.toLong)
      .getOrElse(65536L)

  /** The calibration artifact's m, if the artifact is readable and
    * carries one (a pre-round-14 artifact doesn't — soft None keeps
    * those serving their swept width at the default geometry; the LOUD
    * mis-pointed-path failure stays [[shortlistWidth]]'s).
    *
    * CORPUS-AWARE when `n` (the serving corpus size) is supplied and
    * the artifact carries the round-14 `per_m` table + its swept
    * `n_vectors`: each measured geometry's knee WIDTH is a corpus
    * FRACTION at fixed recall, so project `knee/n_vectors · n` onto the
    * serving corpus and pick the SMALLEST m whose projected shortlist
    * stays under [[maxShortlistRows]] (coarser codes are cheaper at
    * rest; finer ones exist exactly for when the fraction outgrows the
    * driver bound) — falling back to the finest swept m when none fits,
    * and to the artifact's own `chosen_m` when `n` is unknown or the
    * artifact predates `per_m`. Session-memoized per (path, mtime, n,
    * bound).
    */
  private def calibratedMOf(s: SparkSession, n: Option[Long])
      : Option[Int] =
    s.conf.getOption("spark.graft.pq.shortlistCalibration")
      .flatMap { path =>
        val p = new org.apache.hadoop.fs.Path(path)
        val mtime = scala.util.Try(
          p.getFileSystem(s.sparkContext.hadoopConfiguration)
            .getFileStatus(p).getModificationTime).getOrElse(0L)
        val bound = maxShortlistRows(s)
        SessionCache.memo(s,
          s"pqCalM#$path#$mtime#${n.getOrElse(-1L)}#$bound",
          scala.util.Try {
            val r = s.read.option("multiLine", "true").json(path)
            val cols = r.columns.toSet
            val chosen =
              if (!cols.contains("chosen_m")) None
              else {
                val rows = r.select(col("chosen_m").cast("int")).collect()
                if (rows.isEmpty || rows(0).isNullAt(0)) None
                else Some(rows(0).getInt(0))
              }
            val byCorpus =
              if (n.isEmpty || !cols.contains("per_m") ||
                  !cols.contains("n_vectors")) None
              else scala.util.Try {
                val nv = r.select(col("n_vectors").cast("long"))
                  .first().getLong(0)
                // the sweep's own relative rule still applies (its
                // chosen_m honored it at the swept corpus); the
                // absolute bound is the NEW constraint that bites as
                // the corpus outgrows the sweep
                val targetFrac =
                  if (!cols.contains("target_fraction")) Double.MaxValue
                  else {
                    val tf = r.select(
                      col("target_fraction").cast("double")).first()
                    if (tf.isNullAt(0)) Double.MaxValue else tf.getDouble(0)
                  }
                val perM = r.select(explode(col("per_m")).as("p"))
                  .select(col("p.m").cast("int").as("m"),
                    col("p.knee_width").cast("long").as("knee"))
                  .collect()
                  .flatMap(row =>
                    if (row.isNullAt(1)) None
                    else Some((row.getInt(0), row.getLong(1))))
                  .sortBy(_._1)
                if (nv <= 0 || perM.isEmpty) None
                else {
                  val projected = perM.map { case (m, knee) =>
                    (m, knee.toDouble / nv,
                      math.ceil(knee.toDouble / nv * n.get).toLong)
                  }
                  projected
                    .find(p2 => p2._2 <= targetFrac && p2._3 <= bound)
                    .map(_._1)
                    .orElse(Some(projected
                      .minBy(p2 => (p2._3, p2._1))._1))
                }
              }.toOption.flatten
            byCorpus.orElse(chosen)
          }.toOption.flatten)
      }

  /** Largest divisor of `dim` ≤ the session's cap (always ≥ 1); pass
    * the serving corpus size `n` where known — the corpus-aware
    * m-selection lever ([[subspacesCap]]).
    */
  def subspacesOf(s: SparkSession, dim: Int,
      n: Option[Long] = None): Int = {
    val cap = subspacesCap(s, n)
    (cap to 1 by -1).find(dim % _ == 0).getOrElse(1)
  }

  /** Training points targeted per codebook entry (so the sample is
    * CodebookSize·TrainPerCode ≈ 16k vectors — a bounded driver collect
    * at any corpus size, the [[Ann.TrainPerCell]] rationale).
    */
  val TrainPerCode = 64L

  /** Default ADC shortlist width feeding the exact re-rank. 10× the
    * published k=20: recall is lost only when a true top-20 neighbor
    * falls below this cut in ADC order. Tunable per session via
    * `spark.graft.pq.shortlist` — the recall/cost lever, like
    * `spark.graft.dedup.semanticProbes` (a wider shortlist re-ranks
    * more full-precision rows; at shortlist ≥ corpus the pipeline is
    * exactly `sim_cosine_topk`, which is how PqSpec pins the re-rank
    * structurally).
    *
    * MEASURED WORST CASE (`bench/pq_recall_r10.json`, ScaleUp's
    * dihedral near-uniform corpora — uniform-on-the-sphere is PQ's
    * documented hard shape, same as IVF's: the true top-20 cosines sit
    * barely above rank-200, so 8-byte ADC error swamps the gaps):
    * recall@20 at 20k vectors 0.80 @200 / 0.95 @1000 / 1.00 @4000; at
    * 200k vectors 0.65 @200 / 0.95 @1000 / 1.00 @16000. The DuckDB
    * gate runs where the default width holds (green at sf0.01 AND
    * sf0.1); past that, recall is the deployment's knob — the re-rank
    * keeps every published similarity exact at ANY width, so widening
    * the shortlist only ever adds rows the scan stage priced at m
    * bytes each.
    */
  val Shortlist = 200

  /** The serving shortlist width: an explicit `spark.graft.pq.shortlist`
    * always wins; otherwise a calibration artifact
    * (`spark.graft.pq.shortlistCalibration` → the JSON
    * [[graft.tools.PqRecallSweep]] writes) picks the SMALLEST swept
    * width whose measured recall@20 clears `spark.graft.pq.recallFloor`
    * (default 0.9) — the semanticProbes-calibration precedent: the
    * knob's default must derive from a measurement of YOUR corpus, not
    * a constant tuned on someone else's. An unreadable artifact or an
    * unreachable floor THROWS — a deployment that tried to replace the
    * static default must never silently get it back.
    */
  private[graft] def shortlistWidth(s: SparkSession,
      m: Option[Int] = None): Int =
    s.conf.getOption("spark.graft.pq.shortlist")
      .map(_.toInt)
      .orElse(calibratedShortlistOf(s, m))
      .getOrElse(Shortlist)

  /** Parse the PqRecallSweep artifact and pick the knee — see
    * [[shortlistWidth]]. Session-memoized per (path, floor, artifact
    * mtime): the artifact is a driver-tiny single JSON object, and
    * folding its modification time into the key means a mid-session
    * re-sweep to the SAME path serves the new width on the next query
    * instead of silently keeping the old one for the session's lifetime
    * (the stale-memo class every index/codes writer here explicitly
    * invalidates — a calibration rewrite deserves the same). Cost: one
    * getFileStatus per query construction, driver-side.
    */
  private def calibratedShortlistOf(s: SparkSession,
      m: Option[Int]): Option[Int] =
    s.conf.getOption("spark.graft.pq.shortlistCalibration")
      .map { path =>
        val floor = s.conf.getOption("spark.graft.pq.recallFloor")
          .map(_.toDouble).getOrElse(0.9)
        val p = new org.apache.hadoop.fs.Path(path)
        // a missing artifact must THROW the contract's named error at
        // read time below, not an opaque FileNotFound here
        val mtime = scala.util.Try(
          p.getFileSystem(s.sparkContext.hadoopConfiguration)
            .getFileStatus(p).getModificationTime).getOrElse(0L)
        SessionCache.memo(s,
          s"pqShortlistCal#$path#$floor#$mtime#${m.getOrElse(-1)}", {
          val art = s.read.option("multiLine", "true").json(path)
          // width follows the GEOMETRY actually serving: when the
          // caller knows its books' m and the artifact carries that m's
          // own sweep (`per_m`, round 14), read the knee from THERE —
          // the top-level sweep belongs to the artifact's chosen_m and
          // lies for any other geometry. Legacy artifacts (no per_m)
          // keep the top-level sweep.
          val perMSweep = m.filter(_ => art.columns.contains("per_m"))
            .flatMap { mm =>
              scala.util.Try {
                val rows = art.select(explode(col("per_m")).as("g"))
                  .filter(col("g.m") === mm)
                  .select(explode(col("g.sweep")).as("p"))
                  .select(col("p.shortlist").cast("int").as("w"),
                    col("p.recall").cast("double").as("r"))
                  .collect()
                if (rows.isEmpty) None
                else Some(rows.map(r => (r.getInt(0), r.getDouble(1))))
              }.toOption.flatten
            }
          val sweep = perMSweep.getOrElse(
            art.select(explode(col("sweep")).as("p"))
              .select(col("p.shortlist").cast("int").as("w"),
                col("p.recall").cast("double").as("r"))
              .collect()
              .map(r => (r.getInt(0), r.getDouble(1))))
            .sortBy(_._1)
          require(sweep.nonEmpty,
            s"calibration artifact $path carries no shortlist sweep")
          val ok = sweep.find(_._2 >= floor)
          require(ok.isDefined,
            s"no swept shortlist in $path reaches recall ≥ $floor " +
              s"(widest: ${sweep.last}) — re-sweep wider or lower the " +
              "floor")
          ok.get._1
        })
      }

  /** Largest divisor of `dim` that is ≤ [[SubspacesMax]] (always ≥ 1) —
    * the default-cap form of [[subspacesOf]].
    */
  def subspaces(dim: Int): Int =
    (SubspacesMax to 1 by -1).find(dim % _ == 0).getOrElse(1)

  private def asDouble(c: Column): Column = transform(c, x => x.cast("double"))

  /** Unit-normalized embeddings (vec_id, label, uvec) — the zero-norm
    * guard of [[Ann.buildInto]]: an all-zero vector stays raw instead of
    * becoming all-NaN.
    */
  /** Unit-normalize an embeddings-shaped frame (vec_id, label,
    * embedding) → (vec_id, label, uvec); zero-norm rows stay raw.
    */
  private[graft] def normedOf(df: DataFrame): DataFrame =
    df
      .select(col("vec_id"), col("label"),
        asDouble(col("embedding")).as("vec"))
      .withColumn("nrm", SimilarityOps.l2norm(col("vec")))
      .select(col("vec_id"), col("label"),
        when(col("nrm") === 0, col("vec"))
          .otherwise(transform(col("vec"), x => x / col("nrm"))).as("uvec"))

  private def normed(s: SparkSession, d: String): DataFrame =
    normedOf(embeddings(s, d))

  /** Train per-subspace codebooks over any (vec_id, …, uvec) frame —
    * the COUNT-bounded hash sample + m in-memory k-means runs of
    * [[codebooks]], factored out so fixture/ingest paths can train on
    * exactly the corpus slice the deployed timeline would have seen
    * (e.g. the pre-append base half). `what` names the frame in the
    * empty-input error.
    */
  private[graft] def trainBooks(base: DataFrame, what: String)
      : Array[Array[Array[Double]]] = {
    val dims = base.agg(min(size(col("uvec"))).as("lo"),
      max(size(col("uvec"))).as("hi")).first()
    require(!dims.isNullAt(0),
      s"PQ codebook training needs a non-empty embeddings table in $what")
    require(dims.getInt(0) == dims.getInt(1),
      s"ragged embedding dims in $what (${dims.getInt(0)}..${dims.getInt(1)})")
    val dim = dims.getInt(0)
    val cnt = base.count()
    // the training frame's size is the serving-corpus signal the
    // corpus-aware m-selection wants (full-corpus callers train on the
    // whole table; fixture slices get the geometry their own size
    // licenses)
    val m = subspacesOf(base.sparkSession, dim, Some(cnt))
    val dsub = dim / m
    val target = CodebookSize * TrainPerCode
    val mod = math.max(1L, cnt / target)
    val sample = base
      .filter(pmod(xxhash64(col("vec_id")), lit(mod)) === 0)
      .select(col("vec_id"), col("uvec")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    Array.tabulate(m) { j =>
      Ann.kmeansLocal(
        sample.map { case (id, v) =>
          (id, java.util.Arrays.copyOfRange(v, j * dsub, (j + 1) * dsub))
        },
        math.min(CodebookSize, sample.length), Ann.Iters)
        .map(_.toArray).toArray
    }
  }

  /** Per-subspace codebooks for a scale dir — `books(j)(c)` is subspace
    * j's c-th centroid. Session-memoized (the [[Ann.ivfIndex]] staleness
    * rationale); one bounded driver collect + m in-memory k-means runs.
    * Fails with a named error on an empty corpus, like IVF training.
    */
  def codebooks(s: SparkSession, d: String): Array[Array[Array[Double]]] =
    SessionCache.memo(s,
      s"pqBooks#$d#m=${subspacesCap(s, Some(Ann.embeddingCount(s, d)))}",
      trainBooks(normed(s, d), d))

  /** The encoded corpus (vec_id, label, codes: array<tinyint>) — the
    * at-rest artifact stage-1 scans. Eagerly materialized once per
    * session (localCheckpoint, the pair-table precedent); in production
    * this is a persisted table maintained beside the corpus.
    */
  def codes(s: SparkSession, d: String): DataFrame =
    SessionCache.getOrElseUpdate(s,
      s"pqCodes#$d#m=${subspacesCap(s, Some(Ann.embeddingCount(s, d)))}", {
      val books = codebooks(s, d)
      normed(s, d)
        .select(col("vec_id"), col("label"),
          graft.functions.PqExprs.pqEncode(col("uvec"), books).as("codes"))
        .localCheckpoint(true)
    })

  /** Explicit maintenance entry ([[Ann.buildIndex]] precedent):
    * [[graft.Bench]] pre-builds through this and reports `pq_code_build`
    * as its own metric, so `sim_pq_*` query times are scan+re-rank only.
    */
  def buildCodes(s: SparkSession, d: String): DataFrame = codes(s, d)

  /** The flat ADC LUT for a unit query vector: lut(j·ks + c) =
    * ⟨q_subⱼ, books(j)(c)⟩. Driver-side, m·ks·dsub = 256·dim flops.
    */
  private[graft] def adcLut(q: Array[Double],
      books: Array[Array[Array[Double]]]): Array[Double] = {
    val m = books.length
    val ks = books(0).length
    val dsub = books(0)(0).length
    require(q.length == m * dsub,
      s"query dim ${q.length} != codebook geometry ${m}x$dsub")
    val lut = new Array[Double](m * ks)
    var j = 0
    while (j < m) {
      var c = 0
      while (c < ks) {
        val cc = books(j)(c)
        var acc = 0.0
        var i = 0
        while (i < dsub) { acc += q(j * dsub + i) * cc(i); i += 1 }
        lut(j * ks + c) = acc
        c += 1
      }
      j += 1
    }
    lut
  }

  /** Marker committed LAST after the cell-partitioned codes write (the
    * [[Ann]] ready-marker discipline: a crash leaves no marker, the next
    * builder overwrites the partial dir; later sessions LOAD).
    */
  private val PqCodesReady = "_GRAFT_PQ_CODES_READY"

  /** IVF-PQ at-rest artifact: the PQ codes of every index row, stored
    * beside the IVF index (`<indexDir>/_pq_codes` — `_`-prefixed, so
    * the index's partition-discovering data read never sees it, the
    * `_centroids` trick), cell-PARTITIONED at big-cell geometry and
    * byte-SHARDED cell-sorted at tiny-cell geometry (see [[ShardsDir]]
    * — the layout derives from measured cell bytes). This is THE 100 TB serving
    * composition the [[Ann]] and PQ halves were built for: a probe
    * ADC-scans ONLY the probed cells' codes (partition pruning on the
    * same `cell` key as the index) at m bytes per row, then
    * exact-re-ranks the shortlist from the full-precision index rows of
    * those same cells — at the deployed geometry that is ~2% of cells ×
    * 4·dim/m× smaller rows (16× at the default geometry) ≈ 1/800th of
    * the corpus bytes per query, with
    * every PUBLISHED similarity still exact.
    *
    * Generation discipline: the codes are encoded from the index's
    * PHYSICAL rows at build time (tombstoned rows may keep stale codes —
    * harmless: the exact re-rank joins through [[Ann.indexData]], the
    * live view, so a tombstoned id can never be published). APPENDED
    * rows are PQ-encoded into the artifact inside the same append
    * commit ([[appendCodes]], called by every [[Ann]] append path), so
    * a freshly ingested vector is servable through the composition the
    * moment its epoch commits — the serve-after-ingest half of the
    * streaming contract. The codebooks persist beside the codes
    * (`_books`) so the append path encodes with EXACTLY the generation's
    * books. Returns the codes dir path.
    */
  def ivfPqCodes(s: SparkSession, d: String): String = {
    val idx = Ann.ivfIndex(s, d)
    SessionCache.memo(s, s"ivfPqCodes#${idx.dir}", {
      val dir = s"${idx.dir}/_pq_codes"
      val marker = new org.apache.hadoop.fs.Path(dir, PqCodesReady)
      val fs = marker.getFileSystem(s.sparkContext.hadoopConfiguration)
      // committed generation → serve it (books load from the sidecar;
      // codebook training happens only when the artifact must be built).
      // A LEGACY generation (marker but no `_books` sidecar) is NOT
      // servable — the serve path would throw loading the sidecar — so
      // mirror appendCodes' handling: drop the marker and rebuild
      // wholesale rather than returning a dir that hard-fails the first
      // composed query.
      if (fs.exists(marker) &&
          fs.exists(new org.apache.hadoop.fs.Path(dir, BooksDir))) dir
      else {
        if (fs.exists(marker)) {
          fs.delete(marker, false)
          SessionCache.drop[DataFrame](s, s"ivfPqCodesRead#$dir")
        }
        buildPqCodesFor(s, idx, codebooks(s, d))
      }
    })
  }

  /** Codebook sidecar inside the codes dir — persisted at build so the
    * append path (and any later session/process) encodes with the
    * generation's exact books, the `_centroids` discipline.
    */
  private val BooksDir = "_books"

  /** Byte-sharded codes BASE layout (round 15) — the knee fix for the
    * composed serve at TINY-cell geometry: a file-per-cell base makes
    * the ADC scan pay one file open per probed cell, and at the 2M
    * decade a cell's codes are ~2.7 KB — the per-file fixed cost, not
    * bytes, was measured as the whole composed-vs-plain knee gap
    * (nprobe=200: composed 0.604 vs plain 0.427 s steady, with
    * fused ≈ two-job ruling out job count — `bench/micro_r14_knee_*`).
    * So when measured/estimated CELL bytes are small against
    * [[codesShardTargetBytes]], the base packs ~target/cellBytes cells
    * per cell-SORTED shard file under `<codesDir>/_shards/` (the
    * [[DeltaTier]] shape applied to the base): probing then filters
    * ROW-LEVEL (the whole base is a few tens of MB at this geometry —
    * under the per-job floor to decode; see [[shardsRead]] for why
    * finer stat pruning measured as a net loss). At 100 TB geometry
    * (GB-sized cells) `cellBytes ≥ target`
    * and the layout stays the partitioned file-per-cell base, where
    * dir-level partition pruning (zero footer opens for unprobed
    * cells) is strictly better — the shard size DERIVES from cell
    * bytes, so the degenerate case is automatic.
    */
  private val ShardsDir = "_shards"

  /** Target bytes per shard file of a sharded codes base —
    * `spark.graft.pq.codesShardBytes` (default 32 MB: tens of MB keeps
    * whole-base file opens in the single digits at the decade while
    * staying far under `maxPartitionBytes`, so a shard never forces an
    * oversized scan task).
    */
  private def codesShardTargetBytes(s: SparkSession): Long =
    s.conf.getOption("spark.graft.pq.codesShardBytes").map(_.toLong)
      .getOrElse(32L * 1024 * 1024)

  private def shardsPathOf(dir: String) =
    new org.apache.hadoop.fs.Path(s"$dir/$ShardsDir")

  private[graft] def isShardedBase(s: SparkSession, dir: String): Boolean = {
    val p = shardsPathOf(dir)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Read the sharded base — one flat listStatus of a handful of
    * files. The serve's `cell IN (probed…)` prunes ROW-LEVEL here
    * (Spark's codegen'd InSet), not at parquet granularity: at
    * tiny-cell geometry a 4 MB row group spans hundreds of cells, so
    * stat pruning cannot bite on a scattered probed set, and measured
    * decode of the whole decade base (~43 MB across the shard tasks)
    * is under the per-job scheduling floor anyway — two r15 probes
    * that tried to force finer pruning both LOST: 512-row pages cut
    * knee bytes 43→1.5 MB but doubled every full-scan consumer
    * (sf10 ann_ivfpq_batch 2.4→5.4 s — per-page decode overhead on
    * the 90%-probed scan), and raising the In-pushdown threshold
    * StackOverflowed parquet-mr's recursive predicate tree at ~4k
    * values. The sharded win is file-open count (2–7 vs 10⁴), not
    * stats.
    */
  private def shardsRead(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/$ShardsDir")

  /** Version fingerprint of the sharded base for the listing memo — the
    * shards only change on wholesale rebuild/compaction, both of which
    * replace the `_shards` dir's children (its mtime moves).
    */
  private def shardToken(s: SparkSession, dir: String): String = {
    val p = shardsPathOf(dir)
    scala.util.Try(
      p.getFileSystem(s.sparkContext.hadoopConfiguration).getFileStatus(p))
      .toOption.map(st => st.getModificationTime.toString).getOrElse("-")
  }

  /** Fresh, layout-aware read of the codes BASE tier (no session memo,
    * no delta): a sharded base is one flat listStatus; a partitioned
    * base plans from the commit-time manifest (walk fallback for legacy
    * dirs).
    */
  private def codesBaseFresh(s: SparkSession, dir: String): DataFrame =
    (if (isShardedBase(s, dir)) shardsRead(s, dir)
     else CellManifest.readAsDf(s, dir).getOrElse(s.read.parquet(dir)))
      .select(col("vec_id"), col("codes"), col("cell"))

  /** Write the codes BASE tier of a generation, choosing the layout
    * from measured/estimated geometry (see [[ShardsDir]]): tiny cells →
    * byte-sharded cell-sorted files; big cells → the partitioned
    * file-per-cell base (+ its cell manifest, written by the caller
    * with the books, in the committed order). The dir is wiped first —
    * the base write IS the generation, exactly like the old
    * root-overwrite (stale delta epochs, manifests, or a previous
    * layout must not survive a wholesale re-encode). Returns true when
    * the sharded layout was chosen.
    */
  private[graft] def writeCodesBase(s: SparkSession, codes: DataFrame,
      dir: String, estBytes: Long, cells: Long): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    val target = codesShardTargetBytes(s)
    val perCell =
      if (cells <= 0) Long.MaxValue else estBytes / math.max(1L, cells)
    val sharded = perCell < target
    if (sharded) {
      // file count: bytes/target, FLOORED at ~8 MB of codes per file —
      // a sub-maxPartitionBytes single file is ONE scan task, and the
      // batched ADC stage (explode × queries per row) measured 2.3×
      // slower at the sf10 geometry on a one-file base (r15); the
      // opposite extreme (file per core) costs the single-query knee
      // ~7 ms of scheduling per extra task (14-file probe, r15). 8 MB
      // of m-byte rows is ~500k ADC evaluations — a task worth
      // scheduling — and a truly tiny corpus stays one file.
      val byBytes = math.max(1L, (estBytes + target - 1) / target)
      val byWork = math.min(
        s.sparkContext.defaultParallelism.toLong,
        estBytes / (8L * 1024 * 1024))
      val files = math.max(byBytes, byWork).toInt
      codes.select(col("vec_id"), col("codes"), col("cell"))
        .repartitionByRange(files, col("cell"), col("vec_id"))
        .sortWithinPartitions(col("cell"), col("vec_id"))
        .write.mode("overwrite")
        .option("parquet.block.size", 4L * 1024 * 1024)
        .parquet(s"$dir/$ShardsDir")
    } else {
      codes.select(col("vec_id"), col("codes"), col("cell"))
        .repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(dir)
    }
    sharded
  }

  /** Load the persisted codebooks of a codes generation. Session-
    * memoized; [[buildPqCodesFor]] drops the memo on rebuild.
    */
  private[graft] def loadBooks(s: SparkSession, codesDir: String)
      : Array[Array[Array[Double]]] =
    SessionCache.memo(s, s"ivfPqBooks#$codesDir", {
      val rows = s.read.parquet(s"$codesDir/$BooksDir")
        .orderBy(col("j"), col("c")).collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
      require(rows.nonEmpty, s"empty codebook sidecar at $codesDir/$BooksDir")
      val m = rows.map(_._1).max + 1
      Array.tabulate(m)(j => rows.filter(_._1 == j).sortBy(_._2).map(_._3))
    })

  /** Encode + commit the cell-partitioned codes for an index dir (see
    * [[ivfPqCodes]]); idempotent via the ready marker. Write order:
    * codes, `_books`, cell manifest, marker LAST — a crash leaves no
    * marker and the next builder overwrites the partial dir.
    */
  private[graft] def buildPqCodesFor(s: SparkSession, idx: Ann.IvfIndex,
      books: Array[Array[Array[Double]]]): String = {
    val dir = s"${idx.dir}/_pq_codes"
    val marker = new org.apache.hadoop.fs.Path(dir, PqCodesReady)
    val fs = marker.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker)) {
      // PHYSICAL rows, both tiers: a wholesale encode that read only the
      // partitioned base would silently miss every delta-tier epoch
      val encoded = Ann.physicalRows(s, idx.dir)
        .select(col("vec_id"), col("vec"), col("cell"))
        .withColumn("nrm", SimilarityOps.l2norm(col("vec")))
        .select(col("vec_id"), col("cell"),
          graft.functions.PqExprs.pqEncode(
            when(col("nrm") === 0, col("vec"))
              .otherwise(transform(col("vec"), x => x / col("nrm"))),
            books).as("codes"))
      // layout decision needs the at-rest geometry BEFORE writing:
      // estimate bytes from the index row count (metadata-cheap count,
      // no encode pass) — m code bytes + ~12 of encoded vec_id/cell per
      // row; order-of-magnitude is all the shard-vs-partition threshold
      // needs
      val rows = Ann.physicalRows(s, idx.dir).count()
      val sharded = writeCodesBase(s, encoded, dir,
        rows * (books.length + 12L), idx.cents.length.toLong)
      import s.implicits._
      books.indices
        .flatMap(j => books(j).indices.map(c => (j, c, books(j)(c).toSeq)))
        .toDF("j", "c", "vec")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/$BooksDir")
      if (!sharded) CellManifest.rewrite(s, dir)
      // drop any stale cached listing/books for this generation (rebuild)
      SessionCache.drop[DataFrame](s, s"ivfPqCodesRead#$dir")
      SessionCache.drop[Array[Array[Array[Double]]]](s, s"ivfPqBooks#$dir")
      fs.create(marker, true).close()
    }
    dir
  }

  /** The committed codes generation's books for an index dir, if a
    * SERVABLE generation exists: marker + `_books` sidecar. A legacy
    * generation (marker but no sidecar) cannot be appended to or served
    * consistently — its marker is dropped (forcing wholesale re-encode
    * on the next read) and None is returned, never a half-servable dir.
    * This is the shared gate of [[appendCodes]] and the append paths'
    * encode-in-pass optimization ([[withCodesColumn]] fused into the
    * batch's one assignment pass).
    */
  private[graft] def booksIfCommitted(s: SparkSession, indexDir: String)
      : Option[Array[Array[Array[Double]]]] = {
    val dir = s"$indexDir/_pq_codes"
    val marker = new org.apache.hadoop.fs.Path(dir, PqCodesReady)
    val fs = marker.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker)) None
    else if (!fs.exists(new org.apache.hadoop.fs.Path(dir, BooksDir))) {
      fs.delete(marker, false)
      SessionCache.drop[DataFrame](s, s"ivfPqCodesRead#$dir")
      None
    } else Some(loadBooks(s, dir))
  }

  /** Add a `codes` column — the generation-books PQ encode of the
    * unit-normalized `vec` — to an assigned batch frame. Called by the
    * index append paths BEFORE their persist, so the encode rides the
    * batch's one materialization pass instead of costing
    * [[appendCodes]] a second pass over the batch per epoch (the
    * codes-in-step ingest tax, task of `bench/ingest_rehearsal_r12`).
    */
  private[graft] def withCodesColumn(df: DataFrame,
      books: Array[Array[Array[Double]]]): DataFrame =
    df.withColumn("nrm", SimilarityOps.l2norm(col("vec")))
      .withColumn("codes", graft.functions.PqExprs.pqEncode(
        when(col("nrm") === 0, col("vec"))
          .otherwise(transform(col("vec"), x => x / col("nrm"))), books))
      .drop("nrm")

  /** The codes artifact's DELTA tier — see [[DeltaTier]] (the shared
    * single-file-epoch machinery: measured 28–31 s of cell-partitioned
    * codes write per 125k-row epoch at the 2M decade, for 2.5 MB of
    * codes, before round 13 moved appended epochs here). Serving reads
    * base ∪ delta; [[carryCodesInto]] folds deltas into the next
    * generation's base at compaction. Committed-epoch filtering (a
    * crashed write leaves only `_temporary` — never listable) lives in
    * [[DeltaTier.epochDirs]].
    */
  private[graft] def deltaRead(s: SparkSession, codesDir: String)
      : Option[DataFrame] =
    DeltaTier.read(s, codesDir)
      .map(_.select(col("vec_id"), col("codes"), col("cell")))

  /** RAW committed codes rows of an index dir — base tier ∪ delta tier,
    * read fresh (the maintenance/verification view; serving goes
    * through the memoized [[codesRead]]).
    */
  def codesAt(s: SparkSession, indexDir: String): DataFrame = {
    val dir = s"$indexDir/_pq_codes"
    val base = codesBaseFresh(s, dir)
    deltaRead(s, dir).map(base.unionByName(_)).getOrElse(base)
  }

  /** Keep a COMMITTED codes generation in step with an index append —
    * called by both [[Ann.appendToIndex]] and
    * [[Ann.appendToIndexIdempotent]] inside the append commit (before
    * the epoch marker), closing the serve-after-ingest gap: without
    * this, appended vectors could never enter the ADC shortlist until a
    * wholesale rebuild — silent recall loss on exactly the freshest
    * data a CDC-shaped engine exists to serve.
    *
    * `assigned` is the append's already-assigned frame (vec_id, …, vec,
    * cell) — the encode reuses the batch's one assignment pass
    * ([[withCodesColumn]]). The batch lands as ONE cell-sorted file in
    * the DELTA tier ([[DeltaTier]] — the measured 10⁴-files-per-epoch
    * fix), never as a per-cell partitioned write. Idempotent and
    * crash-healing the same way the data append is: unless the caller's
    * data probe proved the batch absent (`knownAbsent` — and
    * codes-present ⊆ data-present within a commit), the batch
    * anti-joins a TRUTHFUL read of base ([[CellManifest
    * .cellBoundedRead]]) ∪ delta ([[deltaRead]], fresh), so a replay
    * whose codes already landed appends nothing and a crash
    * mid-codes-append replays exactly the missing complement. No-op
    * when no codes generation exists (the wholesale build encodes from
    * the physical index rows, which include this batch). A LEGACY
    * generation (marker but no `_books` sidecar) cannot be appended to
    * consistently — its marker is dropped so the next read re-encodes
    * wholesale, never silently under-serving.
    */
  private[graft] def appendCodes(s: SparkSession, indexDir: String,
      assigned: DataFrame, batchCells: Seq[Int],
      knownAbsent: Boolean = false): Unit = {
    val dir = s"$indexDir/_pq_codes"
    // opt-in stage walls, the Ann.appendToIndexIdempotent device
    val timing = s.conf.getOption("spark.graft.ingest.timing")
      .contains("true")
    def staged[A](stage: String)(f: => A): A =
      if (!timing) f
      else {
        val t0 = System.nanoTime()
        val r = f
        System.err.println(f"[ingest-timing]   codes/$stage%-12s" +
          f" ${(System.nanoTime() - t0) / 1e9}%8.3f s")
        r
      }
    booksIfCommitted(s, indexDir).foreach { books =>
      // the append paths fuse the encode into the batch's one persisted
      // assignment pass (withCodesColumn) — reuse it; encode here only
      // for callers that didn't
      val encoded =
        if (assigned.columns.contains("codes"))
          assigned.select(col("vec_id"), col("cell"), col("codes"))
        else withCodesColumn(assigned, books)
          .select(col("vec_id"), col("cell"), col("codes"))
      // `knownAbsent`: the caller's DATA presence probe saw none of the
      // batch in the data tree — and codes-present ⊆ data-present (codes
      // land strictly after their data within a commit), so the codes
      // anti-join would drop nothing: skip its whole scan+join. Replays
      // and repair branches (data partially/fully present) keep the
      // truthful anti-join.
      val missing = staged("antijoin") {
        if (knownAbsent) encoded
        else {
          // base tier truthfully, layout-aware: a sharded base is ONE
          // fresh flat listing with the batch-cell predicate pushed to
          // its sorted row groups/pages; a partitioned base keeps the
          // cell-bounded relist
          val baseIds =
            if (isShardedBase(s, dir))
              Some(shardsRead(s, dir)
                .filter(col("cell").isin(batchCells: _*)))
            else CellManifest.cellBoundedRead(s, dir, batchCells)
          val tiers =
            baseIds.map(_.select(col("vec_id"))).toSeq ++
              deltaRead(s, dir).map(_.select(col("vec_id"))).toSeq
          tiers.reduceOption(_ unionByName _) match {
            case None => encoded
            case Some(existing) =>
              encoded.join(existing, Seq("vec_id"), "left_anti")
          }
        }
      }
      // a replay whose codes already fully landed must NOT write a
      // no-op epoch dir (they would accumulate until compaction,
      // churning deltaToken/memo invalidation and costing a write job
      // per replay — round-13 ADVICE). The emptiness check derives
      // from the caller's persisted batch, so it is one cheap job on
      // exactly the replay/repair paths; fresh appends (knownAbsent)
      // skip it.
      val nothingToAppend =
        staged("empty_check") { !knownAbsent && missing.isEmpty }
      // ONE cell-sorted file per epoch in the shared delta tier
      // ([[DeltaTier.write]]): no manifest work — the base tier is
      // untouched; a crashed write leaves only _temporary, which
      // deltaRead never lists
      if (!nothingToAppend) {
        staged("write") {
          DeltaTier.write(missing, dir, Seq(col("cell"), col("vec_id")))
        }
        SessionCache.drop[DataFrame](s, s"ivfPqCodesRead#$dir")
      }
    }
  }

  /** Session-memoized read of the codes artifact (base tier ∪ delta
    * tier) — the same listing-amortization as `Ann.indexRead`: the base
    * tree has one dir per cell (10⁴ at the 2M decade), and a fresh
    * `spark.read.parquet` re-walks it per query (measured 13–15 s,
    * dwarfing the 0.2 s probed scan). Cold sessions plan the base from
    * the commit-time [[CellManifest]] instead of re-walking (legacy
    * dirs fall back); the memo version carries BOTH tiers' on-disk
    * state (manifest token + [[DeltaTier.token]]), so an appended epoch —
    * in this process or a sibling one — is visible at the very next
    * query.
    */
  private def codesRead(s: SparkSession, dir: String): DataFrame =
    SessionCache.memoVersioned(s, s"ivfPqCodesRead#$dir",
      CellManifest.stateToken(s, dir) + "|" + DeltaTier.token(s, dir) +
        "|" + shardToken(s, dir), {
        val base = codesBaseFresh(s, dir)
        deltaRead(s, dir).map(base.unionByName(_)).getOrElse(base)
      })

  /** Explicit maintenance entry for the IVF-PQ codes ([[Ann.buildIndex]]
    * precedent): [[graft.Bench]] pre-builds through this and reports
    * `ivfpq_code_build` as its own metric, so `ann_ivfpq_*` query times
    * are probe-scan + re-rank only.
    */
  def buildIvfPqCodes(s: SparkSession, d: String): String = ivfPqCodes(s, d)

  /** Carry a COMMITTED codes generation through a data compaction
    * ([[Ann.compactIndex]] calls this after committing the new data
    * generation): codes are per-vec_id and compaction never changes a
    * vector or its cell assignment, so the new generation's codes are
    * EXACTLY the old generation's minus the tombstoned ids — a pure
    * m-bytes-per-row layout move (one codes-sized shuffle, ~4·dim/m× less
    * IO than re-encoding from the full-precision rows, and zero
    * 256·dim encode flops). Tombstones subtract via the same
    * broadcast-class set the serving anti-join uses; the `_books`
    * sidecar copies verbatim (same books ⇒ ADC LUTs stay consistent
    * with the carried codes); manifest + ready marker commit the new
    * codes generation, so appends keep encoding in step after the
    * swap. No-op (None) when the source has no committed codes or no
    * books sidecar — the next read on the new generation then builds
    * wholesale, the pre-carry behavior.
    */
  private[graft] def carryCodesInto(s: SparkSession, src: Ann.IvfIndex,
      dst: Ann.IvfIndex): Option[String] = {
    val srcDir = s"${src.dir}/_pq_codes"
    val dstDir = s"${dst.dir}/_pq_codes"
    val fs = new org.apache.hadoop.fs.Path(srcDir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val srcMarker = new org.apache.hadoop.fs.Path(srcDir, PqCodesReady)
    val srcBooks = new org.apache.hadoop.fs.Path(srcDir, BooksDir)
    if (!fs.exists(srcMarker) || !fs.exists(srcBooks)) None
    else {
      // fold the delta tier into the new base here — compaction is
      // exactly where the per-epoch single-file deltas pay their
      // deferred base write, amortized over the generation
      val codes = {
        val base = codesBaseFresh(s, srcDir)
        deltaRead(s, srcDir).map(base.unionByName(_)).getOrElse(base)
      }
      val live = Ann.liveDeleteIds(s, src) match {
        case None => codes
        case Some(ids) =>
          import s.implicits._
          codes.join(broadcast(ids.toSeq.toDF("vec_id")),
            Seq("vec_id"), "left_anti")
      }
      // layout decision from MEASURED source bytes (both tiers, one
      // recursive content summary — compaction is maintenance): the
      // at-rest size of what is being folded is the best estimate of
      // what lands
      val srcBytes = scala.util.Try(
        fs.getContentSummary(new org.apache.hadoop.fs.Path(srcDir))
          .getLength).getOrElse(0L)
      val sharded = writeCodesBase(s, live, dstDir, srcBytes,
        dst.cents.length.toLong)
      org.apache.hadoop.fs.FileUtil.copy(fs, srcBooks, fs,
        new org.apache.hadoop.fs.Path(dstDir, BooksDir),
        false, s.sparkContext.hadoopConfiguration)
      if (!sharded) CellManifest.rewrite(s, dstDir)
      SessionCache.drop[DataFrame](s, s"ivfPqCodesRead#$dstDir")
      SessionCache.drop[Array[Array[Array[Double]]]](s,
        s"ivfPqBooks#$dstDir")
      fs.create(new org.apache.hadoop.fs.Path(dstDir, PqCodesReady), true)
        .close()
      Some(dstDir)
    }
  }

  /** The IVF-PQ serving pipeline for the vec_id=0 query: rank cells
    * driver-side (k·dim centroid rows), ADC-scan ONLY the probed cells'
    * codes into a top-[[shortlistWidth]] shortlist, exact-cosine re-rank
    * through the LIVE index view. `allCells=true` probes everything —
    * the gate mode where the IVF half is exact by construction and the
    * ONLY remaining approximation is the PQ shortlist cut (the
    * `ann_ivf_exact_*` device applied to the composition).
    */
  private[graft] def ivfPqTopk(s: SparkSession, d: String,
      allCells: Boolean): DataFrame = {
    // bounded collect (≤ 1 row): the query vector, the Ann precedent.
    // Missing query vector (incl. the empty corpus) → empty result,
    // BEFORE index/codebook training can throw its non-empty require.
    val qRows = embeddings(s, d).filter(col("vec_id") === 0)
      .select(asDouble(col("embedding")).as("qv")).limit(1).collect()
    if (qRows.isEmpty)
      embeddings(s, d).filter(lit(false))
        .select(col("vec_id"), col("label"), lit(0.0).as("sim"))
    else {
      val idx = Ann.ivfIndex(s, d)
      val codesDir = ivfPqCodes(s, d)
      // serve with the GENERATION'S books (persisted `_books` sidecar),
      // not a fresh codebooks() train: the ADC LUT must be built from
      // exactly the books the stored codes were encoded with — and a
      // cold serving session skips the per-session k-means entirely
      serveIvfPqTopk(s, idx, codesDir, loadBooks(s, codesDir),
        qRows(0).getSeq[Double](0).toArray,
        if (allCells) idx.cents.length else Ann.nprobeOf(s, d))
    }
  }

  /** The IVF-PQ serve core against an EXPLICIT (index, codes, books)
    * triple — shared by the production entry (the memoized per-dir
    * artifacts) and the ingest gate's appended fixture. See
    * [[ivfPqTopk]] for the pipeline shape.
    */
  private[graft] def serveIvfPqTopk(s: SparkSession, idx: Ann.IvfIndex,
      codesDir: String, books: Array[Array[Array[Double]]],
      qRaw: Array[Double], nprobe: Int): DataFrame = {
    val nrm = math.sqrt(qRaw.map(x => x * x).sum)
    val qUnit = if (nrm == 0.0) qRaw else qRaw.map(_ / nrm)
    val lut = adcLut(qUnit, books)
    val probed = idx.probeCells(qRaw.toSeq, nprobe)
    val width = shortlistWidth(s, Some(books.length))
    val adcShort = codesRead(s, codesDir)
      .filter(col("cell").isin(probed: _*))
      .select(col("vec_id"), col("cell"),
        graft.functions.PqExprs.pqAdcDot(col("codes"),
          typedlit(lut.toSeq)).as("adc"))
      .orderBy(col("adc").desc, col("vec_id"))
      .limit(width)
    def rerank(shortIds: DataFrame, cells: Seq[Int]): DataFrame =
      Ann.indexData(s, idx)
        .filter(col("cell").isin(cells: _*))
        .join(broadcast(shortIds), "vec_id")
        .withColumn("sim", round(SimilarityOps.cosine(
          col("vec"), typedlit(qRaw.toSeq)), 4))
        .select(col("vec_id"), col("label"), col("sim"))
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(20)
    // Two plans, same rows (PqSpec pins the equality), chosen by where
    // the re-rank's scan bound lands:
    //   FUSED (probed ≤ width): the shortlist's distinct cells can be
    //   every probed cell anyway, so pruning to them cannot shrink the
    //   re-rank scan below the probed set — materializing the shortlist
    //   on the driver would only buy a second job's fixed overhead
    //   (measured 0.555 vs 0.367 s steady at the decade's nprobe=200
    //   knee, r13). Plan the ADC shortlist as a broadcast SUBQUERY and
    //   serve shortlist+re-rank in ONE job over the probed cells.
    //   TWO-JOB (probed > width): the shortlist MATERIALIZES on the
    //   driver — (vec_id, cell) pairs, ≤ width rows by construction,
    //   the calibrated-width driver-object class — so the exact re-rank
    //   partition-prunes to ONLY the shortlist's own cells instead of
    //   re-scanning every probed cell's full rows (the whole plain-IVF
    //   scan again: measured 2.1 s of the composed 4.2 s steady at the
    //   2M decade default, where probed ≈ 60% of cells).
    if (fusePlan(s, probed.length, width))
      rerank(adcShort.select(col("vec_id")), probed)
    else {
      val short = adcShort.select(col("vec_id"), col("cell")).collect()
      val shortCells = short.map(_.getInt(1)).distinct.toSeq
      import s.implicits._
      rerank(short.map(_.getLong(0)).toSeq.toDF("vec_id"), shortCells)
    }
  }

  /** Plan choice for the composed serve — fuse shortlist+re-rank into
    * one job iff the probed cell set is no wider than the shortlist
    * (pruning below it is then impossible and the driver round-trip is
    * pure overhead); `spark.graft.pq.serveMode` = `fused` | `twojob`
    * overrides (the ops escape hatch, and what lets PqSpec pin the two
    * plans row-identical).
    */
  private def fusePlan(s: SparkSession, probedCells: Int,
      width: Int): Boolean =
    s.conf.getOption("spark.graft.pq.serveMode") match {
      case Some("fused") => true
      case Some("twojob") => false
      case Some(other) => sys.error(
        s"spark.graft.pq.serveMode must be fused|twojob, got $other")
      case None => probedCells <= width
    }

  /** BATCHED IVF-PQ serving — [[graft.operators.Ann]]'s `ann_ivf_batch`
    * routing transplanted onto the ADC codes scan: the codes tree is
    * scanned ONCE over the union of all queries' probed cells
    * (partition pruning intact), each m-byte row ADC-scores only
    * against the queries that probed its cell (per-query LUT riding in
    * the exploded query struct), per-query shortlists come from the
    * k-bounded [[graft.functions.TopK]] aggregator (partial before the
    * shuffle — at most width rows per query per task), and the exact
    * re-rank broadcasts the (qid, vec_id) shortlist pairs back against
    * the live index view. `allCells` is the gate mode: every cell
    * probed ⇒ the IVF half is exact and only the shortlist cut remains.
    */
  private[graft] def ivfPqBatch(s: SparkSession, d: String,
      allCells: Boolean): DataFrame = {
    val qvs = embeddings(s, d).filter(col("vec_id") < 3)
      .select(col("vec_id"), asDouble(col("embedding")).as("qv"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    if (qvs.isEmpty)
      embeddings(s, d).filter(lit(false))
        .select(col("vec_id").as("qid"), lit(1).as("rk"),
          col("vec_id"), lit(0.0).as("sim"))
    else {
      val idx = Ann.ivfIndex(s, d)
      val codesDir = ivfPqCodes(s, d)
      val books = loadBooks(s, codesDir) // the generation's books
      val width = shortlistWidth(s, Some(books.length))
      val probes = qvs.map { case (q, v) =>
        val nrm = math.sqrt(v.map(x => x * x).sum)
        val u = if (nrm == 0.0) v else v.map(_ / nrm)
        (q, v, adcLut(u, books),
          idx.probeCells(v.toSeq,
            if (allCells) idx.cents.length else Ann.nprobeOf(s, d)))
      }
      val unionCells = probes.flatMap(_._4).distinct.toSeq
      val qlit = array(probes.map { case (q, _, lut, cells) =>
        struct(lit(q).as("qid"), typedlit(lut.toSeq).as("lut"),
          typedlit(cells).as("cells"))
      }.toSeq: _*)
      val codesSrc = {
        val filtered = codesRead(s, codesDir)
          .filter(col("cell").isin(unionCells: _*))
        // the sharded tiny-cell base scans in a HANDFUL of tasks (it is
        // a handful of files), which serializes this stage's CPU-bound
        // explode×queries ADC work — measured 2.3× on sf10 — so spread
        // the filtered rows cluster-wide first: tens of MB by the
        // layout's own construction, a trivially cheap shuffle. The
        // partitioned big-cell base (GBs probed) keeps its natural scan
        // parallelism and must NOT pay a probed-bytes shuffle.
        if (isShardedBase(s, codesDir))
          filtered.repartition(s.sparkContext.defaultParallelism)
        else filtered
      }
      val shortFrame = codesSrc
        .select(col("vec_id"), col("cell"), col("codes"),
          explode(qlit).as("q"))
        .filter(array_contains(col("q.cells"), col("cell")))
        .select(col("q.qid").as("qid"), col("vec_id"), col("cell"),
          graft.functions.PqExprs.pqAdcDot(col("codes"),
            col("q.lut")).as("adc"))
        .groupBy(col("qid"))
        .agg(graft.functions.TopK.topKCell(width)(col("adc"),
          col("vec_id"), col("cell")).as("top"))
        .select(col("qid"), explode(col("top")).as("t"))
        .select(col("qid"), col("t.vec_id").as("vec_id"),
          col("t.cell").as("cell"))
      import s.implicits._
      val qdf = probes.toSeq.map { case (q, v, _, _) => (q, v.toSeq) }
        .toDF("qid", "qv")
      def rerank(pairs: DataFrame, cells: Seq[Int]): DataFrame =
        Ann.indexData(s, idx)
          .filter(col("cell").isin(cells: _*))
          .join(broadcast(pairs), Seq("vec_id"))
          .join(broadcast(qdf), Seq("qid"))
          .select(col("qid"), col("vec_id"),
            round(SimilarityOps.cosine(col("vec"), col("qv")), 4).as("sim"))
          .groupBy(col("qid"))
          .agg(graft.functions.TopK.topK(5)(col("sim"),
            col("vec_id")).as("top"))
          .select(col("qid"), posexplode(col("top")).as(Seq("p", "t")))
          .select(col("qid"), (col("p") + 1).cast("int").as("rk"),
            col("t.vec_id").as("vec_id"), col("t.sim").as("sim"))
          .orderBy(col("qid"), col("rk"))
      // the serveIvfPqTopk plan choice, batched: when the probed union
      // is no wider than one shortlist, cell-pruning the re-rank below
      // the union is impossible — keep the per-query shortlists as a
      // broadcast SUBQUERY (one job, no driver round-trip). Past that,
      // the shortlists MATERIALIZE on the driver — ≤ nq·width
      // (qid, vec_id, cell) triples by construction — so the exact
      // re-rank partition-prunes to ONLY the cells the shortlists
      // actually landed in instead of re-scanning every probed cell's
      // full vectors (the whole plain-IVF cost the codes exist to
      // avoid).
      if (fusePlan(s, unionCells.length, width))
        rerank(shortFrame.select(col("qid"), col("vec_id")), unionCells)
      else {
        val shortRows = shortFrame.collect()
        val rerankCells = shortRows.map(_.getInt(2)).distinct.toSeq
        val pairs = shortRows.map(r => (r.getLong(0), r.getLong(1))).toSeq
          .toDF("qid", "vec_id")
        rerank(pairs, rerankCells)
      }
    }
  }

  /** The ingest gate's fixture, once per (session, scale dir): index
    * built on the even-vec_id half, CODES COMMITTED (books trained on
    * that same base half — the deployed timeline: the codebook exists
    * before the batch arrives), THEN the odd half appended — so the
    * odd rows are servable only if the append path encoded them into
    * the committed codes generation ([[appendCodes]]). Temp dir; pinned
    * production indexes are never touched.
    */
  private[graft] def ivfPqAppendedFixture(s: SparkSession, d: String)
      : Ann.IvfIndex =
    SessionCache.memo(s, s"ivfPqAppendFix#$d", {
      val t = java.nio.file.Files
        .createTempDirectory("graft-ivfpq-append-").toString
      Ann.registerTempIndexDir(t)
      val ev = embeddings(s, d)
      val even = ev.filter(col("vec_id") % 2 === 0)
      val idx = Ann.buildFrom(s,
        even.select(col("vec_id"), col("label"),
          asDouble(col("embedding")).as("vec")),
        Ann.cellCount(s, d), t)
      buildPqCodesFor(s, idx, trainBooks(normedOf(even), s"$d (base half)"))
      Ann.appendToIndex(s, idx, ev.filter(col("vec_id") % 2 === 1))
      idx
    })

  val queries: Map[String, Q] = Map(
    // PQ cosine top-20 for the vec_id=0 query: ADC shortlist over the
    // codes table, exact re-rank of the survivors — published sims are
    // the exact rounded cosines of sim_cosine_topk; only recall is
    // approximate (rows-only driver check; the gate twin bounds it).
    "sim_pq_topk" -> ((s, d) => {
      // bounded collect (≤ 1 row): the query vector, the Ann precedent.
      // Missing query vector (incl. the empty corpus) → empty result,
      // BEFORE training can throw its non-empty require.
      val qRows = embeddings(s, d).filter(col("vec_id") === 0)
        .select(asDouble(col("embedding")).as("qv")).limit(1).collect()
      if (qRows.isEmpty)
        embeddings(s, d).filter(lit(false))
          .select(col("vec_id"), col("label"), lit(0.0).as("sim"))
      else {
        val qRaw = qRows(0).getSeq[Double](0).toArray
        val nrm = math.sqrt(qRaw.map(x => x * x).sum)
        val qUnit = if (nrm == 0.0) qRaw else qRaw.map(_ / nrm)
        val books = codebooks(s, d)
        val lut = adcLut(qUnit, books)
        val shortlist = codes(s, d)
          .select(col("vec_id"),
            graft.functions.PqExprs.pqAdcDot(col("codes"),
              typedlit(lut.toSeq)).as("adc"))
          .orderBy(col("adc").desc, col("vec_id"))
          .limit(shortlistWidth(s, Some(books.length)))
          .select(col("vec_id"))
        embeddings(s, d)
          .join(broadcast(shortlist), "vec_id")
          .withColumn("sim", round(SimilarityOps.cosine(
            asDouble(col("embedding")), typedlit(qRaw.toSeq)), 4))
          .select(col("vec_id"), col("label"), col("sim"))
          .orderBy(col("sim").desc, col("vec_id"))
          .limit(20)
      }
    }),

    // IVF-PQ top-20 for the vec_id=0 query — the composed 100 TB serving
    // shape: partition-pruned ADC scan over ONLY the probed cells' codes
    // (m bytes/row), exact re-rank through the live index view. Two
    // stacked approximations (cell recall x shortlist recall), so no SQL
    // oracle (driver rows-only); the gate twin isolates the PQ half and
    // IvfPqSpec + the decade probe bound the rest.
    "ann_ivfpq_topk" -> ((s, d) => ivfPqTopk(s, d, allCells = false)),

    // ORACLE GATE for the composition: probe EVERY cell — the IVF half
    // is exact there (the ann_ivf_exact_* device), so the only remaining
    // approximation is the PQ shortlist cut, and the sim_pq_topk_gate
    // contract applies verbatim: top-20 overlap vs brute force >= 18 AND
    // exact equality of the published sims on the overlap.
    "ann_ivfpq_gate" -> ((s, d) => {
      val pq = ivfPqTopk(s, d, allCells = true)
        .select(col("vec_id"), col("sim").as("psim"))
      val exact = SimilarityOps.queries("sim_cosine_topk")(s, d)
        .select(col("vec_id"), col("sim").as("esim"))
      pq.join(exact, Seq("vec_id"))
        .groupBy(lit(20).as("k"))
        .agg(count(lit(1)).as("n_overlap"),
          max(abs(col("psim") - col("esim"))).as("max_err"))
        .select(col("k"), (col("n_overlap") >= 18).as("recall_ok"),
          (col("max_err") <= 0.0).as("rerank_exact_ok"))
    }),

    // SERVE-AFTER-INGEST GATE for the composition: codes committed on
    // the even half, odd half APPENDED (appendCodes runs inside the
    // append), then served all-cells — the IVF half exact, so the
    // ann_ivfpq_gate contract vs the WHOLE-corpus brute force applies:
    // if the append had not encoded the odd rows, roughly half the true
    // top-20 could never enter the shortlist and the overlap floor
    // fails. Deterministic appended-id visibility (a near-duplicate of
    // the query appended, then served rank-1) is IvfPqSpec's.
    "ann_ivfpq_ingest_gate" -> ((s, d) => {
      val qRows = embeddings(s, d).filter(col("vec_id") === 0)
        .select(asDouble(col("embedding")).as("qv")).limit(1).collect()
      if (qRows.isEmpty)
        embeddings(s, d).filter(lit(false))
          .select(lit(20).as("k"), lit(true).as("recall_ok"),
            lit(true).as("rerank_exact_ok"))
      else {
        val idx = ivfPqAppendedFixture(s, d)
        val served = serveIvfPqTopk(s, idx, s"${idx.dir}/_pq_codes",
          loadBooks(s, s"${idx.dir}/_pq_codes"),
          qRows(0).getSeq[Double](0).toArray, idx.cents.length)
          .select(col("vec_id"), col("sim").as("psim"))
        val exact = SimilarityOps.queries("sim_cosine_topk")(s, d)
          .select(col("vec_id"), col("sim").as("esim"))
        served.join(exact, Seq("vec_id"))
          .groupBy(lit(20).as("k"))
          .agg(count(lit(1)).as("n_overlap"),
            max(abs(col("psim") - col("esim"))).as("max_err"))
          .select(col("k"), (col("n_overlap") >= 18).as("recall_ok"),
            (col("max_err") <= 0.0).as("rerank_exact_ok"))
      }
    }),

    // Batched IVF-PQ top-5 for queries vec_id<3 — the composed serving
    // shape a real retrieval workload runs: one pruned pass over the
    // union of probed cells' codes, per-query ADC shortlists, exact
    // re-rank. Two stacked approximations (rows-only driver check); the
    // gate twin bounds the PQ half.
    "ann_ivfpq_batch" -> ((s, d) => ivfPqBatch(s, d, allCells = false)),

    // ORACLE GATE for the batched composition: probe EVERY cell (IVF
    // half exact) and hold each query to the sim_pq contract — top-5
    // overlap vs brute-force sim_batch_topk and exact equality of
    // published sims on the overlap.
    "ann_ivfpq_batch_gate" -> ((s, d) => {
      val got = ivfPqBatch(s, d, allCells = true)
        .select(col("qid"), col("vec_id"), col("sim").as("psim"))
      val want = SimilarityOps.queries("sim_batch_topk")(s, d)
        .select(col("qid"), col("vec_id"), col("sim").as("esim"))
      got.join(want, Seq("qid", "vec_id"))
        .groupBy(col("qid"))
        .agg(count(lit(1)).as("n_overlap"),
          max(abs(col("psim") - col("esim"))).as("max_err"))
        .select(col("qid"), (col("n_overlap") >= 4).as("recall_ok"),
          (col("max_err") <= 0.0).as("rerank_exact_ok"))
        .orderBy(col("qid"))
    }),

    // ORACLE GATE for the PQ path: top-20 overlap vs the exact
    // brute-force query ≥ 18 AND exact equality of the published sims
    // on the overlap (the re-rank contract — stronger than the int8
    // gate's ±0.02). Constant-group groupBy keeps the empty-input →
    // zero-rows contract; the DuckDB oracle states both flags true.
    "sim_pq_topk_gate" -> ((s, d) => {
      val pq = queries("sim_pq_topk")(s, d)
        .select(col("vec_id"), col("sim").as("psim"))
      val exact = SimilarityOps.queries("sim_cosine_topk")(s, d)
        .select(col("vec_id"), col("sim").as("esim"))
      pq.join(exact, Seq("vec_id"))
        .groupBy(lit(20).as("k"))
        .agg(count(lit(1)).as("n_overlap"),
          max(abs(col("psim") - col("esim"))).as("max_err"))
        .select(col("k"), (col("n_overlap") >= 18).as("recall_ok"),
          (col("max_err") <= 0.0).as("rerank_exact_ok"))
    }),
  )

  val oracles: Map[String, String] = Map(
    "sim_pq_topk_gate" ->
      """SELECT CAST(20 AS INT) AS k, true AS recall_ok,
                true AS rerank_exact_ok
         WHERE EXISTS (SELECT 1 FROM embeddings)""",
    // all-cells IVF-PQ reduces to the PQ contract — same gate shape
    "ann_ivfpq_gate" ->
      """SELECT CAST(20 AS INT) AS k, true AS recall_ok,
                true AS rerank_exact_ok
         WHERE EXISTS (SELECT 1 FROM embeddings)""",
    // append-then-serve reduces to the same contract over the whole
    // corpus (base ∪ appended) — green only if appended rows entered
    // the committed codes generation
    "ann_ivfpq_ingest_gate" ->
      """SELECT CAST(20 AS INT) AS k, true AS recall_ok,
                true AS rerank_exact_ok
         WHERE EXISTS (SELECT 1 FROM embeddings)""",
    // one truth-table row per batched query, keyed by qid
    "ann_ivfpq_batch_gate" ->
      """SELECT CAST(vec_id AS BIGINT) AS qid, true AS recall_ok,
                true AS rerank_exact_ok
         FROM embeddings WHERE vec_id < 3 ORDER BY qid""",
  )
}
