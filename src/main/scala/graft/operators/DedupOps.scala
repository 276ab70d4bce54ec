package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFeatures._
import graft.sources.Tables._

/** Document deduplication — the north-star training-data operators: exact
  * hash dedup lives in [[TextOps]] (`dedup_exact`); here are the near-dup
  * families: MinHash+LSH (Broder, "On the resemblance and containment of
  * documents", SEQUENCES'97; banding analysis per Leskovec/Rajaraman/
  * Ullman, Mining of Massive Datasets ch.3), exact n-gram Jaccard via an
  * inverted index, SimHash banding (Charikar, "Similarity estimation
  * techniques from rounding algorithms", STOC'02; Manku/Jain/Sarma,
  * "Detecting near-duplicates for web crawling", WWW'07), and blocked
  * embedding-cosine pairs.
  *
  * Scale design (100 TB):
  *  - Postings, not arrays: every pipeline works on narrow (doc_id, gram)
  *    rows deduped by Spark's codegen'd hash aggregate — never on
  *    array-typed set columns, whose `array_distinct`/`array_intersect`
  *    are O(m²) interpreted evals and whose recomputation across join
  *    branches dominated the naive plans.
  *  - MinHash: one groupBy computes all K signature mins in a single
  *    shuffle with map-side partial min; banding turns the quadratic pair
  *    search into an equi-join on (band, band_hash) — only documents
  *    sharing a band ever meet, and the join key is 16 bytes, never the
  *    text. Candidates are then *verified* with exact Jaccard, so LSH
  *    recall/precision only affects completeness, never correctness of
  *    what is emitted; 16 bands × 6 rows puts detection probability at
  *    0.992 for J=0.8 and ~1 for J≥0.92, while passing only ~2e-4 of
  *    the dissimilar-pair mass to verification.
  *  - Exact n-gram Jaccard uses PREFIX FILTERING (Bayardo et al.,
  *    "Scaling up all pairs similarity search", WWW'07; Chaudhuri et al.'s
  *    prefix principle): order each doc's grams by a global total order
  *    (df ascending — rarest first — then gram); a pair with J ≥ t MUST
  *    share a gram inside each side's first |d|−⌈t·|d|⌉+1 grams, so
  *    candidates are generated only from those prefix postings and then
  *    verified exactly. This kills the Σdf² blowup: a hot gram (high df)
  *    sorts to the END of every doc's ordering and never enters a prefix,
  *    so candidate volume is governed by RARE grams — exactly the property
  *    that survives a heavy-tailed gram distribution at 100 TB. Recall is
  *    1.0 by the prefix principle; precision is exact by verification.
  *  - Doc set sizes ride along inside the candidate rows (collected with
  *    the doc id), so no doc-cardinality side table is ever broadcast.
  *  - SimHash: 64-bit signature from sign-summed token hashes; 4×16-bit
  *    bands guarantee (pigeonhole) that any pair within Hamming distance 3
  *    shares an exact band, so the band equi-join has perfect recall for
  *    d≤3.
  *  - Embedding near-dup is blocked by the `label` column (dedup within a
  *    shard/source is the practical pattern) — all-pairs only within a
  *    block; cross-block search belongs to ANN ([[Ann]]).
  */
object DedupOps {
  type Q = (SparkSession, String) => DataFrame

  private val Bands = 16  // bands × rows = signature width K (96)
  private val Rows = 6    // the bands/rows S-curve balances BOTH tails:
                          // P(candidate) = 1-(1-J^r)^b = 0.992 at J=0.8
                          // (recall at the threshold) and 1.8e-4 at J=0.15
                          // (the random-pair mass) — shorter rows (r=4)
                          // admitted ~1% of the n² dissimilar pairs and the
                          // exact-verification join exploded; longer (r=8)
                          // costs recall at J≈0.8 and doubles the
                          // signature-aggregate codegen.

  /** LSH rows per band as a deployment conf (default above). Rows per
    * band is CORPUS-SIZE-dependent: background noise candidates are
    * ~C(n,2)·b·J_bg^r — QUADRATIC in n at fixed geometry — so r must
    * grow ~log n to hold the candidate budget while b·(threshold)^r
    * keeps recall (measured in the sf1 rehearsal: a same-density 10×
    * corpus at 16×6 multiplied verification work ~100×; 16×8 restores
    * the budget at recall 0.94 @ J=0.8). The rows DEFAULT now derives
    * that growth from the corpus doc count — r = 6 + 2·⌊log₁₀(n/5000)⌋,
    * exactly the hand-set rehearsal protocol (5k docs → 6, 50k → 8,
    * +2 rows per further decade, capped at 20) — so an unconfigured
    * scale-up degrades log-linearly instead of quadratically. An
    * explicit `spark.graft.lsh.rows` always wins. The signature kernel
    * width follows bands·rows, so widening rows needs no code change.
    */
  private val RowsBaseDocs = 5000.0
  private[graft] def rowsOf(s: SparkSession, d: String): Int =
    s.conf.getOption("spark.graft.lsh.rows").map(_.toInt).getOrElse {
      val n = docCount(s, d).toDouble
      val extra =
        if (n <= RowsBaseDocs) 0
        else (2 * math.log10(n / RowsBaseDocs)).floor.toInt
      math.min(Rows + extra, 20)
    }

  /** Corpus doc count, once per scale dir (parquet footer metadata — no
    * data scan). Dir-keyed: a property of the files, not the session.
    */
  private val docCounts =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private def docCount(s: SparkSession, d: String): Long =
    docCounts.computeIfAbsent(d, _ => documents(s, d).count())

  /** Deterministic downsample for the one-cell EXACT-MODE twins
    * (`dedup_semantic_exact` / `_incremental_exact`): the twins exist to
    * hash-gate the pair KERNEL against a brute-force oracle — a property
    * of the code, not of corpus size — yet their one-cell join is n²
    * by construction, so left unbounded they'd be the one registry
    * entry whose cost grows quadratically with the corpus (measured
    * 276 s at sf1, 100× per decade). Capping the gated subset at
    * [[ExactTwinTargetRows]] vectors via an id-modulus keeps the gate
    * at its historically-measured cost at ANY corpus size. The modulus
    * derives from the footer row count EXACTLY as the oracle SQL
    * derives it from COUNT(*) — `m = max(1, ceil(n / target))`,
    * `vec_id % m = 0` on both sides — so Spark and DuckDB always gate
    * the same subset; at the driver scales (n ≤ 2000) m = 1 and the
    * twin is the full corpus, byte-identical to the pre-bound behavior.
    * Id-modulus, not Bernoulli/TABLESAMPLE: deterministic across
    * partitionings and engines.
    */
  private[graft] val ExactTwinTargetRows = 2000.0
  // (session, dir)-keyed, unlike the dir-keyed geometry counts above:
  // the modulus must agree with a DuckDB oracle that re-derives from a
  // fresh COUNT(*) every run, so a new session after an in-JVM corpus
  // rewrite must re-count too (GeometrySpec pins both keyings)
  private[graft] def exactTwinModulus(s: SparkSession, d: String): Long = {
    val n = SessionCache.memo(s, s"veccount#$d", embeddings(s, d).count())
    math.max(1L, math.ceil(n / ExactTwinTargetRows).toLong)
  }
  /** The oracle-side mirror of [[exactTwinModulus]] as a DuckDB scalar
    * subquery — GREATEST/CEIL over the same COUNT(*). */
  private[graft] val ExactTwinModulusSql =
    "(SELECT GREATEST(1, CAST(CEIL(COUNT(*) / 2000.0) AS BIGINT)) FROM embeddings)"

  /** Per-document SORTED DISTINCT char-5-gram hash sets (doc_id, gs) —
    * the fused [[graft.functions.TextExprs.ShingleHashes]] window hasher
    * composed with [[graft.functions.TextExprs.SortedDistinctLongs]], so
    * the document's gram SET is built row-locally in the projection over
    * the scan: no posting explode, no distinct shuffle, and the sorted
    * array feeds [[verifyJaccard]]'s merge kernel directly. See
    * [[ngramPosts]] for the hash-collision analysis.
    */
  private def shingleDocSets(s: SparkSession, d: String): DataFrame =
    docSets(s, d, graft.functions.TextExprs.shingleHashes(_, 5))

  /** EXACT char-5-gram Jaccard ≥ 0.8 pair table via the lossless prefix
    * filter — the engine-side ground truth for the minhash-LSH family
    * (`dedup_minhash_lsh_gate`, [[graft.tools.LshGateReport]]) at scales
    * where the all-pairs DuckDB formulation is infeasible. Same doc
    * sets, same `round(J,4) ≥ 0.8` criterion as the LSH query's
    * verification stage, so set-inclusion against it is meaningful.
    * Eagerly checkpointed (pairs-above-threshold — tiny) so the persist
    * on the doc-set scan can be released immediately. Per-stage walls
    * (doc sets, prefix postings, candidates, verify) are banked in
    * `bench/lsh_truth_probe_r16_*.json`.
    */
  private def shingleTruthPairs(s: SparkSession, d: String)
      : DataFrame = {
    val docs = shingleDocSets(s, d).persist()
    // the doc-set side is the gate's budget (≤ ~LshGateTargetDocs docs)
    // — broadcast-class by construction, see verifyJaccard
    try verifyJaccard(
      prefixCandidates(
        docs.select(col("doc_id"), explode(col("gs")).as("g")), 0.8),
      docs, 0.8, broadcastDocs = true)
      .localCheckpoint(true)
    finally docs.unpersist(false)
  }

  /** The session's LSH band geometry (bands, rows-per-band) for a scale
    * dir — exposed for the gate's floor computation and its report tool.
    */
  private[graft] def bandGeometry(s: SparkSession, d: String): (Int, Int) =
    (Bands, rowsOf(s, d))

  /** Truth-table budget for `dedup_minhash_lsh_gate` — the
    * [[exactTwinModulus]] convention applied to the one remaining
    * unbounded gate: the exact prefix-filter truth is measured-feasible
    * to 50 k documents (14 s at 5 k, 49 s at 50 k on this box) but its
    * candidate shuffle filled the disk at 500 k, so past the budget the
    * gate measures precision/recall on a hash-derived document SUBSET
    * of ~this size. Modulus 1 — the gate byte-identical to its
    * oracle-checked form — at the driver's correctness scales
    * (sf0.01/0.1).
    *
    * r16 calibration (the r15 verdict's item 3): 50 k → 25 k. The
    * truth build was the registry's heaviest prepare shuffle (57 s min
    * at sf1, where 50 k docs meant modulus 1 and a full-corpus
    * all-pairs); its candidate volume is ~quadratic in the subset size
    * while the gate's statistical power is only ~linear in it — the
    * subset hash keys on the doc's FIRST GRAM, so near-duplicate pairs
    * co-select at ~1/m (not 1/m²) and halving the subset halves
    * n_truth but quarters the candidate shuffle. The gate's 3σ recall
    * bound stays meaningful (n_truth ≈ 1.3 k at sf1), its OUTPUT row
    * (t, recall_ok, precision_ok booleans) is unchanged at every SF,
    * and the oracle-checked scales keep modulus 1 bit-identical.
    */
  val LshGateTargetDocs = 25000.0
  private[graft] def lshGateModulus(s: SparkSession, d: String): Long = {
    val n = SessionCache.memo(s, s"lshdoccount#$d",
      documents(s, d).count())
    math.max(1L, math.ceil(n / LshGateTargetDocs).toLong)
  }

  /** The two sides `dedup_minhash_lsh_gate` compares — (exact truth
    * pairs, LSH pairs), both restricted to the gate's document subset
    * when [[lshGateModulus]] > 1 — shared with
    * [[graft.tools.LshGateReport]] so the report prints the numbers
    * behind exactly the booleans the gate emits.
    */
  private[graft] def lshGateSides(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val (t, ids) = lshGateTruth(s, d)
    ids match {
      case None =>
        (t.select(col("doc_a"), col("doc_b")),
          queries("dedup_minhash_lsh")(s, d)
            .select(col("doc_a"), col("doc_b")))
      case Some(subIds) =>
        val l = queries("dedup_minhash_lsh")(s, d)
          .join(subIds.withColumnRenamed("doc_id", "doc_a"),
            Seq("doc_a"), "left_semi")
          .join(subIds.withColumnRenamed("doc_id", "doc_b"),
            Seq("doc_b"), "left_semi")
          .select(col("doc_a"), col("doc_b"))
        (t.select(col("doc_a"), col("doc_b")), l)
    }
  }

  /** The gate's EXACT truth side — (truth pairs, Some(subset doc_ids)
    * when [[lshGateModulus]] > 1) — session-memoized: the truth table
    * is a PREPARE-phase artifact (exact prefix-filter all-pairs over
    * the gate's document budget, by far the gate's dominant cost and
    * its most contention-sensitive shuffle — the r13/r14 outlier
    * adjudications were both about THIS side), not serving work, so
    * [[graft.Bench]] pre-builds it through [[buildLshGateTruth]] under
    * its own `lsh_truth_build` metric and the gate's timed window then
    * prices LSH + compare only. Exactness is untouched — the memoized
    * frame is the same checkpointed truth table, built once per
    * (session, scale dir).
    */
  private[graft] def lshGateTruth(s: SparkSession, d: String)
      : (DataFrame, Option[DataFrame]) =
    SessionCache.memo(s, s"lshGateTruth#$d", {
      val m = lshGateModulus(s, d)
      if (m == 1) (shingleTruthPairs(s, d), None)
      else {
        val sub = shingleDocSets(s, d)
          .filter(pmod(xxhash64(element_at(col("gs"), 1)), lit(m)) === 0)
          .persist()
        val t = verifyJaccard(
            prefixCandidates(
              sub.select(col("doc_id"), explode(col("gs")).as("g")), 0.8),
            sub, 0.8, broadcastDocs = true)
          .select(col("doc_a"), col("doc_b")).localCheckpoint(true)
        // subset ids: tiny (≈ the budget) — broadcast semi-joins
        val ids = sub.select(col("doc_id")).localCheckpoint(true)
        sub.unpersist(false)
        (t, Some(ids))
      }
    })

  /** Explicit maintenance entry for the gate's truth table (the
    * [[graft.operators.Ann.buildIndex]] precedent): [[graft.Bench]]
    * pre-builds through this and reports `lsh_truth_build` as its own
    * metric, so `dedup_minhash_lsh_gate`'s time prices the LSH serve +
    * set-compare, not the exact all-pairs ground truth.
    */
  def buildLshGateTruth(s: SparkSession, d: String): Unit = {
    lshGateTruth(s, d)
    ()
  }

  /** Per-document sorted distinct token-n-gram hash sets — the token twin
    * of [[shingleDocSets]].
    */
  private[graft] def ngramDocSets(s: SparkSession, d: String,
      n: Int = 3): DataFrame =
    docSets(s, d, graft.functions.TextExprs.tokenNgramHashes(_, n))

  /** Shared doc-set construction for any window-hash kernel.
    * Null text → null set: DROP the doc, exactly as the old posting
    * explode did (explode(null) = zero rows). Without this, every
    * null-text doc would reach the band joins with a CONSTANT all-null
    * band hash — 16·E² identical-key join rows for E null docs, a
    * quadratic blowup the length filters only discard AFTER the join.
    * Short docs yield an EMPTY set (zero postings on explode) — also
    * the old behavior.
    */
  private def docSets(s: SparkSession, d: String,
      gramsOf: Column => Column): DataFrame =
    documents(s, d)
      .select(col("doc_id"), graft.functions.TextExprs
        .sortedDistinctLongs(gramsOf(col("text"))).as("gs"))
      .filter(col("gs").isNotNull)

  /** Distinct (doc_id, token-n-gram) postings — an explode over
    * [[ngramDocSets]]'s per-row distinct sets, so the posting list needs
    * ZERO shuffles at all: the old `explode(...).distinct()` hash
    * aggregate (the pipelines' single biggest shuffle) is equivalent to
    * per-doc distinct, which [[graft.functions.TextExprs
    * .SortedDistinctLongs]] now computes inside the projection.
    * (Historical formulations, slowest first: a transform/concat_ws
    * lambda re-runs split() per element interpreted, ~10× slower;
    * posexplode + lead-window costs an extra shuffle + sort; zipped
    * shifted array slices + concat_ws + xxhash64 remains the spec's
    * reference formulation; explode + global distinct was the previous
    * production shape.)
    *
    * The gram is HASHED to a 64-bit key the moment it is born: every
    * downstream shuffle/sort/join then moves 8-byte longs instead of
    * ~25-byte strings — measured 2.6× on candidate generation and ~2×
    * on the posting distinct at sf0.1. Set semantics are exact up to a
    * WITHIN-DOC hash collision, which would merge two distinct grams of
    * the same document: P ≈ m²/2^65 per doc (m = distinct grams per
    * doc; m=10⁴ → 5×10⁻¹², and ~10⁻⁵ across 10⁹ such docs) — far below
    * any operational noise floor, and the standard trade every
    * production shingle pipeline makes (signatures, not strings, are
    * what minhash banding hashes anyway). The prefix-filter ordering
    * only needs A total order on grams, which the hashed key provides.
    */
  private[graft] def ngramPosts(s: SparkSession, d: String,
      n: Int = 3): DataFrame =
    ngramDocSets(s, d, n)
      .select(col("doc_id"), explode(col("gs")).as("g"))

  /** Corpus postings (doc_id, g) sharing an 8-gram with the benchmark
    * set (doc_id < 10) — the decontamination join, shared by
    * `dedup_contamination` (per-doc counts) and the pipeline report's
    * contaminated-doc set so the two apply one definition.
    */
  private[operators] def contaminationHits(s: SparkSession,
      d: String): DataFrame = {
    val posts8 = ngramPosts(s, d, n = 8)
    val bench = posts8.filter(col("doc_id") < 10)
      .select(col("g")).distinct()
    posts8.filter(col("doc_id") >= 10).join(bench, "g")
  }

  /** Blocked all-pairs is quadratic PER BLOCK: cap = 20k rows ≈ 200M
    * pairs for the hottest block — tune to the pair budget a stage can
    * chew, not to row counts.
    */
  val MaxCosineBlockRows = 20000L

  /** The routing threshold as a deployment conf (default above): blocks
    * over this row count leave the exact all-pairs path for the
    * cell-routed one. A KNOB, unlike the geometry-insanity guard
    * [[requireBoundedBlocks]] keeps applying to the cell side — tune it
    * to the pair budget (cap² / 2) a stage can chew, not to row counts.
    */
  private[graft] def maxCosineBlockRowsOf(s: SparkSession): Long =
    s.conf.getOption("spark.graft.dedup.maxCosineBlockRows")
      .map(_.toLong).getOrElse(MaxCosineBlockRows)

  /** Soft-assignment width for dedup_semantic: each vector joins from
    * its 3 nearest cells (primary first). Measured on the near-uniform
    * worst-case corpus: recall 0.31 (single-cell) → see DedupAnnSpec's
    * gate, at ≤3× the single-cell join rows.
    */
  val SemDedupProbes = 3

  /** Deployed soft-probe width — `spark.graft.dedup.semanticProbes`
    * (default [[SemDedupProbes]]), the dedup twin of
    * `spark.graft.ann.nprobe`: join rows scale LINEARLY with it while
    * cross-cell recall climbs, so it is the recall/cost knob for
    * `dedup_semantic` and routed `dedup_embedding_cosine` blocks.
    * Measure before retuning: [[graft.tools.RoutedCosineCheck]] sweeps
    * it and reports recall on the near-threshold (hardest) pairs —
    * boundary-straddling pairs are exactly the ones extra probes
    * recover.
    *
    * Since round 10 the measurement can drive the default directly:
    * point `spark.graft.dedup.semanticProbesCalibration` at the JSON
    * artifact RoutedCosineCheck writes for YOUR corpus and the width
    * becomes the SMALLEST swept value whose measured recalls clear the
    * deployment's floors (`spark.graft.dedup.semanticRecallFloor`,
    * default 0.9 overall; `spark.graft.dedup.semanticNearRecallFloor`,
    * default 0.0 — near-threshold recall unconstrained unless asked
    * for). Routed recall is a property of the corpus DISTRIBUTION, so
    * unlike nprobe there is no geometry it could derive from — the
    * knee must be measured, and this closes the loop measurement →
    * knob without a human transcribing numbers. Precedence: an
    * explicit `semanticProbes` always wins; a calibration path that is
    * unreadable or whose sweep cannot reach the floors THROWS (a
    * mis-pointed calibration is a config error, not a silent fallback
    * to a default the deployment explicitly tried to replace).
    */
  private[graft] def semDedupProbesOf(s: SparkSession): Int =
    s.conf.getOption("spark.graft.dedup.semanticProbes")
      .map(_.toInt)
      .orElse(calibratedProbesOf(s))
      .getOrElse(SemDedupProbes)

  /** Parse the RoutedCosineCheck artifact and pick the knee — see
    * [[semDedupProbesOf]]. Session-memoized per (path, floors): the
    * artifact is a driver-tiny single JSON object.
    */
  private def calibratedProbesOf(s: SparkSession): Option[Int] =
    s.conf.getOption("spark.graft.dedup.semanticProbesCalibration")
      .map { path =>
        val floor = s.conf
          .getOption("spark.graft.dedup.semanticRecallFloor")
          .map(_.toDouble).getOrElse(0.9)
        val nearFloor = s.conf
          .getOption("spark.graft.dedup.semanticNearRecallFloor")
          .map(_.toDouble).getOrElse(0.0)
        SessionCache.memo(s, s"semProbesCal#$path#$floor#$nearFloor", {
          val sweep = s.read.option("multiLine", "true").json(path)
            .select(explode(col("sweep")).as("p"))
            .select(col("p.probes").cast("int").as("w"),
              col("p.recall").cast("double").as("r"),
              col("p.near_threshold_recall").cast("double").as("nr"))
            .collect()
            .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
            .sortBy(_._1)
          require(sweep.nonEmpty,
            s"calibration artifact $path carries no probe sweep")
          val ok = sweep.find(x => x._2 >= floor && x._3 >= nearFloor)
          require(ok.isDefined,
            s"no swept width in $path reaches recall ≥ $floor AND " +
              s"near-threshold recall ≥ $nearFloor (widest: " +
              s"${sweep.last}) — re-sweep wider or lower the floors")
          ok.get._1
        })
      }

  /** Fail-fast guard for blocked all-pairs operators: a block whose row
    * count exceeds `maxBlockRows` would generate n²/2 pairs inside one
    * join — at scale that is a silent stage meltdown, so surface it as an
    * immediate, named error instead. The check is one tiny aggregation
    * (|blocks| rows); oversized blocks belong on the ANN path ([[Ann]])
    * or need a finer blocking key.
    */
  def requireBoundedBlocks(v: DataFrame, blockCol: String,
      maxBlockRows: Long): DataFrame = {
    val hot = v.groupBy(col(blockCol)).agg(count(lit(1)).as("n"))
      .filter(col("n") > maxBlockRows)
      .orderBy(col("n").desc).limit(5).collect()
    require(hot.isEmpty,
      s"block(s) over $maxBlockRows rows for all-pairs dedup: " +
        hot.map(r => s"${r.get(0)}=${r.getLong(1)}").mkString(", ") +
        " — use Ann (IVF) or a finer blocking key for these")
    v
  }

  /** Connected components over an undirected pair list — the step that
    * turns near-dup PAIRS into dedup DECISIONS: every document gets the
    * minimum doc id reachable through dup edges as its cluster id; the
    * cluster representative (id == cluster) is the canonical copy to keep.
    *
    * Min-label propagation: each iteration every node takes the min of
    * its own and its neighbors' labels (one join + one groupBy), until a
    * fixpoint — at most graph-diameter iterations, and dup graphs are
    * shallow (near-clique clusters), so convergence is fast. Per
    * iteration the frame is localCheckpoint'd to keep lineage flat. At
    * 100 TB the same loop holds (labels/edges are (long, long) rows);
    * pathological long-chain graphs want the large-star/small-star
    * variant (Kiveris et al., "Connected components in MapReduce and
    * beyond", SoCC'14) — same join-groupBy primitives, fewer rounds.
    */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 50): DataFrame = {
    // every generation is EAGERLY localCheckpoint'd: each `next`
    // references the previous labels frame 3× (join, union, convergence
    // check), so without lineage TRUNCATION Catalyst re-analyzes a plan
    // that grows ~3× per iteration — measured 44 s of pure driver
    // analysis by iteration ~10 on a 60-node graph, unbounded beyond.
    // persist() would release blocks sooner but does NOT truncate
    // analysis lineage; the checkpointed generations are label-sized
    // (two longs per node) and their blocks are reclaimed at the next
    // driver GC (NOTES.md).
    val edges = pairs
      .select(col("doc_a").as("u"), col("doc_b").as("v"))
      .union(pairs.select(col("doc_b").as("u"), col("doc_a").as("v")))
      .localCheckpoint(true)
    var labels = edges.select(col("u").as("id")).distinct()
      .withColumn("lbl", col("id")).localCheckpoint(true)
    var changed = if (labels.isEmpty) 0L else 1L
    var iters = 0
    while (changed > 0 && iters < maxIters) {
      val next = labels.as("l")
        .join(edges.as("e"), col("l.id") === col("e.v"))
        .select(col("e.u").as("id"), col("l.lbl").as("lbl"))
        .union(labels)
        .groupBy(col("id")).agg(min(col("lbl")).as("lbl"))
        .localCheckpoint(true)
      changed = next.as("n")
        .join(labels.as("p"), col("n.id") === col("p.id"))
        .filter(col("n.lbl") =!= col("p.lbl")).count()
      labels = next
      iters += 1
    }
    require(changed == 0,
      s"label propagation did not converge in $maxIters")
    labels
  }

  /** Connected components by ALTERNATING LARGE-STAR/SMALL-STAR (Kiveris
    * et al., "Connected components in MapReduce and beyond", SoCC'14) —
    * the round-efficient twin of [[connectedComponents]] for graphs with
    * LONG CHAINS. Min-label propagation moves a label one hop per round
    * (diameter rounds total: a 10⁶-link chain is 10⁶ shuffles); the star
    * operations rewire the graph itself, halving-or-better the effective
    * diameter per alternation (O(log²) rounds on any graph, O(log) in
    * practice):
    *
    *  - large-star, per node u: every strictly-larger neighbor is
    *    re-attached to m = min(Γ(u) ∪ u);
    *  - small-star, per node u: every smaller-or-equal neighbor (and u)
    *    is re-attached to m = min of those neighbors.
    *
    * Both are one groupBy + one equi-join over (long, long) edge rows —
    * the same primitives as propagation, so the 100 TB story is
    * identical per round, just with far fewer rounds. Converges to star
    * graphs rooted at each component's minimum (the paper's invariant),
    * from which labels read off as min(Γ(u) ∪ u). Fixpoint detection:
    * edge-set signature (count + order-independent XOR of edge hashes;
    * edges are distinct so XOR cancellation needs a hash collision) —
    * byte-equal frames are not required, only set equality.
    *
    * Dup graphs are usually shallow (near-clique clusters), so the
    * registered queries keep propagation ([[clusterLabels]]); this is
    * the documented escape hatch when a profile shows deep chains —
    * ScaleSpec pins label equality and the round advantage.
    */
  def connectedComponentsStar(pairs: DataFrame, maxIters: Int = 30)
      : DataFrame = {
    def undirected(e: DataFrame): DataFrame =
      e.union(e.select(col("v").as("u"), col("u").as("v")))
    def signature(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)), bit_xor(xxhash64(col("u"), col("v"))))
        .collect()(0)
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    // Each generation is EAGERLY localCheckpoint'd, unlike the persist
    // juggling in connectedComponents: a star generation references its
    // predecessor ~6× (undirected doubling, two joins, the union), so
    // without lineage TRUNCATION Catalyst re-analyzes a plan that grows
    // ~6× per iteration and the driver stalls long before any executor
    // works. The checkpointed generations are tiny (edge rows), and
    // their blocks are reclaimed at the next driver GC (NOTES.md).
    // canonical direction (small → large), no self loops, distinct
    var edges = pairs
      .select(least(col("doc_a"), col("doc_b")).as("u"),
        greatest(col("doc_a"), col("doc_b")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct().localCheckpoint(true)
    var sig = signature(edges)
    var iters = 0
    var done = edges.isEmpty
    while (!done && iters < maxIters) {
      val adj = undirected(edges)
      // large-star: larger neighbors re-attach to min(Γ(u) ∪ u)
      val minsL = adj.groupBy(col("u")).agg(min(col("v")).as("mn"))
      val large = adj.as("a")
        .join(minsL.as("m"), col("a.u") === col("m.u"))
        .filter(col("a.v") > col("a.u"))
        .select(least(col("m.mn"), col("a.u")).as("u"), col("a.v").as("v"))
        .filter(col("u") =!= col("v")).distinct().localCheckpoint(true)
      // small-star over the large-star output: each node's ≤-neighbors
      // (and the node) re-attach to their minimum
      val smallAdj = undirected(large).filter(col("v") < col("u"))
      val minsS = smallAdj.groupBy(col("u")).agg(min(col("v")).as("mn"))
      val next = smallAdj.as("a")
        .join(minsS.as("m"), col("a.u") === col("m.u"))
        .select(col("m.mn").as("u"), col("a.v").as("v"))
        .union(minsS.select(col("mn").as("u"), col("u").as("v")))
        .filter(col("u") =!= col("v")).distinct().localCheckpoint(true)
      val nextSig = signature(next)
      // the signature is 64-bit — a collision across an iteration would
      // otherwise declare FALSE convergence and silently read labels off
      // a non-star graph. When signatures first match, confirm real set
      // equality with one cheap exceptAll (counts already match, so one
      // direction suffices); a collision then just keeps iterating.
      done = nextSig == sig && next.exceptAll(edges).isEmpty
      edges = next
      sig = nextSig
      iters += 1
    }
    require(done, s"star contraction did not converge in $maxIters")
    // converged: star graphs rooted at component minima — labels read
    // off as min over the closed neighborhood; roots label themselves.
    // Nodes whose only edges were self-loops were dropped with those
    // loops at canonicalization — re-attach them as their own singleton
    // components so the output node set matches propagation's exactly.
    val adj = undirected(edges)
    val starLabels = adj.groupBy(col("u")).agg(min(col("v")).as("mn"))
      .select(col("u").as("id"), least(col("u"), col("mn")).as("lbl"))
    val allNodes = pairs.select(col("doc_a").as("id"))
      .union(pairs.select(col("doc_b").as("id"))).distinct()
    allNodes.join(starLabels, Seq("id"), "left")
      .select(col("id"), coalesce(col("lbl"), col("id")).as("lbl"))
      .localCheckpoint()
  }

  /** INCREMENTAL connected components — the continuous-ingest companion
    * to [[dedup_incremental]]'s pair stream: fold a new batch of dup
    * edges into EXISTING labels without revisiting the historical pair
    * table. A label table IS a star graph (every node linked to its
    * component root), and star graphs preserve connectivity — so
    * labels-as-edges ∪ new-pairs has exactly the components of
    * old-pairs ∪ new-pairs, at the cost of |nodes| + |batch| edges
    * instead of |all historical pairs|. Runs the round-efficient star
    * contraction (the batch may chain components together). Spec pins
    * incremental == monolithic recompute.
    */
  def incrementalComponents(labels: DataFrame, newPairs: DataFrame)
      : DataFrame =
    connectedComponentsStar(
      labels.select(col("id").as("doc_a"), col("lbl").as("doc_b"))
        .union(newPairs.select(col("doc_a"), col("doc_b"))))

  /** Co-occurring doc pairs by per-gram combination generation (groupBy
    * gram, collect doc list, explode ordered pairs): Σ df² rows. This is
    * the NAIVE candidate generator — quadratic in the hottest gram's df —
    * kept as the pruning baseline [[prefixCandidates]] is spec-measured
    * against (ScaleSpec); production paths never run it.
    */
  def allPairs(posts: DataFrame): DataFrame =
    posts.groupBy(col("g")).agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) > 1)
      .select(explode(col("ds")).as("doc_a"), col("ds"))
      .select(col("doc_a"), explode(col("ds")).as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
      .distinct()

  /** Per-doc prefix postings (doc_id, sz, g) for Jaccard threshold `t`
    * (Bayardo WWW'07): each doc's first |d|−⌈t·|d|⌉+1 grams in the global
    * (df asc, gram asc) order — a total order that is a pure function of
    * the gram, as the prefix principle requires — with the doc's
    * distinct-set size riding along. Any pair with J ≥ t provably shares
    * a kept gram (prefix principle with per-record overlap bound
    * α=⌈t·|d|⌉ ≤ |A∩B|). Shared by the full self-join candidate
    * generator and the incremental batch path.
    */
  def prefixPosts(posts: DataFrame, t: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // one ordered window spec serves both rank and size (the count takes
    // the explicit full frame), so Catalyst plans a single Window node —
    // one shuffle + one sort per doc
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("g"))
    val full = byDoc.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val dfreq = posts.groupBy(col("g")).agg(count(lit(1)).as("df"))
    posts.join(dfreq, "g")
      .withColumn("sz", count(lit(1)).over(full))
      .withColumn("rk", row_number().over(byDoc))
      .filter(col("rk") <= col("sz") - ceil(lit(t) * col("sz")) + 1)
      .select(col("doc_id"), col("sz"), col("g"))
  }

  /** Prefix-filtered candidate pairs for Jaccard threshold `t`: the
    * [[prefixPosts]] self-join, grouped per gram. Emits
    * (doc_a, sza, doc_b, szb) with the set sizes riding along so the
    * verifier needs no extra size join, and applies the exact length
    * filter J ≤ min/max ⟹ sizes within factor t.
    */
  def prefixCandidates(posts: DataFrame,
      t: Double): DataFrame =
    prefixPosts(posts, t)
      .groupBy(col("g"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("sz")))).as("ds"))
      .filter(size(col("ds")) > 1)
      .select(explode(col("ds")).as("a"), col("ds"))
      .select(col("a"), explode(col("ds")).as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("a.sz").as("sza"),
        col("b.doc_id").as("doc_b"), col("b.sz").as("szb"))
      .filter(least(col("sza"), col("szb")) >=
        lit(t) * greatest(col("sza"), col("szb")))
      .distinct()

  private[graft] def probeVerify(cand: DataFrame, docSets: DataFrame,
      thr: Double): DataFrame =
    verifyJaccard(cand, docSets, thr, broadcastDocs = true)

  /** Incremental candidate pairs: candidates TOUCHING a new document
    * batch — (new × corpus) ∪ (new × new) — without ever generating the
    * corpus × corpus combinations an already-deduped corpus does not need
    * re-checked. This is the production shape of continuous dedup: each
    * arriving shard is joined prefix-against-prefix with the full posting
    * set, so per-batch cost is governed by the BATCH's prefix size, not
    * the corpus pair count. The prefix principle applies per pair, so
    * restricting one join side to the batch loses nothing: any pair with
    * J ≥ t and ≥ one new member shares a gram in both members' prefixes,
    * and the (new-prefix ⋈ all-prefix) equi-join meets exactly there.
    * Gram df (the prefix ordering) is computed over corpus+batch; a
    * production pipeline maintains that stat table incrementally with the
    * same groupBy. New×new pairs are met from both sides — canonicalized
    * (doc_a < doc_b) and distinct'd, as the self-join path already does.
    */
  def incrementalCandidates(posts: DataFrame, t: Double,
      isNew: Column => Column): DataFrame = {
    val pref = prefixPosts(posts, t)
    val newSide = pref.filter(isNew(col("doc_id"))).toDF("doc_n", "szn", "g")
    val allSide = pref.toDF("doc_o", "szo", "g")
    newSide.join(allSide, "g")
      .filter(col("doc_n") =!= col("doc_o"))
      .select(
        least(col("doc_n"), col("doc_o")).as("doc_a"),
        when(col("doc_n") < col("doc_o"), col("szn")).otherwise(col("szo"))
          .as("sza"),
        greatest(col("doc_n"), col("doc_o")).as("doc_b"),
        when(col("doc_n") < col("doc_o"), col("szo")).otherwise(col("szn"))
          .as("szb"))
      .filter(least(col("sza"), col("szb")) >=
        lit(t) * greatest(col("sza"), col("szb")))
      .distinct()
  }

  /** Exact |A∩B| for candidate pairs only, then J = c / (|A|+|B|−c),
    * emitting pairs with round(J,4) ≥ thr. `docSets` carries each doc's
    * sorted distinct gram array (doc_id, gs) — built row-locally by the
    * SortedDistinctLongs kernel, no collect_list aggregation — and the
    * intersection is computed per PAIR by the fused two-pointer merge
    * [[graft.functions.TextExprs.SortedIntersectSize]] — no
    * candidates × set-size row expansion through a shuffle, no post-join
    * aggregation (the exploded-posting verify join was measured 19 s vs
    * ~4 s for this shape at sf0.1).
    */
  private def verifyJaccard(cand: DataFrame, docSets: DataFrame,
      thr: Double, broadcastDocs: Boolean = false): DataFrame = {
    // broadcastDocs: the caller asserts the doc-set side is
    // budget-bounded (the gate truth builds cap at ~[[LshGateTargetDocs]]
    // docs × ~200 grams ≈ 80 MB — broadcast-class at ANY corpus size by
    // construction). Without the hint the planner's array-size estimate
    // tips the join to sort-merge past ~10 MB, and the candidate stream
    // is shuffled TWICE with both gram arrays attached — measured 358 s
    // vs ~23 s at sf1 (bench/lsh_truth_probe_r16_sf1*.json). Corpus-sized
    // doc-set sides (ngramJaccardPairs) keep the planner's choice.
    def side(nm: String) = {
      val d = docSets.toDF(nm, "gs" + nm.takeRight(1))
      if (broadcastDocs) broadcast(d) else d
    }
    cand
      .join(side("doc_a"), "doc_a")
      .join(side("doc_b"), "doc_b")
      .withColumn("c", graft.functions.TextExprs
        .sortedIntersectSize(col("gsa"), col("gsb")))
      .withColumn("jaccard", round(
        col("c").cast("double") / (col("sza") + col("szb") - col("c")), 4))
      .filter(col("jaccard") >= thr)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** The verified token-trigram Jaccard pair table (J ≥ 0.5), materialized
    * ONCE per (session, scale dir) and shared by every consumer —
    * `dedup_ngram_jaccard` reports it, `dedup_clusters` clusters it. A
    * production pipeline persists this pair table as a maintenance output
    * and each downstream job reads it; recomputing the candidate+verify
    * pipeline per consumer doubles the most expensive dedup stage for no
    * reason. Keyed by the session too (not just the dir) because the
    * cached frame's checkpoint blocks live inside that session. The
    * eager checkpoint materializes the (tiny: pairs-above-threshold)
    * result immediately so the posting-list checkpoint backing it can be
    * released right away instead of waiting on a driver GC.
    */
  // session-scoped memoization via [[SessionCache]] (strong keys +
  // applicationEnd eviction — see its scaladoc for why weak keys can't work)
  private[graft] def ngramJaccardPairs(s: SparkSession, d: String): DataFrame =
    SessionCache
      .getOrElseUpdate(s, "ngramPairs#" + d, {
        // the doc-set arrays feed the posting explode (df table + prefix
        // ranking) and both sides of the verification join — persist()
        // (NOT localCheckpoint: on a checkpointed frame unpersist() only
        // touches the CacheManager, never the RDD blocks, so "release"
        // would wait on a driver GC), then drop the cache once the eager
        // pair checkpoint has consumed it. Same reasoning as
        // connectedComponents' generation caches.
        val docs = ngramDocSets(s, d).persist()
        try verifyJaccard(
          prefixCandidates(
            docs.select(col("doc_id"), explode(col("gs")).as("g")), 0.5),
          docs, 0.5)
          .localCheckpoint(true)
        finally docs.unpersist(false)
      })

  /** Connected-component labels over [[ngramJaccardPairs]], materialized
    * once per (session, dir) for the same reason as the pair table: the
    * cluster-assignment table is a persisted artifact every downstream
    * consumer (cluster report, corpus dedup-apply) reads, not a
    * per-query recomputation. connectedComponents already returns an
    * eagerly checkpointed frame.
    */
  private[graft] def ngramClusterLabels(s: SparkSession, d: String): DataFrame =
    SessionCache
      .getOrElseUpdate(s, "ngramPairs#" + d + "#cc", connectedComponents(
        ngramJaccardPairs(s, d).select(col("doc_a"), col("doc_b"))))

  /** The shared front half of the ExactSubstr pair: the corpus window
    * stream `(doc_id, pos, h)` over fused [[graft.functions.TextExprs
    * .TokenNgramHashes]] 64-bit n-gram hashes, and the hashes occurring
    * ≥ 2 times corpus-wide (cross-doc or a within-doc repeat). Both
    * frames shuffle 8-byte keys, never gram text, and both are lazily
    * checkpointed: the window stream feeds the occurrence count AND a
    * probe join in each consumer, the dup set is shared across BOTH
    * span queries when reached through [[dupWindowStreamCached]].
    */
  private def winsOf(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"),
      posexplode(graft.functions.TextExprs.tokenNgramHashes(col("text"), n))
        .as(Seq("pos", "h")))
      // DISK_ONLY, not the default MEMORY_AND_DISK: this is the largest
      // session-memoized artifact (every token window of every doc —
      // measured +2.2 GB of live heap at sf10), and deserialized heap
      // residency for the whole session was the top contributor to the
      // accumulated-state slowdown the round-14 reverse-order bench
      // probe isolated (q20 gate 36 s at a 3.4 GB live set vs 9.4 s at
      // 145 MB). On disk the blocks ride the OS page cache (RAM-speed
      // re-reads) without taxing every later query's allocator.
      .localCheckpoint(false,
        org.apache.spark.storage.StorageLevel.DISK_ONLY)

  private def dupWindowStream(docs: DataFrame, n: Int)
      : (DataFrame, DataFrame) = {
    val wins = winsOf(docs, n)
    (wins, dupGramsOf(wins))
  }

  private def dupGramsOf(wins: DataFrame): DataFrame =
    wins.groupBy(col("h"))
      .agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2)
      .select(col("h"))
      .localCheckpoint(false)

  /** Session-memoized [[dupWindowStream]] over the corpus `documents`
    * table — coverage and excise read the SAME materialized window
    * stream and dup set (the ngram-pair-table idiom: whichever query
    * runs first absorbs the build).
    */
  private def dupWindowStreamCached(s: SparkSession, d: String, n: Int)
      : (DataFrame, DataFrame) = {
    // winsOf, not dupWindowStream: the latter would plan (and discard)
    // a dup-set frame on every cache miss just to take ._1
    val wins = SessionCache.getOrElseUpdate(s, s"spanWins#$d#$n",
      winsOf(documents(s, d), n))
    (wins, SessionCache.getOrElseUpdate(s, s"spanDup#$d#$n",
      dupGramsOf(wins)))
  }

  /** Duplicate-span coverage (Lee et al., "Deduplicating Training Data
    * Makes Language Models Better", ACL'22 — the ExactSubstr statistic):
    * a token `n`-window is DUPLICATED if its gram occurs ≥ 2 times
    * anywhere in the corpus (cross-doc or a within-doc repeat); per doc,
    * report how many token positions are covered by at least one
    * duplicated window. The full suffix-array dedup REMOVES these spans
    * ([[spanExcise]]); the coverage profile is the measurement pass that
    * sizes that decision (and the per-doc filter signal: high-coverage
    * docs are boilerplate).
    *
    * Scale shape: see [[dupWindowStream]] for the hashed window stream.
    * Coverage is the classic sorted-interval union, computed with one
    * per-doc window (lag over pos): fixed width w makes the union length
    * Σ min(w, posᵢ − posᵢ₋₁) — integer-exact, no geometry. doc_id is a
    * high-cardinality partition key, so the window spreads across the
    * cluster (see the EventOps cardinality ledger). The DuckDB oracle
    * groups by the gram STRING instead of the hash, so the gate also
    * proves hash-grouping ≡ string-grouping on this corpus (a 64-bit
    * collision would fail the gate loudly, not skew results silently).
    */
  private[graft] def spanCoverage(docs: DataFrame, n: Int): DataFrame =
    spanCoverageFrom(docs, n, dupWindowStream(docs, n))

  private def spanCoverageFrom(docs: DataFrame, n: Int,
      stream: (DataFrame, DataFrame)): DataFrame = {
    val (wins, dupGrams) = stream
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val cov = wins.join(dupGrams, Seq("h"))
      .withColumn("prev", lag(col("pos"), 1).over(byPos))
      .withColumn("add", when(col("prev").isNull, lit(n))
        .otherwise(least(lit(n), col("pos") - col("prev"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_windows"),
        sum(col("add")).as("covered_tokens"))
    val nToks = size(split(col("text"), " "))
    val stats = docs.select(col("doc_id"),
      nToks.cast("long").as("n_tokens"),
      greatest(nToks - (n - 1), lit(0)).cast("long").as("n_windows"))
    stats.join(cov, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_tokens"), col("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"))
      .withColumn("dup_ratio",
        round(col("covered_tokens").cast("double") / col("n_tokens"), 4))
      .orderBy(col("doc_id"))
  }

  /** The APPLY half of ExactSubstr dedup (the removal [[spanCoverage]]
    * measures): drop every token covered by a duplicated `n`-window and
    * emit the cleaned document's shape — kept-token count and an md5
    * fingerprint of the excised text (the text itself never leaves the
    * executors, the same ships-hashes-not-text contract as
    * text_normalize / curate_chunk_documents).
    *
    * Scale shape: covered positions explode from dup windows only (≤ n×
    * the duplicated-window count, not the corpus), the token stream is
    * a row-local explode, and the kept set is a LEFT ANTI join on the
    * high-cardinality (doc_id, pos) key. The rebuild is the same
    * doc-bounded sorted-fold device as text_lm_perplexity: collect each
    * doc's kept (pos, token) pairs, sort, join — per-doc state is one
    * document's tokens, never a window funnel. A doc whose every token
    * is covered (doc0 in the spec) keeps zero tokens and fingerprints
    * the empty string.
    */
  private[graft] def spanExcise(docs: DataFrame, n: Int): DataFrame =
    spanExciseFrom(docs, n, dupWindowStream(docs, n))

  private def spanExciseFrom(docs: DataFrame, n: Int,
      stream: (DataFrame, DataFrame)): DataFrame = {
    val (wins, dupGrams) = stream
    val covered = wins.join(dupGrams, Seq("h"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (n - 1))).as("pos"))
      .distinct()
    val toks = docs.select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
    val kept = toks.join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("kept_tokens"),
        array_sort(collect_list(struct(col("pos"), col("tok")))).as("arr"))
      .select(col("doc_id"), col("kept_tokens"),
        md5(array_join(transform(col("arr"), x => x.getField("tok")), " "))
          .as("clean_md5"))
    docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .join(kept, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
        coalesce(col("clean_md5"), md5(lit(""))).as("clean_md5"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, Q] = Map(
    // MinHash + LSH banding + exact-Jaccard verification, J >= 0.8 on
    // char 5-gram shingles.
    "dedup_minhash_lsh" -> ((s, d) => {
      // localCheckpoint: the doc-set arrays feed the signature projection
      // and both sides of the verification join; materializing once stops
      // the scan+kernel subtree from re-running per branch.
      val docs = shingleDocSets(s, d).localCheckpoint(false)
      val (nb, nr) = (Bands, rowsOf(s, d))
      // the ENTIRE signature is a row-local projection (fused K-min
      // kernel + size of the distinct array): the old groupBy over the
      // exploded postings — the pipeline's biggest shuffle plus a
      // 97-column codegen'd aggregate with multi-second JIT — is gone;
      // the first shuffle of the minhash pipeline is now the banded
      // candidate join below, which moves nb rows of 24 bytes per doc.
      val sig = docs.select(col("doc_id"), size(col("gs")).as("sz"),
        graft.functions.TextExprs.minhashSignature(col("gs"), nb * nr)
          .as("sig"))
      // band hash = xxhash64 over the band's nr signature components —
      // the same chain the m0..m95 column formulation hashed
      val bandCols = (0 until nb).map { b =>
        struct(lit(b).as("band"),
          xxhash64((b * nr until (b + 1) * nr)
            .map(j => element_at(col("sig"), j + 1)): _*).as("bh"))
      }
      val banded = sig
        .select(col("doc_id"), col("sz"), explode(array(bandCols: _*)).as("bb"))
        .select(col("doc_id"), col("sz"),
          col("bb.band").as("band"), col("bb.bh").as("bh"))
      val a = banded.toDF("doc_a", "sza", "band", "bh")
      val b = banded.toDF("doc_b", "szb", "band", "bh")
      val cand = a.join(b, Seq("band", "bh"))
        .filter(col("doc_a") < col("doc_b"))
        // length filter (exact): J(A,B) <= min(|A|,|B|)/max(|A|,|B|), so
        // J >= 0.8 needs set sizes within 25% — prunes cross-length band
        // collisions before the pair-level verification join
        .filter(least(col("sza"), col("szb")) >=
          lit(0.8) * greatest(col("sza"), col("szb")))
        .select(col("doc_a"), col("doc_b"), col("sza"), col("szb")).distinct()
      // Exact |A∩B| for candidates only via the fused sorted-array merge
      // over the row-local doc sets — the exploded-posting join shape was
      // measured ~4× slower at sf0.1. Never an all-pairs pass —
      // char-shingle document frequency is heavy-tailed, so Σ df²
      // combination counting would blow up.
      verifyJaccard(cand, docs, 0.8)
    }),

    // ORACLE GATE for the banded-minhash path at scales where the
    // all-pairs DuckDB formulation is infeasible (measured r8: the
    // char-5-gram grouped-intersection rewrite needs Σdf² ≈ 1.5e9 join
    // rows at sf0.1, and the prefix-filtered DuckDB variant ran >10 min
    // there too). Ground truth comes from the ENGINE's exact
    // prefix-filter kernel instead — [[prefixCandidates]] is provably
    // lossless for J ≥ t (Bayardo WWW'07) and [[verifyJaccard]] is
    // exact, both DuckDB-gated on the token-trigram family — applied to
    // the SAME char-5-gram doc sets the LSH query hashes. Two flags,
    // one hash-checkable row:
    //  - precision_ok: every LSH pair IS a truth pair (an invariant, not
    //    a tolerance — both sides exact-verify round(J,4) ≥ 0.8 on
    //    identical doc sets, so any extra pair is a bug);
    //  - recall_ok: hit-rate over the truth pairs ≥ the banding S-curve
    //    floor 1−(1−t^r)^b at t=0.8 for the session's (b, r) geometry,
    //    minus 3σ binomial slack at the observed truth-pair count (the
    //    floor is each pair's detection probability AT the threshold;
    //    pairs above it detect more often, but a finite sample of
    //    near-threshold pairs can dip below the mean).
    // The constant-group anchor keeps the empty-corpus → zero-rows
    // contract; a non-empty corpus with zero truth pairs passes recall
    // vacuously and still gates precision.
    // Past [[LshGateTargetDocs]] the truth table is COUNT-BOUNDED (the
    // exactTwinModulus convention): both the truth computation and the
    // LSH side restrict to the documents whose FIRST sorted gram hashes
    // into the modulus class. Keying the subset on the minimum gram —
    // not the doc id — keeps near-dup cliques TOGETHER (a J ≥ 0.8 pair
    // shares its min gram with probability ≈ J), so the sampled truth
    // retains ~J/m of the pairs instead of the 1/m² an id-keyed sample
    // would leave; the mild high-J selection bias this introduces only
    // RAISES the expected recall of the sample, and precision stays an
    // invariant (same docs, same exact verify on both sides).
    "dedup_minhash_lsh_gate" -> ((s, d) => {
      val (truth, lsh) = lshGateSides(s, d)
      val (nb, nr) = bandGeometry(s, d)
      val floor = 1.0 - math.pow(1.0 - math.pow(0.8, nr), nb)
      val stats = truth
        .join(lsh.withColumn("hit", lit(1)), Seq("doc_a", "doc_b"), "left")
        .agg(count(lit(1)).as("n_truth"), count(col("hit")).as("n_hit"))
        .crossJoin(lsh.agg(count(lit(1)).as("n_lsh")))
      documents(s, d).groupBy(lit(0.8).as("t"))
        .agg(count(lit(1)).as("nd"))
        .crossJoin(stats)
        .select(col("t"),
          ((col("n_truth") === 0) ||
            (col("n_hit").cast("double") /
              greatest(col("n_truth"), lit(1L)).cast("double") >=
              lit(floor) - lit(3.0) * sqrt(lit(floor * (1.0 - floor)) /
                greatest(col("n_truth"), lit(1L)).cast("double"))))
            .as("recall_ok"),
          (col("n_lsh") === col("n_hit")).as("precision_ok"))
    }),

    // Exact token-trigram Jaccard, J >= 0.5, via prefix filtering: rank
    // each doc's grams rarest-first, generate candidates only from the
    // first |d|−⌈t·|d|⌉+1 grams (provably lossless for J ≥ t), verify the
    // candidates exactly from the full postings. Exact all-pairs output,
    // without the Σ df² combination blowup on hot grams.
    "dedup_ngram_jaccard" -> ((s, d) =>
      // the re-sort is over the pairs-above-threshold output — trivial
      // next to the shared pipeline the materialized table amortizes
      ngramJaccardPairs(s, d).orderBy(col("doc_a"), col("doc_b"))),

    // Inter-source overlap matrix: which corpus sources duplicate each
    // other — the provenance question behind every web-crawl dedup run
    // (mirror sites, syndication, re-crawls land in different source
    // buckets). Reads the SAME materialized pair table as
    // dedup_ngram_jaccard (pairs-above-threshold — tiny next to the
    // corpus at any scale), joins doc→source for both endpoints, and
    // reports per unordered source pair: pair count, exact-decimal
    // Jaccard mass, and max Jaccard. The pair table is small, so AQE
    // broadcasts it against the documents projection; Jaccard sums go
    // through DECIMAL(18,4) (values are round(...,4) by construction) so
    // the result is order-independent at any parallelism.
    "dedup_source_overlap" -> ((s, d) => {
      val src = documents(s, d).select(col("doc_id"), col("source"))
      ngramJaccardPairs(s, d)
        .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")),
          Seq("doc_a"))
        .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")),
          Seq("doc_b"))
        .select(least(col("sa"), col("sb")).as("source_lo"),
          greatest(col("sa"), col("sb")).as("source_hi"), col("jaccard"))
        .groupBy(col("source_lo"), col("source_hi"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("jaccard").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
            .cast("double").as("sum_jaccard"),
          max(col("jaccard")).as("max_jaccard"))
        .orderBy(col("source_lo"), col("source_hi"))
    }),

    // Benchmark decontamination (Brown et al. GPT-3 appendix C; Dodge et
    // al. "Documenting large webtext corpora", EMNLP'21): flag training
    // documents sharing any long n-gram (8 tokens here) with the
    // benchmark set — doc_id < 10 stands in for the eval-benchmark table.
    // Benchmark postings are tiny at any scale (benchmarks are MBs), so
    // AQE broadcasts the distinct-gram side; the training corpus is
    // scanned once and never shuffled on text.
    "dedup_contamination" -> ((s, d) =>
      contaminationHits(s, d)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shared_8grams"))
        .orderBy(col("doc_id"))),

    // The 100 TB decontamination plan: same semantics as
    // `dedup_contamination`, but the corpus posting stream is pre-pruned
    // by a Bloom filter built over the benchmark's distinct gram hashes
    // (fixed-size — benchmarks are MBs at any corpus scale) BEFORE the
    // join exchange. At sf the join sides are comparable, but at 100 TB
    // the corpus posting side dwarfs the benchmark: the codegen'd probe
    // turns non-matching postings around at the scan instead of shipping
    // the whole corpus posting table through the shuffle. The exact join
    // that follows drops bloom false positives, so the output is
    // bit-identical to the plain plan — one oracle gates both.
    "dedup_contamination_bloom" -> ((s, d) => {
      val posts8 = ngramPosts(s, d, n = 8)
      // materialized: feeds both the driver-side bloom build (an action)
      // and the confirming join — without this the posting explode runs
      // twice for the tiny benchmark side
      val bench = posts8.filter(col("doc_id") < 10)
        .select(col("g")).distinct().localCheckpoint(false)
      // Spark's stat.bloomFilter NPEs on a ZERO-ROW build side (no
      // partial filter to merge) — an empty benchmark shard is routine,
      // and with nothing to prune the plain (empty) join is the answer
      val corpus = posts8.filter(col("doc_id") >= 10)
      val pruned =
        if (bench.isEmpty) corpus
        else corpus.filter(graft.functions.BloomExprs.mightContainLong(
          bench.stat.bloomFilter("g", 1L << 20, 0.01), col("g")))
      pruned.join(bench, "g")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shared_8grams"))
        .orderBy(col("doc_id"))
    }),

    // Pairs → clusters → keep/drop: connected components over the exact
    // ngram-Jaccard pairs; cluster id = min reachable doc id, the
    // representative (doc_id == cluster_id) is the kept copy. The full
    // dedup pipeline's decision step, oracle-checked against a recursive
    // CTE over the same pair semantics.
    "dedup_clusters" -> ((s, d) => {
      ngramClusterLabels(s, d)
        .select(col("id").as("doc_id"), col("lbl").as("cluster_id"),
          (col("id") === col("lbl")).as("keep"))
        .orderBy(col("doc_id"))
    }),

    // The ROUND-BOUNDED twin of dedup_clusters: same verified pair
    // table, labels from the alternating large-star/small-star
    // contraction ([[connectedComponentsStar]]) instead of min-label
    // propagation — O(log²) alternations on ANY graph shape where
    // propagation needs diameter rounds. Gated against the SAME
    // recursive-CTE oracle, so the choice between the two is a measured
    // one: propagation for known-shallow dup graphs (fewer jobs per
    // round), star contraction for an unknown corpus (bounded rounds).
    "dedup_clusters_star" -> ((s, d) => {
      connectedComponentsStar(
        ngramJaccardPairs(s, d).select(col("doc_a"), col("doc_b")))
        .select(col("id").as("doc_id"), col("lbl").as("cluster_id"),
          (col("id") === col("lbl")).as("keep"))
        .orderBy(col("doc_id"))
    }),

    // Incremental dedup: the pairs a NEWLY ARRIVED batch (doc_id ≡ 0
    // mod 10 stands in for the batch) forms against the existing corpus
    // and within itself, J >= 0.5 on token trigrams — computed without
    // regenerating any corpus×corpus candidate (see
    // [[incrementalCandidates]]). Output is exactly the full pair table
    // restricted to pairs touching the batch (spec-asserted), so a
    // continuous pipeline appending batch after batch converges to the
    // same dedup decisions as a monolithic recompute.
    "dedup_incremental" -> ((s, d) => {
      // the doc-set arrays feed the posting explode (df + both prefix
      // sides) and the verifier — materialize once (same pattern as the
      // minhash doc sets)
      val docs = ngramDocSets(s, d).localCheckpoint(false)
      val posts = docs.select(col("doc_id"), explode(col("gs")).as("g"))
      val cand = incrementalCandidates(posts, 0.5,
        id => pmod(id, lit(10)) === 0)
      verifyJaccard(cand, docs, 0.5)
    }),

    // SimHash near-dup: 64-bit sign-sum signature over token hashes,
    // 4×16-bit band join, Hamming distance <= 3. Oracle-gated: the
    // signature hash is the shared FNV-1a+fmix64 code-point fold, which
    // the DuckDB twin replays exactly in HUGEINT modular arithmetic.
    "dedup_simhash" -> ((s, d) => {
      // fused per-row signature kernel — the explode+64-sum aggregate
      // formulation ([[simhash]], spec-pinned bit-equal) shuffles every
      // token row; the kernel makes the signature a projection over the
      // scan, so the pipeline's only shuffle is the band join
      val sims = documents(s, d).select(col("doc_id"),
        graft.functions.TextExprs.simhashSignature(col("text")).as("simhash"))
      val bandCols = (0 until 4).map { b =>
        struct(lit(b).as("band"),
          shiftrightunsigned(col("simhash"), b * 16).bitwiseAND(lit(0xFFFFL))
            .as("bh"))
      }
      val banded = sims
        .select(col("doc_id"), col("simhash"),
          explode(array(bandCols: _*)).as("bb"))
        .select(col("doc_id"), col("simhash"),
          col("bb.band").as("band"), col("bb.bh").as("bh"))
      val a = banded.toDF("doc_a", "sim_a", "band", "bh")
      val b = banded.toDF("doc_b", "sim_b", "band", "bh")
      a.join(b, Seq("band", "bh"))
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).as("hamming"))
        .distinct()
        .filter(col("hamming") <= 3)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Embedding-cosine near-dup, blocked by label (dedup within a
    // shard/source): all pairs within a block with cosine >= 0.30. The
    // within-block join is quadratic in the block size — so blocks over
    // [[maxCosineBlockRowsOf]] rows are ROUTED through the shared
    // spherical k-means cells (the [[semanticPairs]] kernel over the
    // SAME memoized IVF index every semantic/ANN consumer serves from)
    // instead of melting a stage or refusing: within-label work becomes
    // within-(label, cell), whose size the self-derived cell geometry
    // bounds at ~[[Ann.TargetCellRows]] occupancy regardless of how hot
    // the label is. Pairs from routed blocks are still EXACT-precision
    // (cosine is computed, never estimated); only recall inside a
    // routed block is approximate (soft-assignment coverage, the
    // dedup_semantic contract — DedupAnnSpec measures it). At driver
    // scales no block exceeds the default cap, so the gated result is
    // the pre-routing exact kernel bit-for-bit.
    "dedup_embedding_cosine" -> ((s, d) => cosinePairsRouted(s, d)),

    // SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    // embeddings on the unit sphere, then near-dup only WITHIN each
    // cluster — semantic duplicates co-locate, so the quadratic work is
    // ~n²/k instead of n². This is the LEARNED-blocking twin of
    // dedup_embedding_cosine's label blocking, and it reuses the SAME
    // memoized spherical k-means cells the ANN path serves from (one
    // clustering pays for both operators). MULTI-CELL assignment
    // (round-5): single-cell SemDeDup measured recall 0.31 on the
    // near-uniform worst-case corpus because 0.30-cosine pairs sit ~72°
    // apart and straddle cell boundaries — so the join runs
    // primary-assignment ⋈ top-[[SemDedupProbes]] soft-assignment
    // ([[Ann.softCellsOf]]): a pair is found whenever EITHER side's
    // primary cell is among the other's nearest cells, at ≤ Probes× the
    // single-cell join rows (never Probes²: one side stays primary).
    // Production sizes the cell count to n/target-block (Ann.Cells here
    // is test-scale geometry); the block guard fails fast if a cell
    // outgrows the cap. Approximate by design — pairs outside any
    // shared probed cell are still missed, so there is no SQL oracle;
    // DedupAnnSpec pins exactness of every reported pair (precision
    // 1.0) and gates recall ≥ 0.6 against the global brute-force pair
    // set on this worst-case corpus. Cell count is the deployment knob
    // (spark.graft.ann.cells): size it ≈ n / target-block so occupancy —
    // and with it the within-cell quadratic — stays constant at any n.
    "dedup_semantic" -> ((s, d) => {
      val (p, soft) = semanticSides(s, d)
      semanticPairs(p, soft)
        .distinct()
        .orderBy(col("vec_a"), col("vec_b"))
    }),

    // Continuous-ingest companion for the semantic family — the
    // embedding twin of dedup_incremental: the pairs a NEWLY ARRIVED
    // batch of vectors (vec_id ≡ 0 mod 10 stands in) forms against the
    // existing corpus and within itself, WITHOUT re-running the
    // corpus×corpus within-cell join. Both monolithic orientations are
    // covered batch-boundedly — corpus-primary ⋈ batch-soft catches
    // "an existing vector's primary cell is among the newcomer's
    // probes", batch-primary ⋈ corpus-soft the reverse — so the output
    // is EXACTLY the monolithic dedup_semantic restricted to pairs
    // touching the batch (spec-pinned; same memoized index/centroids
    // on both paths). The corpus-side soft projection is a row-local
    // scan (like dedup_incremental reading the full posting side); the
    // JOINS are what stay batch-sized.
    "dedup_semantic_incremental" -> ((s, d) => {
      val (p, soft) = semanticSides(s, d)
      def inBatch(df: DataFrame): DataFrame =
        df.filter(pmod(col("vec_id"), lit(10)) === 0)
      semanticPairs(p, inBatch(soft))
        .unionByName(semanticPairs(inBatch(p), soft))
        .distinct()
        .orderBy(col("vec_a"), col("vec_b"))
    }),

    // EXACT-MODE twin of dedup_semantic: the SAME pair kernel
    // ([[semanticPairs]] — cosine, 4-digit rounding, ≥0.30 threshold,
    // least/greatest canonicalization, distinct) run at ONE-CELL
    // degenerate geometry, where the within-cell join IS the full pair
    // set and SemDeDup is exact by construction. This hash-gates the
    // kernel against a brute-force SQL oracle, reducing the production
    // entry's approximation to cell COVERAGE alone — which DedupAnnSpec
    // recall-gates (≥0.6 on the near-uniform worst case) and the
    // soft-assignment doc justifies. Inherently quadratic (n² pairs,
    // like the oracle), so the gated subset is COUNT-BOUNDED by
    // [[exactTwinModulus]] (full corpus at driver scales, ~constant
    // 2000-vector cost at any scale beyond) and block-guarded besides.
    "dedup_semantic_exact" -> ((s, d) => {
      val m = exactTwinModulus(s, d)
      val v = requireBoundedBlocks(
        embeddings(s, d)
          .filter(pmod(col("vec_id"), lit(m)) === 0)
          .select(col("vec_id"), lit(0).as("cell"),
            transform(col("embedding"), x => x.cast("double")).as("vec")),
        "cell", MaxCosineBlockRows)
      semanticPairs(spreadForJoin(v), v).distinct()
        .orderBy(col("vec_a"), col("vec_b"))
    }),

    // EXACT-MODE twin of dedup_semantic_incremental, same device: the
    // two batch-bounded orientations (corpus ⋈ batch, batch ⋈ corpus)
    // at one-cell geometry — exactly the monolithic exact pair set
    // restricted to pairs touching the batch, which the SQL oracle
    // states directly. Gates the orientation-union construction the
    // production incremental path shares.
    "dedup_semantic_incremental_exact" -> ((s, d) => {
      val m = exactTwinModulus(s, d)
      val v = requireBoundedBlocks(
        embeddings(s, d)
          .filter(pmod(col("vec_id"), lit(m)) === 0)
          .select(col("vec_id"), lit(0).as("cell"),
            transform(col("embedding"), x => x.cast("double")).as("vec")),
        "cell", MaxCosineBlockRows)
      // the "batch" is every 10th vector OF THE GATED SUBSET — the rank
      // within the subset (vec_id/m is exact: v holds multiples of m),
      // not vec_id%10, which at m a multiple of 10 would select the
      // whole subset and degenerate this twin into dedup_semantic_exact
      def inBatch(df: DataFrame): DataFrame =
        df.filter(pmod((col("vec_id") / lit(m)).cast("long"), lit(10)) === 0)
      // NO spread on either arm (unlike dedup_semantic_exact): the twin
      // is count-bounded (ExactTwinTargetRows) so each arm's kernel is
      // ≤ subset × batch ≈ 400k pairs at ANY corpus scale — a tenth of
      // the exact twin's n² kernel — and the spread exchange costs more
      // scheduling than the one-task kernel it parallelizes (measured
      // sf0.1 minima: both arms spread 1.31 s, large-arm-only 1.12 s,
      // spread-free 1.00 s — bench/micro_r16_{semtwins,twin_armfix,
      // twin_nospread}.json)
      semanticPairs(v, inBatch(v))
        .unionByName(semanticPairs(inBatch(v), v))
        .distinct()
        .orderBy(col("vec_a"), col("vec_b"))
    }),

    // Duplicate 8-token-span coverage per document (the ExactSubstr
    // measurement pass) — see [[spanCoverage]]. Shares the memoized
    // window stream + dup set with the excise twin.
    "dedup_span_coverage" -> ((s, d) =>
      spanCoverageFrom(documents(s, d), 8, dupWindowStreamCached(s, d, 8))),

    // ExactSubstr span REMOVAL (the apply twin): cleaned-doc shape +
    // md5 fingerprint of the text with duplicated 8-token spans excised
    // — see [[spanExcise]].
    "dedup_span_excise" -> ((s, d) =>
      spanExciseFrom(documents(s, d), 8, dupWindowStreamCached(s, d, 8))),
  )

  /** The two guarded join sides of the SemDeDup queries: the corpus with
    * its PRIMARY cell assignment (straight from the memoized IVF index),
    * and its SOFT assignment — each vector expanded to its
    * min(SemDedupProbes, built cells) nearest cells over the SAME
    * unit-sphere geometry the index was built with (the index stores
    * the RAW vector — the unit vector is re-derived row-locally, with
    * the build's zero-norm guard). Both sides are block-guarded: the
    * join budget is cap × probes·cap per cell (≤ probes× the
    * single-cell pairs), which only holds if BOTH inputs are bounded;
    * the soft cap scales by the probe count because soft rows are
    * probes× by construction (element 1 of the soft cells IS the
    * primary).
    */
  /** Soft cell assignment of an index frame, SERVED FROM THE INDEX: the
    * build already ran the full k·dim nearest-centroid pass per vector
    * and stored its top-[[Ann.SoftIndexWidth]] cells (`soft_cells`), so
    * the query side is a row-local slice+explode — no per-query
    * assignment recompute (at the 2M-vector/10 000-cell decade the live
    * kernel is ~1.3 Tflop per execution). The live recompute path —
    * re-derive the unit vector with the build's zero-norm guard, run
    * [[Ann.softCellsOf]] — remains the fallback for a session probing
    * WIDER than the stored width, and is what the equivalence spec pins
    * the stored path against.
    */
  private[graft] def softAssign(in: DataFrame, cents: Seq[Seq[Double]],
      probes: Int, carry: Seq[String] = Nil): DataFrame =
    if (probes <= math.min(Ann.SoftIndexWidth, cents.length) &&
        in.columns.contains("soft_cells"))
      in.select(col("vec_id") +: carry.map(col) :+
        explode(slice(col("soft_cells"), 1, probes)).as("cell") :+
        col("vec"): _*)
    else
      in.withColumn("nrm", SimilarityOps.l2norm(col("vec")))
        .withColumn("uvec", when(col("nrm") === 0, col("vec"))
          .otherwise(transform(col("vec"), x => x / col("nrm"))))
        .select(col("vec_id") +: carry.map(col) :+
          explode(Ann.softCellsOf(col("uvec"), cents, probes)).as("cell") :+
          col("vec"): _*)

  private def semanticSides(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val idx = Ann.ivfIndex(s, d)
    // a deployment may size cells below the probe width on a small
    // corpus — probe what exists, never throw
    val probes = math.min(semDedupProbesOf(s), idx.cents.length)
    val withSoft = requireBoundedBlocks(
      Ann.indexData(s, idx)
        .select(col("vec_id"), col("cell"), col("vec"), col("soft_cells")),
      "cell", MaxCosineBlockRows)
    val p = withSoft.select(col("vec_id"), col("cell"), col("vec"))
    val soft = softAssign(withSoft, idx.cents, probes)
    (p, requireBoundedBlocks(soft, "cell", probes * MaxCosineBlockRows))
  }

  /** dedup_embedding_cosine with automatic scale routing. Per-label row
    * counts (one tiny aggregate) split the corpus: labels at or under
    * the [[maxCosineBlockRowsOf]] cap take the exact within-label
    * all-pairs kernel unchanged; OVERSIZED labels are routed through
    * the shared spherical k-means cells — the index parquet already
    * holds (vec_id, label, vec, cell) for every vector, so routing is a
    * broadcast semi-join plus the [[semanticPairs]]-shaped
    * primary ⋈ soft within-(label, cell) join, no assignment recompute.
    * Routed output keeps the exact schema/semantics (label column, true
    * cosine ≥ 0.30, canonical vec_a < vec_b); what it gives up is only
    * recall WITHIN a routed block — pairs outside any shared probed
    * cell — exactly dedup_semantic's documented approximation, measured
    * in DedupAnnSpec. Routed recall is CORPUS-SHAPE-dependent, measured
    * on both shapes (r9, bench/routed_boundary_r9.json): clustered
    * corpora whose near-dups share probed cells give 1.000; the
    * adversarial boundary fixture (pairs at cosine ≈ 0.34 straddling
    * two cells with three decoy cells outranking the partner cell in
    * the probe order) gives 0.934 overall but 0.338 on the
    * near-threshold slice at the default 3 probes — 0.64/0.89 at
    * probes 5/7. `spark.graft.dedup.semanticProbes`
    * ([[semDedupProbesOf]]) is the recovery knob; join rows grow
    * linearly with it, so widen to the measured knee of YOUR corpus's
    * RoutedCosineCheck curve, not defensively. The hot-label list is a
    * BOUNDED driver collect:
    * every hot label holds > cap rows, so there are < n/cap of them
    * (50k at a billion vectors under the default cap); it is also the
    * routed-blocks REPORT, logged with per-block row counts so an
    * operator can see what was routed and re-shard if exactness there
    * matters. With no hot labels (every driver gate scale) the plan IS
    * the historical exact kernel — the union branch never exists.
    */
  private[graft] def cosinePairsRouted(s: SparkSession, d: String)
      : DataFrame = {
    val cap = maxCosineBlockRowsOf(s)
    val v = embeddings(s, d).select(col("vec_id"), col("label"),
      transform(col("embedding"), x => x.cast("double")).as("ev"))
    def exactPairs(in: DataFrame): DataFrame = {
      // explicit order before the positional rename: a using-join (the
      // hot-label anti-join) moves its key column FIRST
      val cols = in.select(col("vec_id"), col("label"), col("ev"))
      val a = cols.toDF("vec_a", "label", "ev_a")
      val b = cols.toDF("vec_b", "label", "ev_b")
      a.join(b, Seq("label"))
        .filter(col("vec_a") < col("vec_b"))
        .withColumn("cos",
          round(SimilarityOps.cosine(col("ev_a"), col("ev_b")), 4))
        .filter(col("cos") >= 0.30)
        .select(col("vec_a"), col("vec_b"), col("label"), col("cos"))
    }
    // NULL labels form no block AT ALL — the within-label equi-join is
    // null-rejecting on BOTH engines (Spark's using-join and the
    // oracle's a.label = b.label agree: null never equals null), so
    // unlabeled rows contribute zero pairs at any count. They are
    // therefore excluded from hot detection too: routing a null block
    // would be routing rows the exact semantics never pairs (and the
    // index/anti joins below are also null-rejecting, which would
    // otherwise silently mis-route them).
    val hot = v.filter(col("label").isNotNull)
      .groupBy(col("label")).agg(count(lit(1)).as("n"))
      .filter(col("n") > cap).collect()
    val pairs =
      if (hot.isEmpty) exactPairs(v)
      else {
        org.slf4j.LoggerFactory.getLogger(getClass)
          .warn(s"dedup_embedding_cosine: routing ${hot.length} label " +
          s"block(s) over $cap rows through the k-means cells " +
          s"(exact-precision, cell-coverage recall): " +
          hot.sortBy(-_.getLong(1)).take(20)
            .map(r => s"${r.get(0)}=${r.getLong(1)}").mkString(", "))
        val hotDf = s.createDataFrame(
          java.util.Arrays.asList(hot.map(r =>
            org.apache.spark.sql.Row(r.get(0))): _*),
          org.apache.spark.sql.types.StructType(Seq(v.schema("label"))))
        val small = v.join(broadcast(hotDf), Seq("label"), "left_anti")
        val idx = Ann.ivfIndex(s, d)
        val probes = math.min(semDedupProbesOf(s), idx.cents.length)
        // geometry guard, not the routing knob: cell occupancy is the
        // index's self-derived contract (~TargetCellRows); a violation
        // means the cells conf is mis-sized, which routing cannot fix
        val hotVSoft = requireBoundedBlocks(
          Ann.indexData(s, idx)
            .join(broadcast(hotDf), Seq("label"))
            .select(col("vec_id"), col("label"), col("cell"), col("vec"),
              col("soft_cells")),
          "cell", MaxCosineBlockRows)
        val hotV = hotVSoft
          .select(col("vec_id"), col("label"), col("cell"), col("vec"))
        val soft = softAssign(hotVSoft, idx.cents, probes,
          carry = Seq("label"))
        val a = hotV.toDF("vec_a", "label", "cell", "ev_a")
        val b = soft.select(col("vec_id"), col("label"), col("cell"),
          col("vec")).toDF("vec_b", "label", "cell", "ev_b")
        val routed = a.join(b, Seq("label", "cell"))
          .filter(col("vec_a") =!= col("vec_b"))
          .withColumn("cos",
            round(SimilarityOps.cosine(col("ev_a"), col("ev_b")), 4))
          .filter(col("cos") >= 0.30)
          .select(least(col("vec_a"), col("vec_b")).as("vec_a"),
            greatest(col("vec_a"), col("vec_b")).as("vec_b"),
            col("label"), col("cos"))
          .distinct()
        exactPairs(small).unionByName(routed)
      }
    pairs.orderBy(col("vec_a"), col("vec_b"))
  }

  /** Within-cell exact-cosine pairs between a primary-assigned side and
    * a soft-assigned side, canonicalized (a pair can surface from both
    * orientations and several shared cells — callers dedupe with
    * distinct()).
    */
  private def semanticPairs(p: DataFrame, soft: DataFrame): DataFrame = {
    val a = p.select(col("vec_id"), col("cell"), col("vec"))
      .toDF("vec_a", "cell", "ev_a")
    val b = soft.select(col("vec_id"), col("cell"), col("vec"))
      .toDF("vec_b", "cell", "ev_b")
    a.join(b, Seq("cell"))
      .filter(col("vec_a") =!= col("vec_b"))
      .withColumn("cos",
        round(SimilarityOps.cosine(col("ev_a"), col("ev_b")), 4))
      .filter(col("cos") >= 0.30)
      .select(least(col("vec_a"), col("vec_b")).as("vec_a"),
        greatest(col("vec_a"), col("vec_b")).as("vec_b"), col("cos"))
  }

  /** Spread the STREAM side of the one-cell exact twins' broadcast
    * join: the twins' within-cell join plans as a BroadcastHashJoin
    * (the soft side is a ~2000-row broadcast), so the n² cosine kernel
    * runs on the stream side's SCAN partitioning — one parquet file at
    * the gated-subset scale, therefore ONE task regardless of core
    * count (the measured cause of dedup_semantic_exact's flat
    * 8-vs-32-core ratio and its rank as the registry's slowest bench
    * entry). A salt on the join key cannot fix a broadcast join — the
    * stream side is never shuffled by the key (measured: the salted
    * variant planned the exploded side INTO the broadcast and kept the
    * single stream task, 3.26 → 4.27 s). One hash repartition of the
    * stream side to the session's core count is the whole fix: the
    * exchange moves ~2000 rows, the joined row set is untouched, and
    * the downstream distinct/orderBy already owns the output order.
    */
  private def spreadForJoin(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism,
      col("vec_id"))

  /** 64-bit SimHash per document: hash each token, sum ±1 per bit position
    * weighted by occurrence, take the sign vector as the signature bits.
    * One explode + one groupBy (64 partial-agg sums), single shuffle.
    * REFERENCE formulation — production uses the shuffle-free fused
    * [[graft.functions.TextExprs.SimhashSignature]] kernel, which
    * VectorExprsSpec pins bit-equal to this construction. The per-token
    * hash is `token_ngram_hashes(text, 1)` — the shared FNV-1a+fmix64
    * window primitive — so the independent part of the pin is the
    * tokenize→sign-sum construction, and the hash itself is ALSO
    * cross-engine gated (the dedup_simhash DuckDB oracle replays it).
    */
  def simhash(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(graft.functions.TextExprs.tokenNgramHashes(col("text"), 1))
        .as("h"))
    val bitAggs = (0 until 64).map(i =>
      sum(when(getbit(col("h"), lit(i)) === 1, 1).otherwise(-1)).as(s"b$i"))
    toks.groupBy(col("doc_id")).agg(bitAggs.head, bitAggs.tail: _*)
      .withColumn("simhash",
        (0 until 64).map(i =>
          when(col(s"b$i") > 0, shiftleft(lit(1L), i)).otherwise(lit(0L)))
          .reduce(_ bitwiseOR _))
      .select(col("doc_id"), col("simhash"))
  }

  /** DuckDB twins. The shingle/ngram constructions mirror the Spark
    * expressions exactly (distinct sets, same n, same rounding), so the
    * exact-Jaccard outputs are bit-identical; the oracle searches all pairs
    * where the engine searches LSH candidates — at the data's similarity
    * levels (min true pair J≈0.93) LSH detection probability is ≥ 1-1e-5,
    * i.e. the outputs agree.
    */
  /** dedup_simhash DuckDB twin, generated programmatically (64 bit-sum
    * aggregates): replays the kernel's per-token FNV-1a-over-code-points
    * + fmix64 fold in HUGEINT modular arithmetic — multiplication mod
    * 2^64 goes through a 32-bit split because INT128 overflows on the
    * ~2^64 fmix multipliers — then sign-sums the 64 bit positions per
    * doc, rebuilds the signed 64-bit signature, and repeats the 4×16
    * band join + Hamming≤3 filter. DuckDB's substr/ascii walk CODE
    * POINTS, matching the kernel's fold exactly (not just on ASCII).
    * NULL-text docs drop on both sides (unnest(NULL) → no rows; a NULL
    * signature never equi-joins).
    */
  private def simhashOracle: String = {
    import OracleHash.{Mod => mod, K1, K2, mulmod, shr33, toSigned}
    def pow2(b: Int): java.math.BigInteger =
      java.math.BigInteger.ONE.shiftLeft(b)
    val bitSums = (0 until 64).map { b =>
      s"SUM(CASE WHEN (h // ${pow2(b)}::HUGEINT) % 2 = 1 " +
        s"THEN 1 ELSE -1 END) AS c$b"
    }.mkString(", ")
    val sigSum = (0 until 64).map { b =>
      s"CASE WHEN c$b > 0 THEN ${pow2(b)}::HUGEINT ELSE 0::HUGEINT END"
    }.mkString(" + ")
    val bands = (0 until 4).map { b =>
      s"SELECT doc_id, sig, $b AS band, " +
        s"CAST((sigu // ${pow2(16 * b)}::HUGEINT) % 65536 AS BIGINT) AS bh " +
        "FROM sg"
    }.mkString(" UNION ALL ")
    s"""WITH toks AS (
         SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         FROM documents),
       f0 AS (
         SELECT doc_id, list_reduce(
           list_prepend(14695981039346656037::HUGEINT,
             list_transform(range(1, length(tok)+1),
               i -> CAST(ascii(substr(tok, i, 1)) AS HUGEINT))),
           (h, c) -> (xor(h, c) * 1099511628211) % $mod) AS h0
         FROM toks),
       f1 AS (SELECT doc_id, ${mulmod(shr33("h0"), K1)} AS h1 FROM f0),
       f2 AS (SELECT doc_id, ${mulmod(shr33("h1"), K2)} AS h2 FROM f1),
       f3 AS (SELECT doc_id, ${shr33("h2")} AS h FROM f2),
       sums AS (SELECT doc_id, $bitSums FROM f3 GROUP BY doc_id),
       sigs AS (SELECT doc_id, ($sigSum) AS sigu FROM sums),
       sg AS (SELECT doc_id, sigu, ${toSigned("sigu")} AS sig
         FROM sigs),
       banded AS ($bands)
       SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         bit_count(xor(a.sig, b.sig)) AS hamming
       FROM banded a JOIN banded b ON a.band = b.band AND a.bh = b.bh
       WHERE a.doc_id < b.doc_id AND bit_count(xor(a.sig, b.sig)) <= 3
       ORDER BY doc_a, doc_b"""
  }

  /** Grouped-intersection formulation of the word-3-shingle Jaccard
    * pair stream — CTE fragment (no leading WITH) ending in
    * `jp(doc_a, doc_b, jaccard)`, the UNTHRESHOLDED candidate pairs
    * (every pair sharing ≥ 1 shingle; consumers filter `jaccard >=`
    * their threshold, and pairs sharing nothing have jaccard 0 < any
    * threshold, so the filtered set equals the old all-pairs one —
    * verified bit-identical at sf0.01 AND sf0.1). Same arithmetic as
    * the historical `list_intersect` formulation — |∩| is now a
    * grouped count over the shingle-equality join, |A|+|B|−|∩| the
    * per-doc distinct-shingle counts — but the cost is Σ_g df(g)²
    * (max group 25, 2.8 M rows at sf0.1: 3 s) instead of n²/2
    * list intersections (12.5 M × ~52-element lists: ~9 min), so the
    * whole family graduates from the sf0.01-only gate to one scale up.
    */
  private[graft] val ngramPairCtes: String =
    """sh0 AS (SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, greatest(len(string_split(text,' '))-2, 1)+1),
           i -> string_split(text,' ')[CAST(i AS INT)] || ' ' ||
                string_split(text,' ')[CAST(i AS INT)+1] || ' ' ||
                string_split(text,' ')[CAST(i AS INT)+2]))) AS g
         FROM documents),
       shsz AS (SELECT doc_id, count(*) AS n FROM sh0 GROUP BY doc_id),
       shix AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  count(*) AS i
                FROM sh0 a JOIN sh0 b
                  ON a.g = b.g AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
       jp AS (SELECT doc_a, doc_b,
                round(CAST(i AS DOUBLE)/(sa.n + sb.n - i), 4) AS jaccard
              FROM shix JOIN shsz sa ON shix.doc_a = sa.doc_id
                        JOIN shsz sb ON shix.doc_b = sb.doc_id)"""

  /** Recursive-CTE cluster labeling over the exact ngram-Jaccard pair
    * semantics, ending in `lbl(doc_id, cluster_id)` — the shared prefix
    * of every oracle that consumes the dedup clustering (the two cluster
    * queries here plus the leakage-safe split in [[CurationOps]]).
    * Singleton docs (no pair) are absent from `lbl`; consumers
    * `LEFT JOIN` + `coalesce(cluster_id, doc_id)`. Pair generation is
    * the non-quadratic [[ngramPairCtes]]; the reachability recursion
    * stays the naive transitive closure (Σ|component|² rows — bounded
    * by the dup-clique sizes, not the corpus).
    */
  private[graft] val clusterLabelsCte: String =
    "WITH RECURSIVE " + ngramPairCtes + """,
       p AS (SELECT doc_a, doc_b FROM jp WHERE jaccard >= 0.5),
       e AS (SELECT doc_a AS u, doc_b AS v FROM p
             UNION ALL SELECT doc_b, doc_a FROM p),
       n AS (SELECT DISTINCT u AS id FROM e),
       reach(id, v) AS (
         SELECT id, id FROM n
         UNION
         SELECT r.id, e.v FROM reach r JOIN e ON r.v = e.u),
       lbl AS (SELECT id AS doc_id, min(v) AS cluster_id
               FROM reach GROUP BY id)"""

  /** SQL twin of [[contaminationHits]]'s gram/benchmark tables (no
    * leading WITH — composable after other CTE prefixes; ends in
    * `g8(doc_id, g)` + `bench(g)`). Shared by the contamination oracles
    * here and the pipeline-report oracle in [[CurationOps]].
    */
  private[operators] val contaminationGramCtes: String =
    """cd AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       g8 AS (SELECT DISTINCT doc_id,
           unnest(list_transform(range(1, greatest(len(t)-7, 0)+1),
             i -> list_aggregate(t[CAST(i AS INT):CAST(i AS INT)+7],
               'string_agg', ' '))) AS g
         FROM cd),
       bench AS (SELECT DISTINCT g FROM g8 WHERE doc_id < 10)"""

  /** Gates BOTH decontamination queries (the bloom variant's false
    * positives die in the exact join, so its output is bit-identical).
    */
  private val contaminationOracle: String =
    "WITH " + contaminationGramCtes + """
       SELECT doc_id, count(*) AS n_shared_8grams
       FROM g8 WHERE doc_id >= 10 AND g IN (SELECT g FROM bench)
       GROUP BY doc_id ORDER BY doc_id"""

  /** Gates BOTH cluster queries (propagation and star contraction
    * compute the same labeling).
    */
  private val clustersOracle: String =
    clusterLabelsCte +
      """
       SELECT doc_id, cluster_id, (doc_id = cluster_id) AS keep
       FROM lbl ORDER BY doc_id"""

  /** The shared CTE prefix of both span oracles (the [[clusterLabelsCte]]
    * idiom): the 8-gram window stream over gram STRINGS
    * (`array_to_string` of the 1-based 8-slice == the kernel's
    * `concat_ws(" ", tokens)` character stream) and the duplicated-gram
    * set — so the gates additionally prove hash-grouped == string-grouped,
    * and the two twins can never disagree on what "duplicated window"
    * means. Ends in `d(doc_id, ts)`, `g(doc_id, pos, gram)`, `dup(gram)`.
    */
  private val spanWindowCte: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ts
                  FROM documents),
       g0 AS (SELECT doc_id, unnest(list_transform(
                range(1, greatest(len(ts) - 7, 0) + 1),
                i -> struct_pack(pos := i - 1,
                  gram := array_to_string(
                    ts[CAST(i AS INT):CAST(i AS INT) + 7], ' ')))) AS w
              FROM d),
       g AS (SELECT doc_id, w.pos AS pos, w.gram AS gram FROM g0),
       dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2)"""

  /** dedup_span_coverage twin: same window/coverage arithmetic as the
    * engine, all-integer until the final ratio.
    */
  private val spanCoverageOracle: String =
    spanWindowCte +
      """,
       dw AS (SELECT g.doc_id, g.pos,
                lag(g.pos) OVER (PARTITION BY g.doc_id ORDER BY g.pos)
                  AS prev
              FROM g JOIN dup USING (gram)),
       cov AS (SELECT doc_id, count(*) AS n_dup_windows,
                 CAST(sum(CASE WHEN prev IS NULL THEN 8
                      ELSE least(8, pos - prev) END) AS BIGINT)
                   AS covered_tokens
               FROM dw GROUP BY doc_id),
       st AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
                CAST(greatest(len(ts) - 7, 0) AS BIGINT) AS n_windows
              FROM d)
       SELECT st.doc_id, n_tokens, n_windows,
         coalesce(n_dup_windows, 0) AS n_dup_windows,
         coalesce(covered_tokens, 0) AS covered_tokens,
         round(CAST(coalesce(covered_tokens, 0) AS DOUBLE) / n_tokens, 4)
           AS dup_ratio
       FROM st LEFT JOIN cov USING (doc_id) ORDER BY st.doc_id"""

  /** dedup_span_excise twin: gram-string windows again (hash-collision
    * cross-check), covered positions via a constant-list lateral
    * explode, kept tokens by anti-join, rebuild as
    * `md5(array_to_string(list(tok ORDER BY pos)))` — the same strict
    * position order as the engine's sorted-collect fold.
    */
  private val spanExciseOracle: String =
    spanWindowCte +
      """,
       cov AS (SELECT DISTINCT g.doc_id, g.pos + off.i AS pos
               FROM g JOIN dup USING (gram)
                 CROSS JOIN (SELECT unnest(range(8)) AS i) off),
       t0 AS (SELECT doc_id, unnest(list_transform(range(0, len(ts)),
                i -> struct_pack(pos := i,
                  tok := ts[CAST(i AS INT) + 1]))) AS t
              FROM d),
       tok AS (SELECT doc_id, t.pos AS pos, t.tok AS tok FROM t0),
       kept AS (SELECT tok.doc_id, count(*) AS kept_tokens,
                  md5(array_to_string(list(tok.tok ORDER BY tok.pos), ' '))
                    AS clean_md5
                FROM tok LEFT JOIN cov
                  ON tok.doc_id = cov.doc_id AND tok.pos = cov.pos
                WHERE cov.pos IS NULL GROUP BY tok.doc_id),
       st AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens FROM d)
       SELECT st.doc_id, n_tokens,
         CAST(coalesce(kept_tokens, 0) AS BIGINT) AS kept_tokens,
         coalesce(clean_md5, md5('')) AS clean_md5
       FROM st LEFT JOIN kept ON st.doc_id = kept.doc_id
       ORDER BY st.doc_id"""

  val oracles: Map[String, String] = Map(
    // the gate's truth side is engine-computed (see the query's scaladoc
    // — DuckDB can't do the all-pairs J at sf0.1), so the oracle states
    // the two invariant flags, constant-group-anchored on the corpus
    "dedup_minhash_lsh_gate" ->
      """SELECT CAST(0.8 AS DOUBLE) AS t, true AS recall_ok,
           true AS precision_ok
         WHERE EXISTS (SELECT 1 FROM documents)""",
    "dedup_simhash" -> simhashOracle,
    "dedup_span_coverage" -> spanCoverageOracle,
    "dedup_span_excise" -> spanExciseOracle,
    "dedup_minhash_lsh" ->
      """WITH sh AS (
           SELECT doc_id, list_distinct(list_transform(
             range(1, greatest(length(text)-4, 1)+1),
             i -> substr(text, CAST(i AS INT), 5))) AS s
           FROM documents)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(CAST(length(list_intersect(a.s, b.s)) AS DOUBLE) /
             (length(a.s)+length(b.s)-length(list_intersect(a.s, b.s))), 4) AS jaccard
         FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         WHERE round(CAST(length(list_intersect(a.s, b.s)) AS DOUBLE) /
             (length(a.s)+length(b.s)-length(list_intersect(a.s, b.s))), 4) >= 0.8
         ORDER BY doc_a, doc_b""",
    "dedup_ngram_jaccard" ->
      ("WITH " + ngramPairCtes + """
         SELECT doc_a, doc_b, jaccard FROM jp
         WHERE jaccard >= 0.5
         ORDER BY doc_a, doc_b"""),
    // same shingle/threshold semantics as dedup_ngram_jaccard, rolled up
    // to unordered source pairs; DECIMAL(18,4) sum mirrors the engine
    "dedup_source_overlap" ->
      ("WITH " + ngramPairCtes + """,
         pairs AS (
           SELECT dsa.source AS sa, dsb.source AS sb, jaccard
           FROM jp JOIN documents dsa ON jp.doc_a = dsa.doc_id
                   JOIN documents dsb ON jp.doc_b = dsb.doc_id
           WHERE jaccard >= 0.5)
         SELECT least(sa, sb) AS source_lo, greatest(sa, sb) AS source_hi,
           count(*) AS n_pairs,
           CAST(sum(CAST(jaccard AS DECIMAL(18,4))) AS DOUBLE) AS sum_jaccard,
           max(jaccard) AS max_jaccard
         FROM pairs GROUP BY 1, 2 ORDER BY source_lo, source_hi"""),
    "dedup_incremental" ->
      ("WITH " + ngramPairCtes + """
         SELECT doc_a, doc_b, jaccard FROM jp
         WHERE (doc_a % 10 = 0 OR doc_b % 10 = 0) AND jaccard >= 0.5
         ORDER BY doc_a, doc_b"""),
    "dedup_contamination" -> contaminationOracle,
    // bit-identical to the plain plan (the exact join drops bloom false
    // positives), so the same oracle gates the bloom-pruned variant
    "dedup_contamination_bloom" -> contaminationOracle,
    "dedup_clusters" -> clustersOracle,
    // the star twin computes the SAME clustering — one oracle gates both
    "dedup_clusters_star" -> clustersOracle,
    "dedup_embedding_cosine" ->
      """WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
                    FROM embeddings)
         SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
           round(list_sum(list_transform(list_zip(a.e, b.e), p -> p[1]*p[2]))
             / (sqrt(list_sum(list_transform(a.e, x -> x*x)))
                * sqrt(list_sum(list_transform(b.e, x -> x*x)))), 4) AS cos
         FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
         WHERE round(list_sum(list_transform(list_zip(a.e, b.e), p -> p[1]*p[2]))
             / (sqrt(list_sum(list_transform(a.e, x -> x*x)))
                * sqrt(list_sum(list_transform(b.e, x -> x*x)))), 4) >= 0.30
         ORDER BY vec_a, vec_b""",
    // brute-force twin of the one-cell exact SemDeDup: ALL pairs over
    // the SAME count-bounded subset (the scalar subquery mirrors
    // exactTwinModulus — identity at driver scales), no label blocking —
    // the same cosine/rounding/threshold as above
    "dedup_semantic_exact" ->
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                    FROM embeddings
                    WHERE vec_id % $ExactTwinModulusSql = 0)
         SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_sum(list_transform(list_zip(a.e, b.e), p -> p[1]*p[2]))
             / (sqrt(list_sum(list_transform(a.e, x -> x*x)))
                * sqrt(list_sum(list_transform(b.e, x -> x*x)))), 4) AS cos
         FROM v a JOIN v b ON a.vec_id < b.vec_id
         WHERE round(list_sum(list_transform(list_zip(a.e, b.e), p -> p[1]*p[2]))
             / (sqrt(list_sum(list_transform(a.e, x -> x*x)))
                * sqrt(list_sum(list_transform(b.e, x -> x*x)))), 4) >= 0.30
         ORDER BY vec_a, vec_b""",
    "dedup_semantic_incremental_exact" ->
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                    FROM embeddings
                    WHERE vec_id % $ExactTwinModulusSql = 0)
         SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_sum(list_transform(list_zip(a.e, b.e), p -> p[1]*p[2]))
             / (sqrt(list_sum(list_transform(a.e, x -> x*x)))
                * sqrt(list_sum(list_transform(b.e, x -> x*x)))), 4) AS cos
         FROM v a JOIN v b ON a.vec_id < b.vec_id
         WHERE round(list_sum(list_transform(list_zip(a.e, b.e), p -> p[1]*p[2]))
             / (sqrt(list_sum(list_transform(a.e, x -> x*x)))
                * sqrt(list_sum(list_transform(b.e, x -> x*x)))), 4) >= 0.30
           AND ((a.vec_id // $ExactTwinModulusSql) % 10 = 0
             OR (b.vec_id // $ExactTwinModulusSql) % 10 = 0)
         ORDER BY vec_a, vec_b""",
  )
}

/** DuckDB SQL fragments replaying the engine's 64-bit wrapping hash
  * arithmetic in HUGEINT — the machinery behind every oracle that must
  * reproduce a JVM long hash exactly (the simhash FNV+fmix fold above,
  * the mix64 epoch-shuffle key in [[CurationOps]]). One definition so
  * the multipliers cannot drift from [[graft.functions.TextExprs
  * .fmix64]]'s.
  *
  * Why the 32-bit split: DuckDB HUGEINT is INT128 and OVERFLOWS
  * multiplying two ~2^64 values, so h·k mod 2^64 is computed as
  * `((h div 2^32 · k mod 2^32)·2^32 + (h mod 2^32)·k) mod 2^64` — every
  * intermediate stays below 2^96.
  */
private[graft] object OracleHash {
  /** 2^64 — the modulus of the engine's wrapping long arithmetic. */
  val Mod = "18446744073709551616::HUGEINT"
  /** murmur3 fmix64 multipliers (0xff51afd7ed558ccd, 0xc4ceb9fe1a85ec53)
    * as unsigned decimal literals.
    */
  val K1 = "18397679294719823053::HUGEINT"
  val K2 = "14181476777654086739::HUGEINT"

  /** `h · k mod 2^64` via the 32-bit split (see object doc). */
  def mulmod(h: String, k: String): String =
    s"((($h // 4294967296) * $k % 4294967296) * 4294967296 + " +
      s"($h % 4294967296) * $k) % $Mod"

  /** `h XOR (h >>> 33)` — unsigned shift is integer division here. */
  def shr33(h: String): String = s"xor($h, $h // 8589934592)"

  /** The unsigned-HUGEINT value reinterpreted as the signed BIGINT with
    * the same 64 bits (what the JVM side emits).
    */
  def toSigned(h: String): String =
    s"CAST(CASE WHEN $h >= 9223372036854775808::HUGEINT " +
      s"THEN $h - $Mod ELSE $h END AS BIGINT)"

  /** CTE chain applying the full fmix64 avalanche to `src(keys..., in)`,
    * ending in a relation `<out>(keys..., <col>)` holding the UNSIGNED
    * mixed value. Staged CTEs, not one nested expression: mulmod/shr33
    * mention their argument 2–4 times, so textual nesting grows the
    * expression ~32× and re-evaluates the input as many times.
    */
  def fmixCtes(src: String, keys: Seq[String], in: String, out: String,
      col: String): String = {
    val ks = keys.mkString(", ")
    // intermediate CTE names derive from `out` so two chains can share
    // one statement without colliding
    val (s1, s2) = (s"${out}_s1", s"${out}_s2")
    s"""$s1 AS (SELECT $ks, ${mulmod(shr33(in), K1)} AS __m1 FROM $src),
       $s2 AS (SELECT $ks, ${mulmod(shr33("__m1"), K2)} AS __m2 FROM $s1),
       $out AS (SELECT $ks, ${shr33("__m2")} AS $col FROM $s2)"""
  }
}
