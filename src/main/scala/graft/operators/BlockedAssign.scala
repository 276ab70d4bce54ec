package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.types.{ArrayType, IntegerType, StructType}

/** Row-BLOCKED nearest-centroids assignment for the ingest/build hot
  * path — the round-16 answer to the MEASURED shape of the assign wall.
  *
  * What the measurements said (bench/assign_probe_r16_2m_{c,d,e}.json):
  * at the 2M rehearsal decade the per-row assignment is
  * MEMORY-BANDWIDTH-bound, not flop-bound — every row streams the
  * whole k·dim centroid matrix (2.5 MB at k=5000) through
  * L3, so a pruned kernel that eliminated 94 % of the distance
  * evaluations moved the wall by ~1 % (3.17 → 3.14 s per 250 k rows),
  * and the corpus itself is a thin shell (m-th-best distance 1.125 vs
  * p50 1.32 — nearly equidistant to everything), so no metric bound can
  * prune it. The lever that remains is REUSE: process rows in blocks of
  * [[RowBlock]] and centroids in L1-sized tiles of [[CentTile]], so one
  * pass of the matrix through cache serves a whole row block — matrix
  * traffic per row drops by the block size.
  *
  * Exactness: each (row, centroid) distance is the SAME sequential
  * IEEE-754 fold `acc += (vᵢ−cᵢ)²` the plain
  * [[graft.functions.VectorExprs.NearestCentroids]] kernel runs —
  * blocking only reorders WHICH pairs are computed when, and the top-m
  * lex selection (distance, id) is evaluation-order-independent — so
  * the output is bit-identical (BlockedAssignSpec pins it, adversarial
  * shapes included). The partial-distance early exit is exact: a
  * partial sum strictly above the row's CURRENT m-th best can never
  * re-enter the final top-m (sums of non-negative terms are monotone;
  * worst only decreases), in any evaluation order.
  *
  * Null semantics mirror the expression kernel on the non-ragged
  * matrices this path is restricted to: null vec / null element /
  * length mismatch → null soft_cells; non-finite distances are never
  * selected and remaining slots fill with the lowest unused ids.
  *
  * Scale shape: the blocked path activates only past
  * [[MinCentroidsForBlocking]] centroids (the decade/production
  * geometry), so every bench-SF plan keeps the expression kernel
  * unchanged; the mapPartitions row detour costs ~0.2 s per 250 k rows
  * (the r16 assign probe's nokernel floor) against a measured
  * multi-second win.
  */
object BlockedAssign {

  /** Rows buffered per block: matrix traffic per row divides by this.
    * 64 rows × dim 64 × 8 B = 32 KB of row data — L1/L2-resident beside
    * one centroid tile.
    */
  val RowBlock = 64

  /** Centroids per tile: 16 × 64 dims × 8 B = 8 KB — L1-resident while
    * a whole row block streams over it.
    */
  val CentTile = 16

  /** Below this centroid count the expression kernel stays: the matrix
    * fits low cache levels anyway, and bench-SF plans must not change
    * shape for a win that only exists at decade geometry.
    */
  val MinCentroidsForBlocking = 2048

  private[graft] def eligible(cents: Seq[Seq[Double]]): Boolean =
    cents.length >= MinCentroidsForBlocking && {
      val dim = cents.head.length
      cents.forall(_.length == dim)
    }

  /** Append an int-array `outCol` holding the top-m nearest centroid
    * ids (ascending (distance, id) — exactly
    * [[graft.functions.VectorExprs.NearestCentroids]]) of `vecCol`.
    */
  def withSoftCells(df: DataFrame, vecCol: String, outCol: String,
      cents: Seq[Seq[Double]], m: Int): DataFrame = {
    val schema = df.schema
    val outSchema = StructType(schema.fields :+
      org.apache.spark.sql.types.StructField(outCol,
        ArrayType(IntegerType, containsNull = false), nullable = true))
    val vecIdx = schema.fieldIndex(vecCol)
    val mat = cents.map(_.toArray).toArray
    val enc = RowEncoder.encoderFor(outSchema)
    df.mapPartitions { it =>
      new BlockedIterator(it, vecIdx, mat, m)
    }(enc)
  }

  /** Buffers [[RowBlock]] rows, assigns the block against centroid
    * tiles, emits rows with the result appended.
    */
  private final class BlockedIterator(in: Iterator[Row], vecIdx: Int,
      cents: Array[Array[Double]], m: Int)
      extends Iterator[Row] {
    private val k = cents.length
    private val dim = cents(0).length
    private val b = RowBlock
    // block scratch
    private val rows = new Array[Row](b)
    private val vecs = Array.ofDim[Double](b, dim)
    private val valid = new Array[Boolean](b)
    private val bestD = Array.ofDim[Double](b, m)
    private val bestId = Array.ofDim[Int](b, m)
    private val counts = new Array[Int](b)
    private var blockLen = 0
    private var emitted = 0

    private def loadBlock(): Unit = {
      blockLen = 0
      emitted = 0
      while (blockLen < b && in.hasNext) {
        val r = in.next()
        rows(blockLen) = r
        valid(blockLen) = false
        counts(blockLen) = 0
        if (!r.isNullAt(vecIdx)) {
          val v = r.getSeq[Any](vecIdx)
          if (v.length == dim && !v.contains(null)) {
            val tgt = vecs(blockLen)
            var i = 0
            val vIt = v.iterator
            while (i < dim) {
              tgt(i) = vIt.next().asInstanceOf[Double]
              i += 1
            }
            valid(blockLen) = true
          }
        }
        blockLen += 1
      }
      if (blockLen > 0) assignBlock()
    }

    /** Insert (d, c) into row r's running top-m iff it beats the lex
      * worst — identical selection semantics to the expression kernels.
      */
    private def insert(r: Int, d: Double, c: Int): Unit = {
      if (d < java.lang.Double.POSITIVE_INFINITY) {
        val bd = bestD(r)
        val bi = bestId(r)
        val count = counts(r)
        if (count < m) {
          var p = count - 1
          while (p >= 0 && (d < bd(p) || (d == bd(p) && c < bi(p)))) {
            bd(p + 1) = bd(p); bi(p + 1) = bi(p)
            p -= 1
          }
          bd(p + 1) = d; bi(p + 1) = c
          counts(r) = count + 1
        } else if (d < bd(m - 1) || (d == bd(m - 1) && c < bi(m - 1))) {
          var p = m - 2
          while (p >= 0 && (d < bd(p) || (d == bd(p) && c < bi(p)))) {
            bd(p + 1) = bd(p); bi(p + 1) = bi(p)
            p -= 1
          }
          bd(p + 1) = d; bi(p + 1) = c
        }
      }
    }

    private def assignBlock(): Unit = {
      // 4-row interleave: the per-pair fold `acc += (vᵢ−cᵢ)²` is a
      // serial dependency chain (one FP add in flight per pair), so a
      // single-row loop runs at add-LATENCY speed. Four rows against
      // one centroid give four INDEPENDENT chains — ~4× ILP — while
      // each pair's arithmetic stays the same sequential fold
      // (bit-identity is per pair, and top-m selection is
      // evaluation-order-independent).
      var tile = 0
      while (tile < k) {
        val tileEnd = math.min(k, tile + CentTile)
        var r = 0
        while (r + 4 <= blockLen) {
          if (valid(r) && valid(r + 1) && valid(r + 2) && valid(r + 3)) {
            val v0 = vecs(r); val v1 = vecs(r + 1)
            val v2 = vecs(r + 2); val v3 = vecs(r + 3)
            var c = tile
            // two centroids per pass → 8 independent accumulator
            // chains (FP-add latency × two FMA ports wants ≥ 8 in
            // flight), 6 loads per element for 8 fold updates
            while (c + 2 <= tileEnd) {
              val ct0 = cents(c)
              val ct1 = cents(c + 1)
              var a00 = 0.0; var a10 = 0.0; var a20 = 0.0; var a30 = 0.0
              var a01 = 0.0; var a11 = 0.0; var a21 = 0.0; var a31 = 0.0
              var i = 0
              while (i < dim) {
                val x0 = ct0(i); val x1 = ct1(i)
                val e0 = v0(i); val e1 = v1(i)
                val e2 = v2(i); val e3 = v3(i)
                val d00 = e0 - x0; a00 += d00 * d00
                val d10 = e1 - x0; a10 += d10 * d10
                val d20 = e2 - x0; a20 += d20 * d20
                val d30 = e3 - x0; a30 += d30 * d30
                val d01 = e0 - x1; a01 += d01 * d01
                val d11 = e1 - x1; a11 += d11 * d11
                val d21 = e2 - x1; a21 += d21 * d21
                val d31 = e3 - x1; a31 += d31 * d31
                i += 1
              }
              insert(r, a00, c); insert(r + 1, a10, c)
              insert(r + 2, a20, c); insert(r + 3, a30, c)
              insert(r, a01, c + 1); insert(r + 1, a11, c + 1)
              insert(r + 2, a21, c + 1); insert(r + 3, a31, c + 1)
              c += 2
            }
            while (c < tileEnd) {
              val ct = cents(c)
              var a0 = 0.0; var a1 = 0.0; var a2 = 0.0; var a3 = 0.0
              var i = 0
              while (i < dim) {
                val x = ct(i)
                val d0 = v0(i) - x; a0 += d0 * d0
                val d1 = v1(i) - x; a1 += d1 * d1
                val d2 = v2(i) - x; a2 += d2 * d2
                val d3 = v3(i) - x; a3 += d3 * d3
                i += 1
              }
              insert(r, a0, c); insert(r + 1, a1, c)
              insert(r + 2, a2, c); insert(r + 3, a3, c)
              c += 1
            }
            r += 4
          } else {
            scanOne(r, tile, tileEnd)
            r += 1
          }
        }
        while (r < blockLen) {
          scanOne(r, tile, tileEnd)
          r += 1
        }
        tile = tileEnd
      }
    }

    private def scanOne(r: Int, tile: Int, tileEnd: Int): Unit = {
      if (valid(r)) {
        val v = vecs(r)
        var c = tile
        while (c < tileEnd) {
          val ct = cents(c)
          var acc = 0.0
          var i = 0
          while (i < dim) {
            val d = v(i) - ct(i); acc += d * d; i += 1
          }
          insert(r, acc, c)
          c += 1
        }
      }
    }

    private def resultFor(r: Int): Array[Int] = {
      if (!valid(r)) return null
      val out = new Array[Int](m)
      val count = counts(r)
      var t = 0
      while (t < count) { out(t) = bestId(r)(t); t += 1 }
      // non-finite remainder: lowest unused ids ascending (the plain
      // kernel's fallback; count < m implies every distance was
      // computed, so "unused" is global)
      var id = 0
      while (t < m) {
        var used = false
        var p = 0
        while (p < count && !used) { used = bestId(r)(p) == id; p += 1 }
        if (!used) { out(t) = id; t += 1 }
        id += 1
      }
      out
    }

    override def hasNext: Boolean = emitted < blockLen || {
      if (in.hasNext) { loadBlock(); blockLen > 0 } else false
    }

    override def next(): Row = {
      if (emitted >= blockLen) loadBlock()
      val r = emitted
      emitted += 1
      val base = rows(r)
      val res = resultFor(r)
      Row.fromSeq(base.toSeq :+ (if (res == null) null else res.toSeq))
    }
  }
}
