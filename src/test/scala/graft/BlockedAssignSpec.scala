package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row

import graft.operators.BlockedAssign
import graft.functions.VectorExprs
import org.apache.spark.sql.graft.Bridge

/** Bit-identity proof for the row-blocked ingest assignment
  * ([[BlockedAssign]]) against the plain expression kernel
  * ([[VectorExprs.NearestCentroids]]), the kernel that carries the
  * decade ingest wall. Blocking reorders WHICH (row, centroid) pairs are
  * computed when; each pair's distance is the same sequential fold, so
  * outputs must match bit for bit, adversarial shapes included.
  */
class BlockedAssignSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("uvec", ArrayType(DoubleType, containsNull = true),
      nullable = true)))

  private def compare(cents: Array[Array[Double]], m: Int,
      vecs: Seq[Seq[java.lang.Double]]): Unit = {
    val rows = vecs.zipWithIndex.map { case (v, i) =>
      Row(i.toLong, if (v == null) null else v.map(x =>
        if (x == null) null else x.doubleValue()))
    }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 3), schema)
    val centsSeq = cents.map(_.toSeq).toSeq
    val blocked = BlockedAssign
      .withSoftCells(df, "uvec", "soft_cells", centsSeq, m)
      .select(col("id"), col("soft_cells")).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[Int](1))).toMap
    val plain = df.select(col("id"),
      Bridge.column(VectorExprs.NearestCentroids(
        Bridge.expression(col("uvec")), cents, m)).as("soft_cells"))
      .collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[Int](1))).toMap
    assert(blocked.keySet == plain.keySet)
    blocked.keySet.foreach { id =>
      assert(blocked(id) == plain(id), s"row $id: ${blocked(id)} vs " +
        s"${plain(id)}")
    }
  }

  test("blocked == plain kernel on clustered matrices, property-style " +
      "(block boundaries, partial blocks, all m)") {
    val rnd = new scala.util.Random(1637)
    for (trial <- 0 until 8) {
      val dim = 6 + rnd.nextInt(10)
      val nClusters = 3 + rnd.nextInt(4)
      val k = 50 + rnd.nextInt(100)
      val cc = Array.fill(nClusters)(Array.fill(dim)(rnd.nextGaussian() * 3))
      val cents = Array.tabulate(k)(i =>
        cc(i % nClusters).map(_ + rnd.nextGaussian() * 0.05))
      val m = 1 + rnd.nextInt(math.min(8, k))
      // enough rows to cross several RowBlock boundaries with a ragged
      // tail, split over 3 partitions
      val n = BlockedAssign.RowBlock * 2 + 1 + rnd.nextInt(40)
      val vecs = (0 until n).map { _ =>
        (if (rnd.nextBoolean())
          cc(rnd.nextInt(nClusters)).map(_ + rnd.nextGaussian() * 0.3)
        else Array.fill(dim)(rnd.nextGaussian() * 3))
          .map(x => (x: java.lang.Double)).toSeq
      }
      compare(cents, m, vecs)
    }
  }

  test("blocked == plain on ties, duplicates, quantized coordinates") {
    val rnd = new scala.util.Random(88)
    val dim = 5
    val base = Array.fill(40)(Array.fill(dim)((rnd.nextInt(4) - 1).toDouble))
    val cents = base ++ Array.fill(10)(base(rnd.nextInt(40)).clone())
    for (m <- Seq(1, 3, 8)) {
      val vecs = (0 until 150).map(_ =>
        Array.fill(dim)((rnd.nextInt(4) - 1).toDouble)
          .map(x => (x: java.lang.Double)).toSeq)
      compare(cents, m, vecs)
    }
  }

  test("blocked == plain on null vec, null element, length mismatch, " +
      "NaN/Inf vectors and non-finite centroids") {
    val cents = Array(
      Array(0.0, 0.0), Array(1.0, 0.0), Array(0.0, 1.0),
      Array(Double.PositiveInfinity, 0.0), Array(3.0, 4.0))
    def d(x: Double): java.lang.Double = java.lang.Double.valueOf(x)
    val vecs: Seq[Seq[java.lang.Double]] = Seq(
      Seq(d(0.5), d(0.5)),
      null,
      Seq(d(1.0), null),
      Seq(d(1.0), d(2.0), d(3.0)), // length mismatch
      Seq(d(1.0)),                 // length mismatch (short)
      Seq(d(Double.NaN), d(0.0)),
      Seq(d(Double.PositiveInfinity), d(0.0)),
      Seq(d(1e308), d(1e308)))
    for (m <- 1 to 5) compare(cents, m, vecs)
  }

  test("the gate keeps bench geometries on the expression kernel and " +
      "admits only uniform matrices past the size floor") {
    val small = Seq.fill(100)(Seq(0.0, 1.0))
    assert(!BlockedAssign.eligible(small), "k=100 must stay expression")
    val big = Seq.fill(BlockedAssign.MinCentroidsForBlocking)(Seq(0.0, 1.0))
    assert(BlockedAssign.eligible(big))
    val ragged = big.updated(7, Seq(0.0))
    assert(!BlockedAssign.eligible(ragged), "ragged matrices stay plain")
  }
}
