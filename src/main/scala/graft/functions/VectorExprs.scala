package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expressions for vector similarity — the one place the
  * built-in surface genuinely under-serves the engine: cosine over
  * `array<double>` via `aggregate(zip_with(...))` works but higher-order
  * functions evaluate interpreted (a lambda dispatch per element, three
  * array traversals). [[CosineSimilarity]] is a single fused, codegen'd
  * loop — dot product and both norms in one traversal — that keeps the
  * ANN / near-dup hot paths inside whole-stage codegen.
  *
  * Semantics mirror the HOF formulation bit for bit: sequential IEEE-754
  * folds in array order, null if either array is null, if lengths differ,
  * or if any element is null (zip_with/aggregate null propagation).
  */
object VectorExprs {

  case class CosineSimilarity(left: Expression, right: Expression)
      extends BinaryExpression {

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      val ok = Seq(left, right).forall(_.dataType match {
        case ArrayType(DoubleType, _) => true
        case _ => false
      })
      if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"cosine_sim expects (array<double>, array<double>), got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
    }
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def prettyName: String = "cosine_sim"

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = x.numElements()
      if (n != y.numElements()) return null
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        if (x.isNullAt(i) || y.isNullAt(i)) return null
        val xv = x.getDouble(i); val yv = y.getDouble(i)
        dot += xv * yv; na += xv * xv; nb += yv * yv
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }

    override protected def doGenCode(ctx: CodegenContext,
        ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        val dot = ctx.freshName("dot")
        val na = ctx.freshName("na")
        val nb = ctx.freshName("nb")
        val xv = ctx.freshName("xv")
        val yv = ctx.freshName("yv")
        s"""
        final int $n = $a.numElements();
        if ($n != $b.numElements()) {
          ${ev.isNull} = true;
        } else {
          double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
          for (int $i = 0; $i < $n; $i++) {
            if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
            final double $xv = $a.getDouble($i);
            final double $yv = $b.getDouble($i);
            $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
          }
          if (!${ev.isNull}) {
            ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
          }
        }
        """
      })

    override protected def withNewChildrenInternal(newLeft: Expression,
        newRight: Expression): Expression = copy(newLeft, newRight)
  }

  /** Fused codegen'd Σ(aᵢ−bᵢ)² — the k-means / IVF assignment kernel.
    * Same shape and null semantics as [[CosineSimilarity]]; sequential
    * IEEE-754 fold in array order, bit-identical to the
    * `aggregate(zip_with(...))` HOF formulation it replaces (which pays an
    * interpreted lambda dispatch and array allocation per element — ruinous
    * when evaluated once per row PER CENTROID).
    */
  case class SquaredL2Distance(left: Expression, right: Expression)
      extends BinaryExpression {

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      val ok = Seq(left, right).forall(_.dataType match {
        case ArrayType(DoubleType, _) => true
        case _ => false
      })
      if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"dist2 expects (array<double>, array<double>), got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
    }
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def prettyName: String = "dist2"

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = x.numElements()
      if (n != y.numElements()) return null
      var acc = 0.0
      var i = 0
      while (i < n) {
        if (x.isNullAt(i) || y.isNullAt(i)) return null
        val d = x.getDouble(i) - y.getDouble(i)
        acc += d * d
        i += 1
      }
      acc
    }

    override protected def doGenCode(ctx: CodegenContext,
        ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        val acc = ctx.freshName("acc")
        val d = ctx.freshName("d")
        s"""
        final int $n = $a.numElements();
        if ($n != $b.numElements()) {
          ${ev.isNull} = true;
        } else {
          double $acc = 0.0;
          for (int $i = 0; $i < $n; $i++) {
            if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
            final double $d = $a.getDouble($i) - $b.getDouble($i);
            $acc += $d * $d;
          }
          if (!${ev.isNull}) { ${ev.value} = $acc; }
        }
        """
      })

    override protected def withNewChildrenInternal(newLeft: Expression,
        newRight: Expression): Expression = copy(newLeft, newRight)
  }

  /** Fused symmetric int8 quantization: q = round(x / (max|x|/127)) per
    * element, scale computed ONCE in the same traversal pair. A
    * composition of built-ins cannot express this safely — hoisting the
    * scale into an aliased column looks right but Catalyst's
    * CollapseProject re-inlines a once-referenced alias into the
    * `transform` lambda, silently restoring the O(dim²)-per-row
    * interpreted scan (verified on the optimized plan). Null array → null;
    * any null element → null. Output `array<tinyint>` in [−127, 127].
    */
  case class Int8Quantize(child: Expression)
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case ArrayType(DoubleType, _) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"int8_quantize expects array<double>, got ${other.simpleString}")
      }
    override def dataType: DataType =
      ArrayType(org.apache.spark.sql.types.ByteType, containsNull = false)
    override def nullable: Boolean = true
    override def prettyName: String = "int8_quantize"

    override def nullSafeEval(input: Any): Any = {
      val x = input.asInstanceOf[ArrayData]
      val n = x.numElements()
      var mx = 0.0
      var i = 0
      while (i < n) {
        if (x.isNullAt(i)) return null
        val a = math.abs(x.getDouble(i))
        if (a > mx) mx = a
        i += 1
      }
      val scale = math.max(mx, 1e-12) / 127.0
      val out = new Array[Byte](n)
      i = 0
      while (i < n) {
        // HALF_UP away from zero, matching Spark's round(); Math.round
        // would differ on negative halves (-2.5 -> -2 instead of -3)
        val r = x.getDouble(i) / scale
        out(i) =
          (if (r >= 0) math.floor(r + 0.5) else math.ceil(r - 0.5)).toByte
        i += 1
      }
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(out)
    }

    override protected def doGenCode(ctx: CodegenContext,
        ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val mx = ctx.freshName("mx")
        val a = ctx.freshName("a")
        val scale = ctx.freshName("scale")
        val out = ctx.freshName("out")
        val r = ctx.freshName("r")
        s"""
        final int $n = $c.numElements();
        double $mx = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          if ($c.isNullAt($i)) { ${ev.isNull} = true; break; }
          final double $a = java.lang.Math.abs($c.getDouble($i));
          if ($a > $mx) { $mx = $a; }
        }
        if (!${ev.isNull}) {
          final double $scale = java.lang.Math.max($mx, 1e-12) / 127.0;
          final byte[] $out = new byte[$n];
          for (int $i = 0; $i < $n; $i++) {
            final double $r = $c.getDouble($i) / $scale;
            $out[$i] = (byte) ($r >= 0 ? java.lang.Math.floor($r + 0.5d)
                                       : java.lang.Math.ceil($r - 0.5d));
          }
          ${ev.value} = org.apache.spark.sql.catalyst.expressions
            .UnsafeArrayData.fromPrimitiveArray($out);
        }
        """
      })

    override protected def withNewChildInternal(
        newChild: Expression): Expression = copy(newChild)
  }

  /** The m nearest centroid ids for a vector, ascending (distance, id) —
    * the IVF/k-means assignment kernel for a WHOLE centroid set.
    *
    * The composed form this replaces (`array_min`/`array_sort` over
    * `array(struct(dist2(v, c₀), 0), struct(dist2(v, c₁), 1), ...)`)
    * unrolls one literal struct per centroid, so the generated code GROWS
    * WITH k: at the derived-geometry cell counts (k ≈ n/200 — hundreds to
    * tens of thousands) that means multi-second JIT compiles, then
    * spilled-past-64KB methods falling out of whole-stage codegen
    * entirely. Here the centroid matrix rides along as ONE reference
    * object (`double[][]`), the generated loop is the same ~30 lines at
    * any k, and the per-row scratch buffers are partition-lifetime
    * mutable state, not per-row allocations.
    *
    * Selection is m passes of strict-< argmin over the distance array, so
    * ties break toward the LOWER centroid id — bit-identical to the
    * `(distance, cell)` struct ordering of the composed form it replaces.
    * Null array → null; null element → null; any centroid whose length
    * differs from the vector's → null (dist2's length semantics).
    */
  case class NearestCentroids(child: Expression,
      cents: Array[Array[Double]], m: Int)
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    require(cents.nonEmpty, "NearestCentroids needs at least one centroid")
    require(m >= 1 && m <= cents.length,
      s"NearestCentroids m=$m out of range 1..${cents.length}")

    // case-class equality on an Array[Array[Double]] field is reference
    // identity, so two separately-constructed but identical expressions
    // would never compare semanticEquals — defeating common-subexpression
    // elimination and plan-level expression dedup. Compare the centroid
    // matrix STRUCTURALLY instead.
    override def equals(other: Any): Boolean = other match {
      case that: NearestCentroids =>
        m == that.m && child == that.child &&
          java.util.Arrays.deepEquals(
            cents.asInstanceOf[Array[AnyRef]],
            that.cents.asInstanceOf[Array[AnyRef]])
      case _ => false
    }
    override def hashCode(): Int =
      (java.util.Arrays.deepHashCode(cents.asInstanceOf[Array[AnyRef]])
        * 31 + child.hashCode()) * 31 + m

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case ArrayType(DoubleType, _) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"nearest_centroids expects array<double>, got ${other.simpleString}")
      }
    override def dataType: DataType =
      ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
    override def nullable: Boolean = true
    override def prettyName: String = "nearest_centroids"

    override def nullSafeEval(input: Any): Any = {
      val x = input.asInstanceOf[ArrayData]
      val n = x.numElements()
      val k = cents.length
      val dist = new Array[Double](k)
      var j = 0
      while (j < k) {
        val cj = cents(j)
        if (cj.length != n) return null
        var acc = 0.0
        var i = 0
        while (i < n) {
          if (x.isNullAt(i)) return null
          val d = x.getDouble(i) - cj(i)
          acc += d * d
          i += 1
        }
        dist(j) = acc
        j += 1
      }
      val used = new Array[Boolean](k)
      val out = new Array[Int](m)
      var t = 0
      while (t < m) {
        var best = -1
        var bd = Double.PositiveInfinity
        var jj = 0
        while (jj < k) {
          if (!used(jj) && dist(jj) < bd) { bd = dist(jj); best = jj }
          jj += 1
        }
        // all-NaN distances leave best = -1; fall back to the first
        // unused id so the output is still a valid permutation prefix
        if (best < 0) {
          var ff = 0
          while (used(ff)) ff += 1
          best = ff
        }
        used(best) = true
        out(t) = best
        t += 1
      }
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(out)
    }

    override protected def doGenCode(ctx: CodegenContext,
        ev: ExprCode): ExprCode = {
      val centsRef = ctx.addReferenceObj("cents", cents, "double[][]")
      val k = cents.length
      // partition-lifetime scratch (k is fixed per expression instance):
      // distances + used flags, reused across rows
      val dist = ctx.addMutableState("double[]", "ncDist",
        v => s"$v = new double[$k];")
      val used = ctx.addMutableState("boolean[]", "ncUsed",
        v => s"$v = new boolean[$k];")
      nullSafeCodeGen(ctx, ev, c => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val j = ctx.freshName("j")
        val t = ctx.freshName("t")
        val cj = ctx.freshName("cj")
        val acc = ctx.freshName("acc")
        val d = ctx.freshName("d")
        val out = ctx.freshName("out")
        val best = ctx.freshName("best")
        val bd = ctx.freshName("bd")
        s"""
        final int $n = $c.numElements();
        for (int $j = 0; $j < $k && !${ev.isNull}; $j++) {
          final double[] $cj = $centsRef[$j];
          if ($cj.length != $n) { ${ev.isNull} = true; break; }
          double $acc = 0.0;
          for (int $i = 0; $i < $n; $i++) {
            if ($c.isNullAt($i)) { ${ev.isNull} = true; break; }
            final double $d = $c.getDouble($i) - $cj[$i];
            $acc += $d * $d;
          }
          $dist[$j] = $acc;
        }
        if (!${ev.isNull}) {
          java.util.Arrays.fill($used, false);
          final int[] $out = new int[$m];
          for (int $t = 0; $t < $m; $t++) {
            int $best = -1;
            double $bd = Double.POSITIVE_INFINITY;
            for (int $j = 0; $j < $k; $j++) {
              if (!$used[$j] && $dist[$j] < $bd) { $bd = $dist[$j]; $best = $j; }
            }
            if ($best < 0) {
              $best = 0;
              while ($used[$best]) { $best++; }
            }
            $used[$best] = true;
            $out[$t] = $best;
          }
          ${ev.value} = org.apache.spark.sql.catalyst.expressions
            .UnsafeArrayData.fromPrimitiveArray($out);
        }
        """
      })
    }

    override protected def withNewChildInternal(
        newChild: Expression): Expression = copy(child = newChild)
  }

  /** Column-API face of [[NearestCentroids]]: the top-m nearest
    * centroid ids of `v`, ascending (distance, id).
    */
  def nearestCentroids(v: Column, cents: Seq[Seq[Double]], m: Int): Column =
    Bridge.column(NearestCentroids(Bridge.expression(v),
      cents.map(_.toArray).toArray, m))

  /** Column-API face of [[Int8Quantize]]. */
  def int8Quantize(v: Column): Column =
    Bridge.column(Int8Quantize(Bridge.expression(v)))

  /** Column-API face of [[CosineSimilarity]]. */
  def cosineSim(a: Column, b: Column): Column =
    Bridge.column(CosineSimilarity(
      Bridge.expression(a), Bridge.expression(b)))

  /** Column-API face of [[SquaredL2Distance]]. */
  def dist2(a: Column, b: Column): Column =
    Bridge.column(SquaredL2Distance(
      Bridge.expression(a), Bridge.expression(b)))

  /** Register the engine's whole SQL function surface in an existing
    * session — delegates to [[GraftFunctions]], the one definition of
    * the (id, info, builder) triples.
    */
  def registerFunctions(spark: SparkSession): Unit =
    GraftFunctions.registerAll(spark)
}

/** SparkSessionExtensions wiring — production sessions opt in with
  * `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.functions.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    // same (id, info, builder) triples as registerFunctions — one
    // definition of the SQL surface, arity guards included
    GraftFunctions.all.foreach(ext.injectFunction)
}
