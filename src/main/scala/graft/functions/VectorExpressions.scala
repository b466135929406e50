package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, QuaternaryExpression, TernaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Dot product of two float vectors, accumulated in double — a native
  * Catalyst expression with full codegen.
  *
  * The higher-order-function form (`aggregate(zip_with(...))`) is
  * interpreted per row and allocates per element; this compiles to a
  * tight primitive loop inside whole-stage codegen. Semantics match the
  * HOF form exactly: each float is widened to double before the
  * multiply, accumulation is a sequential left fold, a null element or
  * mismatched lengths yield null (zip_with pads with nulls, which
  * nulls the fold).
  */
case class DotProductFloat(left: Expression, right: Expression)
    extends BinaryExpression {

  // AbstractDataType/ExpectsInputTypes are private[sql]; validate here.
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_dot expects two array<float> arguments, got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    var acc = 0.0
    var i = 0
    val n = x.numElements()
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductFloat =
    copy(left = newLeft, right = newRight)
}

/** Product-quantization argmin: the 0-based index of the codebook row
  * minimizing the squared-L2 surrogate `|c|² − 2·v·c` (the `|v|²` term
  * is constant per row), ties to the lowest index.
  *
  * `right` must be a FOLDABLE array<array<float>> literal — the
  * codebook. An unrolled per-codeword expression tree (K structs ×
  * M subspaces of graft_dot calls) blows past Janino's method limits
  * around K ≈ 100 and silently drops the whole projection out of
  * codegen; this expression is ONE node whose generated code loops over
  * a referenced float[][], so codegen survives any codebook size and
  * the scan stays in whole-stage codegen. Score arithmetic matches the
  * unrolled form bit-for-bit: floats widen to double, the dot
  * accumulates as a sequential left fold, the score is
  * `cc[k] - 2.0 * acc` with `cc` pre-summed in codeword order.
  */
case class PqArgMinFloat(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val okL = left.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    val okR = right.dataType match {
      case ArrayType(ArrayType(FloatType, _), _) => true
      case _ => false
    }
    if (okL && okR && right.foldable)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "graft_pq_argmin expects (array<float>, foldable array<array<float>>), got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}" +
          (if (right.foldable) "" else " (codebook not foldable)"))
  }

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_pq_argmin"

  /** Codebook rows and their pre-summed |c|², materialized once per
    * (driver or executor) expression instance from the foldable child. */
  @transient private lazy val cb: Array[Array[Float]] = {
    val ad = right.eval(null).asInstanceOf[ArrayData]
    Array.tabulate(ad.numElements())(k => ad.getArray(k).toFloatArray())
  }
  @transient private lazy val cc: Array[Double] =
    cb.map(_.foldLeft(0.0)((s, x) => s + x.toDouble * x.toDouble))

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val n = v.numElements()
    var best = Double.PositiveInfinity
    var bestK = -1
    var k = 0
    while (k < cb.length) {
      val cw = cb(k)
      if (cw.length != n) return null
      var acc = 0.0
      var i = 0
      while (i < n) {
        if (v.isNullAt(i)) return null
        acc += v.getFloat(i).toDouble * cw(i).toDouble
        i += 1
      }
      val d = cc(k) - 2.0 * acc
      if (d < best) { best = d; bestK = k }
      k += 1
    }
    if (bestK < 0) null else bestK
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCodebook", cb, "float[][]")
    val ccRef = ctx.addReferenceObj("pqNormSq", cc, "double[]")
    nullSafeCodeGen(ctx, ev, (a, _) => {
      val n = ctx.freshName("n")
      val k = ctx.freshName("k")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      val best = ctx.freshName("best")
      val bestK = ctx.freshName("bestK")
      val cw = ctx.freshName("cw")
      s"""
         |final int $n = $a.numElements();
         |double $best = Double.POSITIVE_INFINITY;
         |int $bestK = -1;
         |for (int $k = 0; $k < $cbRef.length && !${ev.isNull}; $k++) {
         |  final float[] $cw = $cbRef[$k];
         |  if ($cw.length != $n) { ${ev.isNull} = true; break; }
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += (double) $a.getFloat($i) * (double) $cw[$i];
         |  }
         |  if (!${ev.isNull}) {
         |    final double $d = $ccRef[$k] - 2.0 * $acc;
         |    if ($d < $best) { $best = $d; $bestK = $k; }
         |  }
         |}
         |if ($bestK < 0) { ${ev.isNull} = true; }
         |if (!${ev.isNull}) { ${ev.value} = $bestK; }
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqArgMinFloat =
    copy(left = newLeft, right = newRight)
}

/** Query-side PQ ADC table: out[m][k] = v_sub[m] · codebook[m][k],
  * where v_sub[m] is the m-th `sub`-dim slice of the query vector.
  *
  * `right` must be a FOLDABLE array<array<array<float>>> — the M
  * codebooks of K codewords each. Same motivation as [[PqArgMinFloat]]:
  * the unrolled M×K graft_dot tree breaks Janino's 64 KB method limit
  * past ~100 codewords; this is one node whose generated code loops.
  * Arithmetic matches the unrolled form bit-for-bit (widen to double,
  * sequential left fold per dot product).
  */
case class PqQueryTableFloat(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val okL = left.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    val okR = right.dataType match {
      case ArrayType(ArrayType(ArrayType(FloatType, _), _), _) => true
      case _ => false
    }
    if (okL && okR && right.foldable)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "graft_pq_table expects (array<float>, foldable array<array<array<float>>>), got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}" +
          (if (right.foldable) "" else " (codebook not foldable)"))
  }

  override def dataType: DataType =
    ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false)
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_pq_table"

  /** cb(m)(k) = codeword k of subspace m; sub = dims per subspace. */
  @transient private lazy val cb: Array[Array[Array[Float]]] = {
    val ad = right.eval(null).asInstanceOf[ArrayData]
    Array.tabulate(ad.numElements()) { m =>
      val cws = ad.getArray(m)
      Array.tabulate(cws.numElements())(k => cws.getArray(k).toFloatArray())
    }
  }
  @transient private lazy val sub: Int = cb.head.head.length

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    if (v.numElements() != cb.length * sub) return null
    val rows = new Array[Any](cb.length)
    var m = 0
    while (m < cb.length) {
      val row = new Array[Double](cb(m).length)
      var k = 0
      while (k < cb(m).length) {
        val cw = cb(m)(k)
        var acc = 0.0
        var i = 0
        while (i < cw.length) {
          if (v.isNullAt(m * sub + i)) return null
          acc += v.getFloat(m * sub + i).toDouble * cw(i).toDouble
          i += 1
        }
        row(k) = acc
        k += 1
      }
      rows(m) = new org.apache.spark.sql.catalyst.util.GenericArrayData(row)
      m += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(rows)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqTabCodebook", cb, "float[][][]")
    val gad = "org.apache.spark.sql.catalyst.util.GenericArrayData"
    nullSafeCodeGen(ctx, ev, (a, _) => {
      val m = ctx.freshName("m")
      val k = ctx.freshName("k")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val cw = ctx.freshName("cw")
      val row = ctx.freshName("row")
      val rows = ctx.freshName("rows")
      s"""
         |if ($a.numElements() != $cbRef.length * $sub) {
         |  ${ev.isNull} = true;
         |} else {
         |  final Object[] $rows = new Object[$cbRef.length];
         |  for (int $m = 0; $m < $cbRef.length && !${ev.isNull}; $m++) {
         |    final double[] $row = new double[$cbRef[$m].length];
         |    for (int $k = 0; $k < $cbRef[$m].length && !${ev.isNull}; $k++) {
         |      final float[] $cw = $cbRef[$m][$k];
         |      double $acc = 0.0;
         |      for (int $i = 0; $i < $cw.length; $i++) {
         |        if ($a.isNullAt($m * $sub + $i)) { ${ev.isNull} = true; break; }
         |        $acc += (double) $a.getFloat($m * $sub + $i) * (double) $cw[$i];
         |      }
         |      $row[$k] = $acc;
         |    }
         |    $rows[$m] = new $gad($row);
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = new $gad($rows); }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqQueryTableFloat =
    copy(left = newLeft, right = newRight)
}

/** IVF centroid assignment: the 0-based index of the centroid row with
  * the greatest cosine similarity `v·c / (|v|·|c|)`, ties (and NaNs)
  * resolved exactly like a `row_number` over (csim DESC, cid ASC): the
  * comparison is `java.lang.Double.compare` — Spark's double ordering,
  * NaN greatest, NaN == NaN — and the first (lowest-index) winner is
  * kept, so with centroids ordered by id the result is bit-identical
  * to the join+window form it replaces. The win is the plan shape: the
  * join+window form materializes corpus × C rows (each vector copied C
  * times) through a hash exchange; this is ONE codegen'd loop per row,
  * zero exchanges.
  *
  * `third`/`fourth` must be FOLDABLE array<array<float>> centroids and
  * array<double> norms — configuration-sized by contract, like the PQ
  * codebooks. Both the interpreted and the generated path call the
  * companion's kernel, which the external serving probes also use to
  * pick each query's buckets on the driver.
  */
case class ArgMaxCosFloat(first: Expression, second: Expression,
    third: Expression, fourth: Expression) extends QuaternaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val okV = first.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    val okN = second.dataType == DoubleType
    val okC = third.dataType match {
      case ArrayType(ArrayType(FloatType, _), _) => true
      case _ => false
    }
    val okCn = fourth.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (okV && okN && okC && okCn && third.foldable && fourth.foldable)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "graft_argmax_cos expects (array<float>, double, foldable " +
          "array<array<float>>, foldable array<double>), got " +
          Seq(first, second, third, fourth)
            .map(_.dataType.simpleString).mkString(", ") +
          (if (third.foldable && fourth.foldable) ""
           else " (centroids not foldable)"))
  }

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_argmax_cos"

  @transient private lazy val cb: Array[Array[Float]] = {
    val ad = third.eval(null).asInstanceOf[ArrayData]
    Array.tabulate(ad.numElements())(k => ad.getArray(k).toFloatArray())
  }
  @transient private lazy val cn: Array[Double] =
    fourth.eval(null).asInstanceOf[ArrayData].toDoubleArray()

  override protected def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any = {
    val k = ArgMaxCosFloat.argmax(a.asInstanceOf[ArrayData],
      b.asInstanceOf[Double], cb, cn)
    if (k < 0) null else k
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("ivfCentroids", cb, "float[][]")
    val cnRef = ctx.addReferenceObj("ivfNorms", cn, "double[]")
    val kernel = ArgMaxCosFloat.getClass.getName + ".MODULE$"
    nullSafeCodeGen(ctx, ev, (a, b, _, _) => {
      val k = ctx.freshName("k")
      s"""
         |final int $k = $kernel.argmax($a, $b, $cbRef, $cnRef);
         |if ($k < 0) { ${ev.isNull} = true; } else { ${ev.value} = $k; }
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): ArgMaxCosFloat =
    copy(first = newFirst, second = newSecond,
      third = newThird, fourth = newFourth)
}

/** The kernel behind `graft_argmax_cos`, shared with the driver-side
  * bucket choice of the external serving probes: the same cosines in
  * the same accumulation order, ranked by the same comparison. */
object ArgMaxCosFloat {

  /** Whether `v` can be scored: no null element, and every centroid has
    * its width. */
  private def scorable(v: ArrayData, cb: Array[Array[Float]]): Boolean = {
    val n = v.numElements()
    var i = 0
    while (i < n) { if (v.isNullAt(i)) return false; i += 1 }
    cb.forall(_.length == n)
  }

  /** v·c / (|v|·|c|), the dot a left fold of float-widened products. */
  private def cosine(v: ArrayData, nrm: Double, cw: Array[Float],
      cn: Double): Double = {
    var acc = 0.0
    var i = 0
    while (i < cw.length) { acc += v.getFloat(i).toDouble * cw(i).toDouble; i += 1 }
    acc / (nrm * cn)
  }

  /** `v`'s cosine to every centroid; null when `v` cannot be scored. */
  def cosines(v: ArrayData, nrm: Double, cb: Array[Array[Float]],
      cn: Array[Double]): Array[Double] =
    if (!scorable(v, cb)) null
    else Array.tabulate(cb.length)(k => cosine(v, nrm, cb(k), cn(k)))

  /** Centroid indices in (cosine DESC, index ASC) order under
    * `java.lang.Double.compare` (NaN greatest) — with centroids in id
    * order, the row_number-over-(csim DESC, cid ASC) order. */
  def ranked(cs: Array[Double]): Array[Int] =
    cs.indices.toArray.sortWith { (x, y) =>
      val c = java.lang.Double.compare(cs(x), cs(y))
      c > 0 || (c == 0 && x < y)
    }

  /** The first index of [[ranked]], without allocating; -1 when `v`
    * cannot be scored or there is no centroid. */
  def argmax(v: ArrayData, nrm: Double, cb: Array[Array[Float]],
      cn: Array[Double]): Int =
    if (!scorable(v, cb)) -1
    else {
      var best = 0.0
      var bestK = -1
      var k = 0
      while (k < cb.length) {
        val cs = cosine(v, nrm, cb(k), cn(k))
        if (bestK < 0 || java.lang.Double.compare(cs, best) > 0) {
          best = cs; bestK = k
        }
        k += 1
      }
      bestK
    }
}

/** Scaled matrix-vector product: out[j] = float(v · planes[j] / divisor)
  * — the whole of a JL random projection ([[graft.operators.Similarity
  * .randomProject]]) in ONE looped-codegen node.
  *
  * The unrolled form (outDim separate graft_dot folds in one Project)
  * hits Janino's 64 KB method ceiling near outDim ≈ 224 (measured at
  * dim 768: 16 321 bytes at 64 folds, 55 375 at 192, refused at 256),
  * after which Spark silently interprets the projection; this node's
  * generated code loops over a referenced float[][], so method size is
  * constant in BOTH dimensions. Arithmetic is bit-identical to the
  * unrolled form: each dot widens to double in a sequential left fold,
  * then ONE double division by `divisor`, then a float cast — the op
  * sequence an external oracle replays. `middle` (planes) and `right`
  * (divisor) must be foldable; a null element or a plane/vector length
  * mismatch nulls the whole row (the unrolled form nulled components).
  */
case class MatVecScaledFloat(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val okV = first.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    val okP = second.dataType match {
      case ArrayType(ArrayType(FloatType, _), _) => true
      case _ => false
    }
    val okD = third.dataType == DoubleType
    if (okV && okP && okD && second.foldable && third.foldable)
      // planes are configuration, not data: validate the literal's
      // null structure HERE so both the interpreted and codegen paths
      // fail at analysis time with the same clear message (a null
      // matrix would otherwise null-propagate in interpreted eval but
      // NPE/require in codegen's planes extraction)
      planesNullError match {
        case None =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case Some(err) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult
            .TypeCheckFailure(s"graft_matvec: $err")
      }
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "graft_matvec expects (array<float>, foldable array<array<float>>, " +
          s"foldable double), got ${first.dataType.simpleString}, " +
          s"${second.dataType.simpleString}, ${third.dataType.simpleString}" +
          (if (second.foldable && third.foldable) ""
           else " (planes/divisor not foldable)"))
  }

  private def planesNullError: Option[String] = {
    val raw = second.eval(null)
    if (raw == null) return Some("planes literal must not be null")
    val ad = raw.asInstanceOf[ArrayData]
    var j = 0
    while (j < ad.numElements()) {
      if (ad.isNullAt(j)) return Some(s"plane $j is null")
      val p = ad.getArray(j)
      var i = 0
      while (i < p.numElements()) {
        if (p.isNullAt(i)) return Some(s"plane $j element $i is null")
        i += 1
      }
      j += 1
    }
    None
  }

  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_matvec"

  // checkInputDataTypes already rejected null matrices/planes/elements
  // at analysis time (planesNullError), so the extraction is total here
  @transient private lazy val planes: Array[Array[Float]] = {
    val ad = second.eval(null).asInstanceOf[ArrayData]
    Array.tabulate(ad.numElements())(j => ad.getArray(j).toFloatArray())
  }

  override protected def nullSafeEval(a: Any, b: Any, c: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val div = c.asInstanceOf[Double]
    val n = v.numElements()
    val out = new Array[Float](planes.length)
    var j = 0
    while (j < planes.length) {
      val w = planes(j)
      if (w.length != n) return null
      var acc = 0.0
      var i = 0
      while (i < n) {
        if (v.isNullAt(i)) return null
        acc += v.getFloat(i).toDouble * w(i).toDouble
        i += 1
      }
      out(j) = (acc / div).toFloat
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val pRef = ctx.addReferenceObj("matvecPlanes", planes, "float[][]")
    val gad = "org.apache.spark.sql.catalyst.util.GenericArrayData"
    nullSafeCodeGen(ctx, ev, (a, _, c) => {
      val n = ctx.freshName("n")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val w = ctx.freshName("w")
      val out = ctx.freshName("out")
      s"""
         |final int $n = $a.numElements();
         |final float[] $out = new float[$pRef.length];
         |for (int $j = 0; $j < $pRef.length && !${ev.isNull}; $j++) {
         |  final float[] $w = $pRef[$j];
         |  if ($w.length != $n) { ${ev.isNull} = true; break; }
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += (double) $a.getFloat($i) * (double) $w[$i];
         |  }
         |  if (!${ev.isNull}) { $out[$j] = (float) ($acc / $c); }
         |}
         |if (!${ev.isNull}) { ${ev.value} = new $gad($out); }
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): MatVecScaledFloat =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** Runtime registration of the graft native functions. */
object GraftFunctions {
  val dotInfo = new ExpressionInfo(classOf[DotProductFloat].getName, "graft_dot")
  val pqArgMinInfo =
    new ExpressionInfo(classOf[PqArgMinFloat].getName, "graft_pq_argmin")
  val pqTableInfo =
    new ExpressionInfo(classOf[PqQueryTableFloat].getName, "graft_pq_table")
  val argMaxCosInfo =
    new ExpressionInfo(classOf[ArgMaxCosFloat].getName, "graft_argmax_cos")
  val matVecInfo =
    new ExpressionInfo(classOf[MatVecScaledFloat].getName, "graft_matvec")
  val bpeInfo =
    new ExpressionInfo(classOf[BpeEncodeText].getName, "graft_bpe")
  val bpePairsInfo =
    new ExpressionInfo(classOf[BpePairsText].getName, "graft_bpe_pairs")
  val bpeDecodeInfo =
    new ExpressionInfo(classOf[BpeDecodeIds].getName, "graft_bpe_decode")
  val bpeBytesInfo =
    new ExpressionInfo(classOf[BpeEncodeText].getName, "graft_bpe_bytes")
  val bpeBytesPairsInfo =
    new ExpressionInfo(classOf[BpePairsText].getName, "graft_bpe_bytes_pairs")
  val bpeBytesDecodeInfo =
    new ExpressionInfo(classOf[BpeDecodeIds].getName, "graft_bpe_bytes_decode")

  private[functions] val dotBuilder: Seq[Expression] => Expression = { children =>
    require(children.size == 2,
      s"graft_dot expects exactly 2 arguments, got ${children.size}")
    DotProductFloat(children(0), children(1))
  }

  private[functions] val pqArgMinBuilder: Seq[Expression] => Expression = { children =>
    require(children.size == 2,
      s"graft_pq_argmin expects exactly 2 arguments, got ${children.size}")
    PqArgMinFloat(children(0), children(1))
  }

  private[functions] val pqTableBuilder: Seq[Expression] => Expression = { children =>
    require(children.size == 2,
      s"graft_pq_table expects exactly 2 arguments, got ${children.size}")
    PqQueryTableFloat(children(0), children(1))
  }

  private[functions] val argMaxCosBuilder: Seq[Expression] => Expression = { children =>
    require(children.size == 4,
      s"graft_argmax_cos expects exactly 4 arguments, got ${children.size}")
    ArgMaxCosFloat(children(0), children(1), children(2), children(3))
  }

  private[functions] val matVecBuilder: Seq[Expression] => Expression = { children =>
    require(children.size == 3,
      s"graft_matvec expects exactly 3 arguments, got ${children.size}")
    MatVecScaledFloat(children(0), children(1), children(2))
  }

  private[functions] val bpeBuilder: Seq[Expression] => Expression = { children =>
    require(children.size == 2,
      s"graft_bpe expects exactly 2 arguments, got ${children.size}")
    BpeEncodeText(children(0), children(1))
  }

  private[functions] val bpePairsBuilder: Seq[Expression] => Expression = { children =>
    require(children.size == 2,
      s"graft_bpe_pairs expects exactly 2 arguments, got ${children.size}")
    BpePairsText(children(0), children(1))
  }

  private[functions] val bpeDecodeBuilder: Seq[Expression] => Expression = { children =>
    require(children.size == 2,
      s"graft_bpe_decode expects exactly 2 arguments, got ${children.size}")
    BpeDecodeIds(children(0), children(1))
  }

  // the byte-level (GPT-2 alphabet) variants: same expressions, flag set
  private[functions] val bpeBytesBuilder: Seq[Expression] => Expression = { children =>
    require(children.size == 2,
      s"graft_bpe_bytes expects exactly 2 arguments, got ${children.size}")
    BpeEncodeText(children(0), children(1), byteLevel = true)
  }

  private[functions] val bpeBytesPairsBuilder: Seq[Expression] => Expression = { children =>
    require(children.size == 2,
      s"graft_bpe_bytes_pairs expects exactly 2 arguments, got ${children.size}")
    BpePairsText(children(0), children(1), byteLevel = true)
  }

  private[functions] val bpeBytesDecodeBuilder: Seq[Expression] => Expression = { children =>
    require(children.size == 2,
      s"graft_bpe_bytes_decode expects exactly 2 arguments, got ${children.size}")
    BpeDecodeIds(children(0), children(1), byteLevel = true)
  }

  /** Idempotently register on a live (classic) session. */
  def register(spark: SparkSession): Unit = spark match {
    case s: org.apache.spark.sql.classic.SparkSession =>
      s.sessionState.functionRegistry.registerFunction(
        FunctionIdentifier("graft_dot"), dotInfo, dotBuilder)
      s.sessionState.functionRegistry.registerFunction(
        FunctionIdentifier("graft_pq_argmin"), pqArgMinInfo, pqArgMinBuilder)
      s.sessionState.functionRegistry.registerFunction(
        FunctionIdentifier("graft_pq_table"), pqTableInfo, pqTableBuilder)
      s.sessionState.functionRegistry.registerFunction(
        FunctionIdentifier("graft_argmax_cos"), argMaxCosInfo, argMaxCosBuilder)
      s.sessionState.functionRegistry.registerFunction(
        FunctionIdentifier("graft_matvec"), matVecInfo, matVecBuilder)
      s.sessionState.functionRegistry.registerFunction(
        FunctionIdentifier("graft_bpe"), bpeInfo, bpeBuilder)
      s.sessionState.functionRegistry.registerFunction(
        FunctionIdentifier("graft_bpe_pairs"), bpePairsInfo, bpePairsBuilder)
      s.sessionState.functionRegistry.registerFunction(
        FunctionIdentifier("graft_bpe_decode"), bpeDecodeInfo, bpeDecodeBuilder)
      s.sessionState.functionRegistry.registerFunction(
        FunctionIdentifier("graft_bpe_bytes"), bpeBytesInfo, bpeBytesBuilder)
      s.sessionState.functionRegistry.registerFunction(
        FunctionIdentifier("graft_bpe_bytes_pairs"), bpeBytesPairsInfo,
        bpeBytesPairsBuilder)
      s.sessionState.functionRegistry.registerFunction(
        FunctionIdentifier("graft_bpe_bytes_decode"), bpeBytesDecodeInfo,
        bpeBytesDecodeBuilder)
    case _ => // non-classic session (e.g. connect): extensions config required
  }
}

/** `spark.sql.extensions=graft.functions.GraftExtensions` installs the
  * native functions at session build time. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier("graft_dot"), GraftFunctions.dotInfo,
      GraftFunctions.dotBuilder))
    ext.injectFunction((FunctionIdentifier("graft_pq_argmin"),
      GraftFunctions.pqArgMinInfo, GraftFunctions.pqArgMinBuilder))
    ext.injectFunction((FunctionIdentifier("graft_pq_table"),
      GraftFunctions.pqTableInfo, GraftFunctions.pqTableBuilder))
    ext.injectFunction((FunctionIdentifier("graft_argmax_cos"),
      GraftFunctions.argMaxCosInfo, GraftFunctions.argMaxCosBuilder))
    ext.injectFunction((FunctionIdentifier("graft_matvec"),
      GraftFunctions.matVecInfo, GraftFunctions.matVecBuilder))
    ext.injectFunction((FunctionIdentifier("graft_bpe"),
      GraftFunctions.bpeInfo, GraftFunctions.bpeBuilder))
    ext.injectFunction((FunctionIdentifier("graft_bpe_pairs"),
      GraftFunctions.bpePairsInfo, GraftFunctions.bpePairsBuilder))
    ext.injectFunction((FunctionIdentifier("graft_bpe_decode"),
      GraftFunctions.bpeDecodeInfo, GraftFunctions.bpeDecodeBuilder))
    ext.injectFunction((FunctionIdentifier("graft_bpe_bytes"),
      GraftFunctions.bpeBytesInfo, GraftFunctions.bpeBytesBuilder))
    ext.injectFunction((FunctionIdentifier("graft_bpe_bytes_pairs"),
      GraftFunctions.bpeBytesPairsInfo, GraftFunctions.bpeBytesPairsBuilder))
    ext.injectFunction((FunctionIdentifier("graft_bpe_bytes_decode"),
      GraftFunctions.bpeBytesDecodeInfo, GraftFunctions.bpeBytesDecodeBuilder))
  }
}
