package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType, StructField, StructType}

/** Native dot product over two float-array columns with a double
  * accumulator, summed in ascending index order.
  *
  * Exists because the composable form —
  * `aggregate(zip_with(a, b, _ * _), 0d, _ + _)` — runs as interpreted
  * HigherOrderFunction lambdas (per-element closure dispatch + boxing,
  * outside whole-stage codegen). This expression compiles to one static
  * call of [[FloatVecDot.dot]], keeping vector similarity inside codegen;
  * it is the hot inner op of every pairwise similarity operator
  * ([[graft.pipeline.Knn]]). Same op order ⇒ bit-identical results to the
  * lambda form and the DuckDB oracle.
  */
case class FloatVecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    // accept both containsNull variants (parquet-derived columns are often
    // array<float NOT NULL>); element nulls are rejected at eval time below
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"vec_dot expects array<float> inputs, got ${left.dataType} / ${right.dataType}")
  }
  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any =
    FloatVecDot.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.FloatVecDot.dot($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object FloatVecDot {
  /** The one dot-product loop of the library: double accumulation in
    * ascending index order over the common prefix. Shared by
    * [[FloatVecDot]] (eval and codegen), [[NearestCentroids]] and the
    * Lloyd driver tail, so every engine-side dot is the same arithmetic. */
  def dot(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i))
        throw new IllegalArgumentException(
          "vec_dot: null array elements are not defined for a dot product")
      s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    s
  }
}

object VecFunctions {
  /** `vec_dot(a, b)` as a Column. */
  def vecDot(a: Column, b: Column): Column =
    GraftColumnBridge.column(
      FloatVecDot(GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  /** `pq_encode(embedding, cb)` as a Column ([[PqEncode]]). */
  def pqEncode(emb: Column, cb: Column, m: Int, k: Int, subDim: Int): Column =
    GraftColumnBridge.column(
      PqEncode(GraftColumnBridge.expression(emb), GraftColumnBridge.expression(cb), m, k, subDim))

  /** `nearest_centroids(embedding, nrm, cents)` as a Column ([[NearestCentroids]]). */
  def nearestCentroids(emb: Column, nrm: Column, cents: Column, n: Int): Column =
    GraftColumnBridge.column(NearestCentroids(GraftColumnBridge.expression(emb),
      GraftColumnBridge.expression(nrm), GraftColumnBridge.expression(cents), n))
}

/** The `n` centroids nearest to `embedding` by cosine, best first, as
  * `array<struct<lbl: bigint, sim: double>>` — the one nearest-centroid
  * kernel behind every IVF bucket and probe list, Lloyd assignment and
  * cluster assignment in [[graft.pipeline.Knn]].
  *
  * `cents` is an array of `struct(lbl: bigint, cvec: array<float>,
  * cnrm: double)` in any order; `nrm` is the embedding's norm. For each
  * entry `sim = dot(embedding, cvec) / (nrm · cnrm)` with the
  * [[FloatVecDot.dot]] loop, and entries order by `sim` descending, then
  * `lbl` ascending — the oracle's `ORDER BY sim DESC, lbl`. `sim` compares
  * under Spark's double ordering ([[SQLOrderingUtil.compareDoubles]]:
  * `-0.0 == 0.0`, NaN above every number), the order Spark's sort, `max_by`
  * and `greatest()` all use. Fewer than `n` entries yield them all; an
  * empty `cents` yields an empty array. A null entry, `cvec` or `cnrm` is
  * rejected, like a null vector element in [[FloatVecDot]].
  *
  * The width is read from `cents` at run time, so one compact static call
  * serves any k: the per-centroid column form this replaced grew the
  * generated code with k (past Janino's 64 KB method limit at k = 128,
  * dropping the stage to interpreted execution) and its optimizer tree
  * with k × nprobe (driver OOM at nlist = 16, nprobe = 3).
  */
case class NearestCentroids(embedding: Expression, nrm: Expression, cents: Expression, n: Int)
    extends TernaryExpression {

  override def first: Expression = embedding
  override def second: Expression = nrm
  override def third: Expression = cents

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val embOk = embedding.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    val centsOk = cents.dataType match {
      case ArrayType(StructType(Array(
        StructField(_, LongType, _, _),
        StructField(_, ArrayType(FloatType, _), _, _),
        StructField(_, DoubleType, _, _))), _) => true
      case _ => false
    }
    if (embOk && nrm.dataType == DoubleType && centsOk)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      "nearest_centroids expects (array<float>, double, " +
        "array<struct<lbl: bigint, cvec: array<float>, cnrm: double>>), got " +
        s"${embedding.dataType} / ${nrm.dataType} / ${cents.dataType}")
  }
  override def prettyName: String = "nearest_centroids"
  override def dataType: DataType = NearestCentroids.ResultType

  override def nullSafeEval(e: Any, r: Any, c: Any): Any =
    NearestCentroids.top(e.asInstanceOf[ArrayData], r.asInstanceOf[Double],
      c.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (e, r, c) => s"graft.functions.NearestCentroids.top($e, $r, $c, $n)")

  override protected def withNewChildrenInternal(
      e: Expression, r: Expression, c: Expression): Expression =
    copy(embedding = e, nrm = r, cents = c)
}

object NearestCentroids {
  val ResultType: DataType = ArrayType(StructType(Seq(
    StructField("lbl", LongType, nullable = false),
    StructField("sim", DoubleType, nullable = false))), containsNull = false)

  /** Shared by the interpreted and codegen paths: one pass over `cents`,
    * keeping the best `n` in an insertion-sorted buffer. */
  def top(emb: ArrayData, nrm: Double, cents: ArrayData, n: Int): ArrayData = {
    val m = math.max(0, math.min(n, cents.numElements()))
    val lbls = new Array[Long](m)
    val sims = new Array[Double](m)
    var cnt = 0
    var i = 0
    while (i < cents.numElements()) {
      val ent = cents.getStruct(i, 3)
      if (ent == null || ent.anyNull)
        throw new IllegalArgumentException(
          "nearest_centroids: null centroid entries are not defined")
      val lbl = ent.getLong(0)
      val sim = FloatVecDot.dot(emb, ent.getArray(1)) / (nrm * ent.getDouble(2))
      var j = cnt
      while (j > 0 && {
        val c = SQLOrderingUtil.compareDoubles(sim, sims(j - 1))
        c > 0 || (c == 0 && lbl < lbls(j - 1))
      }) j -= 1
      if (j < m) {
        val len = math.min(cnt, m - 1) - j
        System.arraycopy(lbls, j, lbls, j + 1, len)
        System.arraycopy(sims, j, sims, j + 1, len)
        lbls(j) = lbl
        sims(j) = sim
        if (cnt < m) cnt += 1
      }
      i += 1
    }
    new GenericArrayData(Array.tabulate[Any](m)(j => InternalRow(lbls(j), sims(j))))
  }
}

/** Product-quantization encoder: `embedding` (array<float>, m·subDim dims)
  * against a (j, k)-sorted codebook array of `struct(j, k, cvec, cc)`
  * entries (`cc` = ‖cvec‖², [[graft.pipeline.Knn]]'s `pqCodebookToArray`
  * layout) → the m nearest-code indices, one per subspace, as array<int>.
  *
  * Argmin of squared L2 per subspace, computed exactly as the expression
  * form it replaced — dist = (svv − 2.0·dot) + cc with every dot a
  * double-accumulated ascending-index loop ([[FloatVecDot]]'s order), ties
  * to the lowest code via strict `<` — so codes, downstream ADC sums, and
  * the DuckDB-oracle hashes are unchanged. (−0.0 ties cannot arise:
  * IEEE-754 `a + (−a)` is +0.0, so dist is never −0.0.)
  *
  * Exists because the unrolled expression form — per subspace a
  * `greatest()` over PqK structs each containing a dot — generated
  * ~100 KB of fused Java for PqM × PqK = 128 candidates, blowing Janino's
  * 64 KB method limit: every stage it appeared in (PQ training AND the
  * IVFPQ scan) silently fell back to interpreted execution. One compact
  * static-call site keeps whole-stage codegen alive at any (m, k).
  */
case class PqEncode(left: Expression, right: Expression, m: Int, k: Int, subDim: Int)
    extends BinaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val embOk = left.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    val cbOk = right.dataType match {
      case ArrayType(_: org.apache.spark.sql.types.StructType, _) => true
      case _ => false
    }
    if (embOk && cbOk) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"pq_encode expects (array<float>, array<struct>), got ${left.dataType} / ${right.dataType}")
  }
  override def dataType: DataType = ArrayType(org.apache.spark.sql.types.IntegerType, false)

  override def nullSafeEval(a: Any, b: Any): Any =
    PqEncode.encode(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], m, k, subDim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.PqEncode.encode($a, $b, $m, $k, $subDim);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object PqEncode {
  /** Shared by the interpreted and codegen paths — one JIT-compiled loop. */
  def encode(emb: ArrayData, cb: ArrayData, m: Int, kk: Int, subDim: Int): ArrayData = {
    val codes = new Array[Int](m)
    var j = 0
    while (j < m) {
      val base = j * subDim
      var svv = 0.0
      var i = 0
      while (i < subDim) {
        val x = emb.getFloat(base + i).toDouble
        svv += x * x
        i += 1
      }
      var best = Double.PositiveInfinity
      var bestK = 0
      var k = 0
      while (k < kk) {
        val ent = cb.getStruct(j * kk + k, 4)
        val cvec = ent.getArray(2)
        var dot = 0.0
        var i2 = 0
        while (i2 < subDim) {
          dot += emb.getFloat(base + i2).toDouble * cvec.getFloat(i2).toDouble
          i2 += 1
        }
        val dist = (svv - 2.0 * dot) + ent.getDouble(3)
        if (dist < best) { best = dist; bestK = k }
        k += 1
      }
      codes(j) = bestK
      j += 1
    }
    new GenericArrayData(codes)
  }
}
