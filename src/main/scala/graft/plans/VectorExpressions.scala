package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst fold over two dense vectors: Σ aᵢ·bᵢ (`sq = false`)
  * or Σ (aᵢ−bᵢ)² (`sq = true`). Each side is an ArrayType(FloatType)
  * column (stored embeddings) or an ArrayType(DoubleType) one (derived
  * means, PQ subvectors, directions): float·float, float·double, and
  * for the distance also double·double.
  *
  * The fold is the one rule every vector comparison in the suite uses:
  * read each element as a double — `(double) getFloat(i)` or
  * `getDouble(i)`, by its side's array type — form the term x·y, or d·d
  * with d = x−y, and sum left to right from 0.0. That is the order of
  * the `aggregate(zip_with(…))` higher-order form and of DuckDB's
  * `list_reduce` fold (see graft.functions.Vectors), so the three are
  * bit-exact; VectorExprSpec checks the native against the higher-order
  * forms on the codegen and the interpreted path. The generated loop
  * reads straight out of the UnsafeArrayData buffers — no per-element
  * boxing, no lambda dispatch — and fuses into the surrounding
  * WholeStageCodegen stage.
  *
  * Precondition: array elements are non-null (embedding vectors). A
  * null ARRAY (either side) yields null via BinaryExpression's default
  * null handling, and a LENGTH MISMATCH yields null too — the
  * higher-order form's semantics (zip_with null-pads the shorter array
  * and the fold propagates the null).
  *
  * Plans name the type pair and the term, never the `sq` flag:
  * `float_dot`, `fd_dot` (float × double), `float_sqdist`,
  * `double_sqdist`, `fd_sqdist`.
  */
case class DenseFold(left: Expression, right: Expression, sq: Boolean)
    extends BinaryExpression {

  override def nullable: Boolean = true

  override def dataType: DataType = DoubleType

  // "" for an unresolved child or a rejected type pair
  private def pair: String =
    if (!childrenResolved) ""
    else (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) => "float"
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) if sq => "double"
      case (ArrayType(FloatType, _), ArrayType(DoubleType, _)) => "fd"
      case _ => ""
    }

  override def prettyName: String =
    (if (pair.isEmpty) "dense" else pair) + (if (sq) "_sqdist" else "_dot")

  override protected def stringArgs: Iterator[Any] = Iterator(left, right)

  override def checkInputDataTypes(): TypeCheckResult =
    if (pair.nonEmpty) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<float>, array<float>), (array<float>, " +
        s"array<double>) or, for sqdist, (array<double>, array<double>), got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")

  // element reads per side: float in "float" and "fd", double otherwise
  @transient private lazy val leftFloat = pair == "float" || pair == "fd"
  @transient private lazy val rightFloat = pair == "float"

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    if (a.numElements() != b.numElements()) return null
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      val x = if (leftFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (rightFloat) b.getFloat(i).toDouble else b.getDouble(i)
      if (sq) { val d = x - y; acc += d * d } else acc += x * y
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val x = if (leftFloat) s"((double) $a.getFloat($i))" else s"$a.getDouble($i)"
      val y = if (rightFloat) s"((double) $b.getFloat($i))" else s"$b.getDouble($i)"
      val term =
        if (sq) {
          val d = ctx.freshName("d")
          s"final double $d = $x - $y;\n  $acc += $d * $d;"
        } else s"$acc += $x * $y;"
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |final int $n = $a.numElements();
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $term
         |}
         |${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DenseFold =
    copy(left = newLeft, right = newRight)
}

/** Native sign-random-projection LSH band buckets: all `planes` signed
  * projections of an ArrayType(FloatType) vector in ONE pass, sliced
  * into `bands` bucket strings of planes/bands sign bits each —
  * bit-identical to the higher-order form in
  * graft.operators.Similarity (per plane j, a left fold over positions
  * i = 1..dim of acc + emb[i]·w(i,j), with the ±1 weight from the same
  * Knuth-style integer mix (i·2654435761 + j·40503) mod 97 mod 2, and
  * bucket char '1' iff the projection is ≥ 0).
  *
  * Why: the HOF formulation interprets planes·dim lambda steps per
  * vector per reference, and the LSH family (`s_ann_lsh`,
  * `s_knn_graph`, `s_recall`) references it on BOTH join sides — the
  * signature was the dominant cost of the self-join k-NN graph. Here
  * the eight accumulators ride one dim-length loop, fused into
  * whole-stage codegen.
  *
  * Degenerate-input parity: for vectors SHORTER than `dim`, the HOF's
  * out-of-range element_at yields a null that poisons the whole fold,
  * and `null >= 0` is false — every bucket char becomes '0'. Mirrored
  * here explicitly (all-zero buckets when numElements < dim).
  */
case class SignBands(child: Expression, planes: Int, bands: Int, dim: Int)
    extends UnaryExpression {
  require(planes % bands == 0, "planes must divide evenly into bands")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"sign_bands expects array<float>, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "sign_bands"

  override protected def nullSafeEval(input: Any): Any =
    SignBands.compute(input.asInstanceOf[ArrayData], planes, bands, dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"${ev.value} = graft.plans.SignBands.compute($c, $planes, $bands, $dim);"
    })

  override protected def withNewChildInternal(newChild: Expression): SignBands =
    copy(child = newChild)
}

object SignBands {
  def compute(emb: ArrayData, planes: Int, bands: Int, dim: Int): ArrayData = {
    val width = planes / bands
    val out = new Array[Any](bands)
    if (emb.numElements() < dim) {
      val zeros = UTF8String.fromString("0" * width)
      var b = 0
      while (b < bands) { out(b) = zeros; b += 1 }
      return new GenericArrayData(out)
    }
    val acc = new Array[Double](planes)
    var i = 0
    while (i < dim) {
      val x = emb.getFloat(i).toDouble
      val mixBase = (i + 1).toLong * 2654435761L
      var j = 0
      while (j < planes) {
        val w = if (((mixBase + j * 40503L) % 97L) % 2L == 0L) 1.0 else -1.0
        acc(j) += x * w
        j += 1
      }
      i += 1
    }
    var b = 0
    while (b < bands) {
      val chars = new Array[Byte](width)
      var k = 0
      while (k < width) {
        chars(k) = if (acc(b * width + k) >= 0) '1'.toByte else '0'.toByte
        k += 1
      }
      out(b) = UTF8String.fromBytes(chars)
      b += 1
    }
    new GenericArrayData(out)
  }
}

/** Native sparse dot product over two SORTED weight vectors
  * (array<struct<word: string, w: double>>, sorted ascending by word —
  * the `sort_array(collect_list(struct(word, w)))` shape): a merge-walk
  * over the two arrays multiplies weights of shared words through an
  * EXACT decimal path — each weight is quantized to scale 6 (HALF_UP;
  * for the producer's `round(w, 6)` doubles this is an exact recovery
  * of the 6-dp decimal, since no shorter decimal can live within a
  * half-ulp), the product is exact decimal arithmetic at scale 12,
  * each term is rounded to scale 9 (HALF_UP on the EXACT decimal — no
  * double-representation tie can sneak in), and terms sum in an exact
  * BigDecimal accumulator. Bit-identical to
  * `SUM(round(CAST(wa AS DECIMAL(18,6)) * CAST(wb AS DECIMAL(18,6)),
  * 9))::DOUBLE` over the exploded shared-word join — in Spark AND in
  * DuckDB, for ANY evaluation order, because every step is exact
  * decimal arithmetic with a deterministic rounding mode. (The earlier
  * form rounded the double product at 9 dp, which both engines did
  * through different decimal paths — a representable .5 tie at the
  * 10th digit of a 12-dp product could diverge; products of 6-dp
  * decimals land on such boundaries, so the hazard was real. Routing
  * the quantization through the exact product removes it.)
  *
  * Why it exists (SURVEY.md §4 bar — a measured gap): the exploded
  * join-aggregate pushes |pairs|·|shared words| rows (~30×) through two
  * hash joins and a re-aggregation; this expression makes the pair
  * scoring one codegen'd O(|a|+|b|) call per candidate row — no
  * explode, no second exchange, no regroup, and no interpreted-HOF
  * evaluator in the hot path (an `aggregate` lambda fold was measured
  * 3–5× slower after unrelated queries polluted its dispatch profile;
  * docs/PLANS.md round-5).
  *
  * Word comparison is UTF8String binary order — the same ordering
  * `sort_array` applies to the struct's leading string field, so the
  * merge-walk's sortedness precondition is exactly what the producer
  * guarantees.
  */
case class SparseDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  // containsNull stays accepted (DDL-cast array types default to
  // containsNull=true, so rejecting it would refuse legitimate SQL
  // literals); null ELEMENTS and null word fields are skipped at eval —
  // they sort nowhere in the merge-walk and contribute nothing.
  private def ok(dt: DataType): Boolean = dt match {
    case ArrayType(org.apache.spark.sql.types.StructType(fields), _) =>
      fields.length == 2 && fields(0).dataType == StringType &&
        fields(1).dataType == DoubleType
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sparse_dot expects two array<struct<string,double>> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")

  override def dataType: DataType = DoubleType

  override def prettyName: String = "sparse_dot"

  override protected def nullSafeEval(l: Any, r: Any): Any =
    SparseDotProduct.compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"${ev.value} = graft.plans.SparseDotProduct.compute($a, $b);"
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): SparseDotProduct =
    copy(left = newLeft, right = newRight)
}

object SparseDotProduct {
  def compute(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    var acc = java.math.BigDecimal.ZERO
    var i = 0
    var j = 0
    while (i < na && j < nb) {
      val ra = a.getStruct(i, 2)
      val rb = b.getStruct(j, 2)
      // null elements / null words contribute nothing; skip rather
      // than NPE in compareTo (see the containsNull note above)
      if (ra == null || ra.isNullAt(0)) { i += 1 }
      else if (rb == null || rb.isNullAt(0)) { j += 1 }
      else {
      val cmp = ra.getUTF8String(0).compareTo(rb.getUTF8String(0))
      if (cmp == 0) {
        // exact decimal path (see scaladoc): quantize each weight at
        // scale 6 (exact for round(·,6)-produced doubles), multiply
        // exactly, round the exact 12-dp product to 9 dp
        val wa = java.math.BigDecimal.valueOf(ra.getDouble(1))
          .setScale(6, java.math.RoundingMode.HALF_UP)
        val wb = java.math.BigDecimal.valueOf(rb.getDouble(1))
          .setScale(6, java.math.RoundingMode.HALF_UP)
        acc = acc.add(wa.multiply(wb)
          .setScale(9, java.math.RoundingMode.HALF_UP))
        i += 1; j += 1
      } else if (cmp < 0) i += 1
      else j += 1
      }
    }
    acc.doubleValue()
  }
}
