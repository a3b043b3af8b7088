package graft.plans

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native 64-bit SimHash over a token array: md5 every token (with
  * multiplicity), keep 64 ±1 majority counters over the digest's first
  * 64 bits, emit the 16-char lowercase-hex sketch — bit-for-bit the
  * output of a typed SimHash Aggregator (the test reference
  * `graft.SimHash64`), without the explode-to-one-row-per-token +
  * ExpressionEncoder'd 64-int buffer round-trip per row that made the
  * UDAF the bench's second-costliest query (7.5 s at sf0.1). As a
  * per-row map it needs NO shuffle at all: the aggregation disappears,
  * not just its constant factor — the `ShingleMinHash` recipe applied
  * to SimHash. SimHashExprSpec pins the two bit-identical.
  *
  * NULL for a NULL token array; empty arrays yield the all-zero sketch
  * ("0000000000000000") — callers that must match the explode+groupBy
  * row set (where token-less docs vanish) filter `size(toks) > 0`.
  */
case class SimHash64Expr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash64 expects array<string>, got ${other.simpleString}")
  }

  override def dataType: DataType = StringType
  override def prettyName: String = "simhash64"

  override protected def nullSafeEval(input: Any): Any =
    SimHashExprs.compute64(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"${ev.value} = graft.plans.SimHashExprs.compute64($c);"
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash64Expr =
    copy(child = newChild)
}

/** Native 16-bit SimHash: bit d (MSB first, d = 0..15) is set iff the
  * majority of token md5s have the TOP bit of hex digit d set — exactly
  * the `d_simhash` HOF fold (`when(substr(h, i, 1) >= "8", 1).otherwise(-1)`
  * per digit, assembled as `1 << (16 - i)`), which is the 64-bit
  * counter at index 4·d. Replaces a 16-wide interpreted lambda
  * allocating a fresh 16-element array per token hash (6.1 s at sf0.1).
  * Empty array → 0, matching `aggregate`'s init over no elements.
  */
case class SimHash16Expr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash16 expects array<string>, got ${other.simpleString}")
  }

  override def dataType: DataType = IntegerType
  override def prettyName: String = "simhash16"

  override protected def nullSafeEval(input: Any): Any =
    SimHashExprs.compute16(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"${ev.value} = graft.plans.SimHashExprs.compute16($c);"
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash16Expr =
    copy(child = newChild)
}

object SimHashExprs {
  private val md5 = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }
  private val HEX = "0123456789abcdef".toCharArray

  /** The 64 ±1 majority counters over the first 64 md5 bits of every
    * token (multiplicity kept — SimHash weights repeated tokens), in
    * `SimHash64.reduce`'s bit order: bit j lives at digest byte j/8,
    * position 7 − (j mod 8).
    */
  private def counters(toks: ArrayData): Array[Int] = {
    val n = toks.numElements()
    val cnt = new Array[Int](64)
    val md = md5.get()
    var i = 0
    while (i < n) {
      md.reset()
      val digest = md.digest(toks.getUTF8String(i).getBytes)
      var j = 0
      while (j < 64) {
        val bit = (digest(j / 8) >> (7 - (j % 8))) & 1
        cnt(j) += (if (bit == 1) 1 else -1)
        j += 1
      }
      i += 1
    }
    cnt
  }

  /** 16-char lowercase-hex sketch, digit d = bits 4d..4d+3 MSB first —
    * byte-identical to `SimHash64.finish`.
    */
  def compute64(toks: ArrayData): UTF8String = {
    val cnt = counters(toks)
    val out = new Array[Byte](16)
    var d = 0
    while (d < 16) {
      var v = 0
      var b = 0
      while (b < 4) {
        if (cnt(d * 4 + b) > 0) v |= (8 >> b)
        b += 1
      }
      out(d) = HEX(v).toByte
      d += 1
    }
    UTF8String.fromBytes(out)
  }

  /** The top bit of each hex digit (counter index 4·d), assembled as
    * `1 << (15 - d)` — the `d_simhash` fold's exact integer.
    */
  def compute16(toks: ArrayData): Int = {
    val cnt = counters(toks)
    var v = 0
    var d = 0
    while (d < 16) {
      if (cnt(d * 4) > 0) v |= 1 << (15 - d)
      d += 1
    }
    v
  }
}
