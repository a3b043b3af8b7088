package graft

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** 64-bit SimHash as a typed custom aggregate (`Aggregator[IN, BUF, OUT]`):
  * the explode+groupBy reference that SimHashExprSpec and DedupSpec check
  * the native `graft.plans.SimHash64Expr` (the `d_simhash64` query's
  * path) against.
  *
  * Semantics: per group, take the md5 of every input token (with
  * multiplicity); per bit position j (0–63 over the first 16 hex chars),
  * count +1 when the bit is set, −1 when clear; output bit j of the
  * sketch = 1 iff the sum is positive. Result is rendered as a 16-char
  * lowercase hex string — no int64 sign games, and directly comparable
  * with a (generated) pure-SQL DuckDB oracle over the same md5 bits.
  *
  * The ±1 counter buffer is a fixed 64-int array: merge is elementwise
  * addition (commutative/associative), so the aggregate is
  * partial+final-safe and insensitive to row order and partitioning.
  */
object SimHash64 extends Aggregator[String, Array[Int], String] {

  override def zero: Array[Int] = new Array[Int](64)

  // one digest instance per thread, reset by digest() itself — the JCA
  // provider lookup must not sit on the per-token hot path
  private val md5 = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  override def reduce(buf: Array[Int], token: String): Array[Int] = {
    val digest = md5.get().digest(token.getBytes(StandardCharsets.UTF_8))
    var j = 0
    while (j < 64) {
      val bit = (digest(j / 8) >> (7 - (j % 8))) & 1
      buf(j) += (if (bit == 1) 1 else -1)
      j += 1
    }
    buf
  }

  override def merge(a: Array[Int], b: Array[Int]): Array[Int] = {
    var j = 0
    while (j < 64) { a(j) += b(j); j += 1 }
    a
  }

  override def finish(buf: Array[Int]): String = {
    val sb = new StringBuilder(16)
    var d = 0
    while (d < 16) {
      var v = 0
      var b = 0
      while (b < 4) {
        if (buf(d * 4 + b) > 0) v |= (8 >> b)
        b += 1
      }
      sb.append("0123456789abcdef".charAt(v))
      d += 1
    }
    sb.toString
  }

  override def bufferEncoder: Encoder[Array[Int]] = ExpressionEncoder[Array[Int]]()
  override def outputEncoder: Encoder[String] = Encoders.STRING
}
