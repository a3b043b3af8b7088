package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference,
  AttributeSet, BindReferences, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.graft.GraftSql
import org.apache.spark.sql.types.{LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.apache.spark.unsafe.types.UTF8String

/** In-mapper combining for the word-score job (Lin & Dyer, *Data-Intensive
  * Text Processing with MapReduce*, 2010, §3.1): one node that tokenizes
  * each review, scores every token by the review's modifier and pre-sums
  * per word within a partition. It stands where the reference's
  * hand-written combiner does (`ComputeWordScore.java:180-181`) and is
  * the map stage's only aggregate: its `(word, partial)` rows, one per
  * distinct word per partition (and per flush of its bounded map)
  * instead of one per token, shuffle straight into one partition, where
  * the partial and final `HashAggregate` and the sort run in the one
  * reduce task, like the reference's single reducer.
  *
  * The contract of the composed form it replaces (tokenize, explode,
  * modifier projection) holds exactly:
  *   - `text` is evaluated once per review. `WordScore` passes the
  *     null-`text` guard, so a missing text fails the job whatever the
  *     stars.
  *   - `modifier` is evaluated only at a review's first token, so a
  *     bad-stars review that emits no token succeeds, as in the
  *     reference, which unboxes the modifier per `context.write`.
  *   - Tokens are `java.util.StringTokenizer`'s: maximal runs of bytes
  *     outside {space, \t, \n, \r, \f}. Each delimiter is one ASCII byte
  *     and every byte of a multi-byte UTF-8 sequence is >= 0x80, so a
  *     scan of the UTF-8 bytes splits exactly where the tokenizer does.
  */
case class WordScoreCombine(
    modifier: Expression,
    text: Expression,
    output: Seq[Attribute],
    child: LogicalPlan) extends UnaryNode {

  override def producedAttributes: AttributeSet = AttributeSet(output)

  override protected def withNewChildInternal(newChild: LogicalPlan): WordScoreCombine =
    copy(child = newChild)
}

object WordScoreCombine {

  /** `reviews` → (word, partial): `modifier` (an INT) and `text` (a
    * STRING) are columns over `reviews`. Registers the planner strategy
    * on the session, so any session can plan the node.
    */
  def combine(reviews: DataFrame, modifier: Column, text: Column): DataFrame = {
    val spark = reviews.sparkSession
    GraftSql.ensureRegistered(spark)
    reviews.select(modifier.as("modifier"), text.as("text")).queryExecution.analyzed match {
      case Project(Seq(Alias(m, _), Alias(t, _)), child) =>
        GraftSql.ofRows(spark, WordScoreCombine(m, t, Seq(
          AttributeReference("word", StringType, nullable = false)(),
          AttributeReference("partial", LongType, nullable = false)()), child))
      case other => throw new IllegalStateException(s"unexpected analyzed plan:\n$other")
    }
  }
}

/** Plans [[WordScoreCombine]] as [[WordScoreCombineExec]]. */
object WordScoreCombineStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case WordScoreCombine(m, t, out, child) => WordScoreCombineExec(m, t, out, planLater(child)) :: Nil
    case _ => Nil
  }
}

/** Physical [[WordScoreCombine]]: one [[WordScoreCombiner]] per
  * partition. Its two metrics are Hadoop's combine input and output
  * records.
  */
case class WordScoreCombineExec(
    modifier: Expression,
    text: Expression,
    output: Seq[Attribute],
    child: SparkPlan) extends UnaryExecNode {

  override def producedAttributes: AttributeSet = AttributeSet(output)

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numTokens" -> SQLMetrics.createMetric(sparkContext, "number of tokens scanned"),
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  protected override def doExecute(): RDD[InternalRow] = {
    val numTokens = longMetric("numTokens")
    val numOutputRows = longMetric("numOutputRows")
    val textOf = BindReferences.bindReference(text, child.output)
    val modifierOf = BindReferences.bindReference(modifier, child.output)
    child.execute().mapPartitions { reviews =>
      new WordScoreCombiner(reviews,
        r => textOf.eval(r).asInstanceOf[UTF8String],
        r => modifierOf.eval(r).asInstanceOf[Number].longValue,
        WordScoreCombiner.MaxWords, numTokens, numOutputRows)
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): WordScoreCombineExec =
    copy(child = newChild)
}

/** Partition iterator of [[WordScoreCombineExec]]: scans each review's
  * UTF-8 bytes in place and sums its modifier into an open-addressing
  * map keyed by byte slices (linear probing, keys copied into the map's
  * own arena, because the input row buffer is reused). When a new word
  * does not fit — `maxWords` distinct words, or their bytes past 64 per
  * word on average — the map emits its rows and starts again empty,
  * resuming the scan at that word. That is exact, because the aggregate
  * above sums duplicate words, and it bounds the map's memory.
  */
private[graft] final class WordScoreCombiner(
    reviews: Iterator[InternalRow],
    text: InternalRow => UTF8String,
    modifier: InternalRow => Long,
    maxWords: Int,
    numTokens: SQLMetric,
    numOutputRows: SQLMetric) extends Iterator[InternalRow] {
  import WordScoreCombiner._

  private val maxBytes = maxWords.toLong * 64
  // slots hold entry index + 1 (0 = empty); at most half of them are used
  private var slots = new Array[Int](InitialSlots)
  private var hashes = new Array[Int](InitialSlots / 2)
  private var starts = new Array[Int](InitialSlots / 2)
  private var lens = new Array[Int](InitialSlots / 2)
  private var sums = new Array[Long](InitialSlots / 2)
  private var arena = new Array[Byte](InitialSlots * 8)
  private var arenaUsed = 0
  private var words = 0
  private var emitted = 0

  // the review being scanned; its bytes stay valid until reviews.hasNext
  private var base: AnyRef = null
  private var offset = 0L
  private var numBytes = 0
  private var pos = 0
  private var delta = 0L

  private val writer = new UnsafeRowWriter(2)

  override def hasNext: Boolean = emitted < words || {
    if (words > 0) clear()
    fill()
    words > 0
  }

  override def next(): InternalRow = {
    if (!hasNext) throw new NoSuchElementException
    val e = emitted
    emitted += 1
    writer.reset()
    writer.zeroOutNullBytes()
    writer.write(0, arena, starts(e), lens(e))
    writer.write(1, sums(e))
    numOutputRows += 1
    writer.getRow
  }

  private def clear(): Unit = {
    java.util.Arrays.fill(slots, 0)
    words = 0
    emitted = 0
    arenaUsed = 0
  }

  /** Scans reviews until the input ends or a new word does not fit. */
  private def fill(): Unit = {
    while (pos < numBytes || reviews.hasNext) {
      if (pos >= numBytes) {
        val row = reviews.next()
        val s = text(row)
        base = s.getBaseObject
        offset = s.getBaseOffset
        numBytes = s.numBytes
        pos = skipDelims(0)
        if (pos < numBytes) delta = modifier(row)
      }
      pos = scan(pos)
      if (pos < numBytes) return
    }
  }

  private def skipDelims(from: Int): Int = {
    var i = from
    while (i < numBytes && isDelim(Platform.getByte(base, offset + i))) i += 1
    i
  }

  /** Adds the tokens of the current review from `from`, a token start;
    * returns the review's length in bytes, or the start of the first
    * token that did not fit.
    */
  private def scan(from: Int): Int = {
    var i = from
    var tokens = 0L
    while (i < numBytes) {
      val start = i
      var h = FnvBasis
      var b = Platform.getByte(base, offset + i)
      while (!isDelim(b)) {
        h = (h ^ b) * FnvPrime
        i += 1
        b = if (i < numBytes) Platform.getByte(base, offset + i) else Space
      }
      if (!add(start, i - start, h)) {
        numTokens += tokens
        return start
      }
      tokens += 1
      i = skipDelims(i)
    }
    numTokens += tokens
    i
  }

  /** Adds `delta` to the word at `start`; false if it is new and the map is full. */
  private def add(start: Int, n: Int, h0: Int): Boolean = {
    val h = fmix(h0)
    var s = h & (slots.length - 1)
    while (slots(s) != 0) {
      val e = slots(s) - 1
      if (hashes(e) == h && lens(e) == n && ByteArrayMethods.arrayEquals(
          arena, Platform.BYTE_ARRAY_OFFSET + starts(e), base, offset + start, n)) {
        sums(e) += delta
        return true
      }
      s = (s + 1) & (slots.length - 1)
    }
    if (words == maxWords || (words > 0 && arenaUsed + n > maxBytes)) return false
    if (words == sums.length) growEntries()
    if (arenaUsed + n > arena.length)
      arena = java.util.Arrays.copyOf(arena, math.max(arena.length * 2, arenaUsed + n))
    Platform.copyMemory(base, offset + start, arena, Platform.BYTE_ARRAY_OFFSET + arenaUsed, n)
    hashes(words) = h
    starts(words) = arenaUsed
    lens(words) = n
    sums(words) = delta
    arenaUsed += n
    words += 1
    if (words * 2 > slots.length) rehash() else slots(s) = words
    true
  }

  private def growEntries(): Unit = {
    val n = sums.length * 2
    hashes = java.util.Arrays.copyOf(hashes, n)
    starts = java.util.Arrays.copyOf(starts, n)
    lens = java.util.Arrays.copyOf(lens, n)
    sums = java.util.Arrays.copyOf(sums, n)
  }

  private def rehash(): Unit = {
    slots = new Array[Int](slots.length * 2)
    var e = 0
    while (e < words) {
      var s = hashes(e) & (slots.length - 1)
      while (slots(s) != 0) s = (s + 1) & (slots.length - 1)
      slots(s) = e + 1
      e += 1
    }
  }
}

private[graft] object WordScoreCombiner {
  /** Distinct words the map holds before it emits (a few MB per task). */
  val MaxWords: Int = 1 << 17

  private val InitialSlots = 1 << 10
  private val Space: Byte = 32
  private val FnvBasis = 0x811c9dc5
  private val FnvPrime = 0x01000193
  // bits 9, 10, 12, 13 and 32: \t \n \f \r and space
  private val DelimMask = (1L << 32) | 0x3600L

  /** One of `StringTokenizer`'s default delimiters. */
  def isDelim(b: Byte): Boolean = b <= 32 && b >= 0 && ((DelimMask >>> b) & 1L) != 0

  /** Murmur3's finalizer: spreads the byte hash over the slot mask. */
  private def fmix(x: Int): Int = {
    var h = x ^ (x >>> 16)
    h *= 0x85ebca6b
    h ^= h >>> 13
    h *= 0xc2b2ae35
    h ^ (h >>> 16)
  }
}
