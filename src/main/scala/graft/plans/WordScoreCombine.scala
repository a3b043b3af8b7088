package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, AttributeReference,
  AttributeSet, BindReferences, Descending, Expression, SortOrder, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, Distribution, Partitioning,
  SinglePartition}
import org.apache.spark.sql.execution.{LocalTableScanExec, SortExec, SparkPlan, SparkStrategy,
  UnaryExecNode}
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
  * instead of one per token, shuffle straight into the one partition of
  * [[WordScoreReduce]], the reference's single reducer, which sums them
  * in the same kind of map and sorts the result.
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

/** The word-score job's reducer, the reference's `IntSumReducer` in its
  * reduce role (`ComputeWordScore.java:209-213`): sums `(word, partial)`
  * rows per word in one [[WordMap]] (past its bound, on Spark's
  * external sorter; see [[WordScoreReducer]]) and emits `(word, score)`
  * sorted by score descending, then word ascending by its UTF-8 bytes
  * compared unsigned, which is Spark's `StringType` order. It runs in
  * one task over all of its input, so the sorted rows are the whole
  * result.
  */
case class WordScoreReduce(
    word: Attribute,
    partial: Attribute,
    output: Seq[Attribute],
    child: LogicalPlan) extends UnaryNode {

  override def producedAttributes: AttributeSet = AttributeSet(output)

  override protected def withNewChildInternal(newChild: LogicalPlan): WordScoreReduce =
    copy(child = newChild)
}

object WordScoreReduce {

  /** `partials` (word STRING, partial BIGINT) → (word, score), sorted
    * score desc, word asc, in one partition.
    */
  def reduce(partials: DataFrame): DataFrame = {
    // the reducer reads word and partial at ordinals 0 and 1
    val plan = partials.select("word", "partial").queryExecution.analyzed
    val Seq(word, partial) = plan.output
    GraftSql.ofRows(partials.sparkSession, WordScoreReduce(word, partial, Seq(
      AttributeReference("word", StringType, nullable = false)(),
      AttributeReference("score", LongType, nullable = false)()), plan))
  }
}

/** Plans [[WordScoreCombine]] as [[WordScoreCombineExec]] and
  * [[WordScoreReduce]] as [[WordScoreReduceExec]].
  */
object WordScoreCombineStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case WordScoreCombine(m, t, out, child) => WordScoreCombineExec(m, t, out, planLater(child)) :: Nil
    case WordScoreReduce(w, p, out, child) => WordScoreReduceExec(w, p, out, planLater(child)) :: Nil
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

/** Physical [[WordScoreReduce]]. It requires all of its input in one
  * partition (the planner puts an `Exchange SinglePartition` below it)
  * and declares the one partition and the order it emits, so a sort or
  * `coalesce(1)` above it has nothing to do. Its two metrics are
  * Hadoop's reduce input and output records.
  */
case class WordScoreReduceExec(
    word: Attribute,
    partial: Attribute,
    output: Seq[Attribute],
    child: SparkPlan) extends UnaryExecNode {

  override def producedAttributes: AttributeSet = AttributeSet(output)

  override def requiredChildDistribution: Seq[Distribution] = AllTuples :: Nil

  override def outputPartitioning: Partitioning = SinglePartition

  override def outputOrdering: Seq[SortOrder] = WordScoreReducer.order(output)

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numInputRows" -> SQLMetrics.createMetric(sparkContext, "number of input rows"),
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  protected override def doExecute(): RDD[InternalRow] = {
    val numInputRows = longMetric("numInputRows")
    val numOutputRows = longMetric("numOutputRows")
    val sorts = WordScoreReducer.sorts(Seq(word, partial), output)
    child.execute().mapPartitions { rows =>
      val (maxWords, maxBytes) = WordScoreReducer.bound(Runtime.getRuntime.maxMemory)
      WordScoreReducer(rows, maxWords, maxBytes, sorts, numInputRows, numOutputRows)
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): WordScoreReduceExec =
    copy(child = newChild)
}

/** The one partition of [[WordScoreReduceExec]]: sums its `(word,
  * partial)` rows into a [[WordMap]], then emits the entries as
  * `(word, score)` rows sorted by score descending, then word. A
  * vocabulary past the map's bound takes Spark's path instead, which
  * spills: the map's rows and the rest of the input are sorted by word
  * on Spark's external sorter, each word's run is summed, and the sums
  * are sorted by score the same way.
  */
private[graft] object WordScoreReducer {

  /** Distinct words and word bytes the map holds on a heap of `heap`
    * bytes: 1/256 of the heap in words (2^23 at 2 GiB, each taking 42
    * to 70 bytes with its slots and the sort) and 1/16 of it in word
    * bytes. That leaves Spark's sorter most of the heap if it is crossed.
    */
  def bound(heap: Long): (Int, Long) =
    (math.min(heap / 256, WordMap.MaxWords).toInt, math.min(heap / 16, WordMap.ArenaCap))

  /** The reducer's output order over its (word, score) attributes. */
  def order(out: Seq[Attribute]): Seq[SortOrder] =
    Seq(SortOrder(out(1), Descending), SortOrder(out(0), Ascending))

  /** The two sorts the fallback runs: `in` (word, partial) rows by
    * word, and `out` (word, score) rows in [[order]].
    */
  def sorts(in: Seq[Attribute], out: Seq[Attribute]): (SortExec, SortExec) = (
    SortExec(Seq(SortOrder(in(0), Ascending)), global = false, LocalTableScanExec(in, Nil, None)),
    SortExec(order(out), global = false, LocalTableScanExec(out, Nil, None)))

  def apply(rows: Iterator[InternalRow], maxWords: Int, maxBytes: Long,
      sorts: (SortExec, SortExec), numInputRows: SQLMetric,
      numOutputRows: SQLMetric): Iterator[InternalRow] = {
    var map = new WordMap(maxWords, maxBytes)
    var full = false
    while (!full && rows.hasNext) {
      val r = rows.next()
      numInputRows += 1
      val s = r.getUTF8String(0)
      full = !map.add(s.getBaseObject, s.getBaseOffset, s.numBytes,
        WordMap.hash(s.getBaseObject, s.getBaseOffset, s.numBytes), r.getLong(1))
      if (full) {
        val byWord = sorts._1.createSorter()
        for (e <- 0 until map.size) byWord.insertRow(map.row(e))
        map = null
        byWord.insertRow(r.asInstanceOf[UnsafeRow])
        rows.foreach { r => numInputRows += 1; byWord.insertRow(r.asInstanceOf[UnsafeRow]) }
        return sorts._2.createSorter().sort(runSums(byWord.sort()))
          .map { r => numOutputRows += 1; r }
      }
    }
    val m = map
    m.sortedByScore().iterator.map { e => numOutputRows += 1; m.row(e) }
  }

  /** One (word, sum) row per run of equal words in `sorted`. */
  private def runSums(sorted: Iterator[InternalRow]): Iterator[UnsafeRow] = new Iterator[UnsafeRow] {
    private val writer = new UnsafeRowWriter(2)
    // the sorter reuses its row, so a run's word is copied before it moves on
    private var head = if (sorted.hasNext) sorted.next() else null

    override def hasNext: Boolean = head != null

    override def next(): UnsafeRow = {
      val word = head.getUTF8String(0).clone()
      var sum = 0L
      while (head != null && head.getUTF8String(0) == word) {
        sum += head.getLong(1)
        head = if (sorted.hasNext) sorted.next() else null
      }
      writer.reset()
      writer.zeroOutNullBytes()
      writer.write(0, word)
      writer.write(1, sum)
      writer.getRow
    }
  }
}

/** Partition iterator of [[WordScoreCombineExec]]: scans each review's
  * UTF-8 bytes in place and sums its modifier into a bounded
  * [[WordMap]]. When a new word does not fit — `maxWords` distinct
  * words, or their bytes past 64 per word on average — the map emits
  * its rows and starts again empty, resuming the scan at that word.
  * That is exact, because the reducer sums duplicate words, and it
  * bounds the map's memory.
  */
private[graft] final class WordScoreCombiner(
    reviews: Iterator[InternalRow],
    text: InternalRow => UTF8String,
    modifier: InternalRow => Long,
    maxWords: Int,
    numTokens: SQLMetric,
    numOutputRows: SQLMetric) extends Iterator[InternalRow] {
  import WordMap.{FnvBasis, FnvPrime, Space, isDelim}

  private val map = new WordMap(maxWords, maxWords.toLong * 64)
  private var emitted = 0

  // the review being scanned; its bytes stay valid until reviews.hasNext
  private var base: AnyRef = null
  private var offset = 0L
  private var numBytes = 0
  private var pos = 0
  private var delta = 0L

  override def hasNext: Boolean = emitted < map.size || {
    if (map.size > 0) { map.clear(); emitted = 0 }
    fill()
    map.size > 0
  }

  override def next(): InternalRow = {
    if (!hasNext) throw new NoSuchElementException
    emitted += 1
    numOutputRows += 1
    map.row(emitted - 1)
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
      if (!map.add(base, offset + start, i - start, h, delta)) {
        numTokens += tokens
        return start
      }
      tokens += 1
      i = skipDelims(i)
    }
    numTokens += tokens
    i
  }
}

private[graft] object WordScoreCombiner {
  /** Distinct words the map holds before it emits (a few MB per task). */
  val MaxWords: Int = 1 << 17
}

/** Open-addressing map from words (byte slices) to `Long` sums, the one
  * map both sides of the word-score job use: linear probing, keys
  * copied into the map's own arena, because the input row buffers are
  * reused. `maxWords` and `maxBytes` are a soft bound: [[add]] returns
  * false for a new word past it, and the combiner then emits and
  * clears, the reducer falls back to sorting. Past the hard caps — the
  * `Int` offsets cap the arena at `arenaCap` bytes, the slot table the
  * words at [[WordMap.MaxWords]] — a new word fails the task with a
  * message that names the map's size and both caps.
  */
private[graft] final class WordMap(maxWords: Int, maxBytes: Long,
    arenaCap: Int = WordMap.ArenaCap) {
  import WordMap._

  // slots hold entry index + 1 (0 = empty); at most half of them are used
  private var slots = new Array[Int](InitialSlots)
  private var hashes = new Array[Int](InitialSlots / 2)
  private var starts = new Array[Int](InitialSlots / 2)
  private var lens = new Array[Int](InitialSlots / 2)
  private var sums = new Array[Long](InitialSlots / 2)
  private var arena = new Array[Byte](math.min(InitialSlots * 8, arenaCap))
  private var arenaUsed = 0
  private var words = 0

  private val writer = new UnsafeRowWriter(2)

  def size: Int = words

  def clear(): Unit = {
    java.util.Arrays.fill(slots, 0)
    words = 0
    arenaUsed = 0
  }

  /** Entry `e` as a (word, sum) row; the row is reused by the next call. */
  def row(e: Int): UnsafeRow = {
    writer.reset()
    writer.zeroOutNullBytes()
    writer.write(0, arena, starts(e), lens(e))
    writer.write(1, sums(e))
    writer.getRow
  }

  /** Adds `delta` to the `n`-byte word at `offset` of `base`, whose
    * [[WordMap.hash]] is `h0`; false if it is new and the map is full.
    */
  def add(base: AnyRef, offset: Long, n: Int, h0: Int, delta: Long): Boolean = {
    val h = fmix(h0)
    var s = h & (slots.length - 1)
    while (slots(s) != 0) {
      val e = slots(s) - 1
      if (hashes(e) == h && lens(e) == n && ByteArrayMethods.arrayEquals(
          arena, Platform.BYTE_ARRAY_OFFSET + starts(e), base, offset, n)) {
        sums(e) += delta
        return true
      }
      s = (s + 1) & (slots.length - 1)
    }
    val need = arenaUsed.toLong + n
    if (words == maxWords || (words > 0 && need > maxBytes)) return false
    if (words == MaxWords || need > arenaCap) throw new IllegalStateException(
      s"word map full: $words distinct words in $arenaUsed bytes, and the map holds " +
        s"at most $MaxWords words in $arenaCap bytes")
    if (words == sums.length) growEntries()
    if (need > arena.length)
      arena = java.util.Arrays.copyOf(arena, math.min(math.max(arena.length * 2L, need), arenaCap).toInt)
    Platform.copyMemory(base, offset, arena, Platform.BYTE_ARRAY_OFFSET + arenaUsed, n)
    hashes(words) = h
    starts(words) = arenaUsed
    lens(words) = n
    sums(words) = delta
    arenaUsed += n
    words += 1
    if (words * 2 > slots.length) rehash() else slots(s) = words
    true
  }

  /** Entry indices ordered by sum descending, then word ascending by
    * its bytes compared unsigned (Spark's `StringType` order). The
    * primary keys are primitive: the sum and the word's first 8 bytes
    * as an unsigned big-endian `Long`; only words that share those 8
    * bytes compare the rest.
    */
  def sortedByScore(): Array[Int] = {
    val order = Array.range(0, words)
    val prefix = Array.tabulate(words) { e =>
      var p = 0L
      var i = 0
      while (i < 8) {
        p = (p << 8) | (if (i < lens(e)) arena(starts(e) + i) & 0xffL else 0L)
        i += 1
      }
      p
    }
    GraftSql.sortInts(order, (a, b) => {
      val c = java.lang.Long.compare(sums(b), sums(a))
      if (c != 0) c else {
        val c2 = java.lang.Long.compareUnsigned(prefix(a), prefix(b))
        if (c2 != 0) c2 else compareTails(a, b)
      }
    })
    order
  }

  /** Words `a` and `b`, whose first 8 bytes are equal, compared from byte 8. */
  private def compareTails(a: Int, b: Int): Int = {
    val n = math.min(lens(a), lens(b))
    var i = 8
    while (i < n) {
      val c = (arena(starts(a) + i) & 0xff) - (arena(starts(b) + i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    Integer.compare(lens(a), lens(b))
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

private[graft] object WordMap {
  /** Words the map holds at most: their slot table stays a power of two
    * no larger than `1 << 30`.
    */
  val MaxWords: Int = 1 << 29
  /** Arena bytes the map holds at most: its offsets are `Int`s. */
  val ArenaCap: Int = Int.MaxValue - 8

  private val InitialSlots = 1 << 10
  val Space: Byte = 32
  val FnvBasis = 0x811c9dc5
  val FnvPrime = 0x01000193
  // bits 9, 10, 12, 13 and 32: \t \n \f \r and space
  private val DelimMask = (1L << 32) | 0x3600L

  /** One of `StringTokenizer`'s default delimiters. */
  def isDelim(b: Byte): Boolean = b <= 32 && b >= 0 && ((DelimMask >>> b) & 1L) != 0

  /** FNV-1a over the `n` bytes at `offset` of `base`, as the combiner's
    * scan computes it token by token.
    */
  def hash(base: AnyRef, offset: Long, n: Int): Int = {
    var h = FnvBasis
    var i = 0
    while (i < n) {
      h = (h ^ Platform.getByte(base, offset + i)) * FnvPrime
      i += 1
    }
    h
  }

  /** Murmur3's finalizer: spreads the byte hash over the slot mask. */
  private def fmix(x: Int): Int = {
    var h = x ^ (x >>> 16)
    h *= 0x85ebca6b
    h ^= h >>> 13
    h *= 0xc2b2ae35
    h ^ (h >>> 16)
  }
}
