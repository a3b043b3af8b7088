package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.rng.Seed

import graft.TempDirs.withTempDir
import graft.functions.Text
import graft.operators.WordScore
import graft.plans.{WordMap, WordScoreCombineExec, WordScoreCombiner, WordScoreReduceExec,
  WordScoreReducer}
import graft.sources.{ReviewSource, TsvSink}

/** Reference-semantics tests (golden corpus from FIXTURES.md §A) and
  * tokenizer-parity properties vs java.util.StringTokenizer — the exact
  * ground truth the reference uses (`ComputeWordScore.java:116-120`).
  */
class WordScoreSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def stringTokenizerTokens(s: String): List[String] = {
    val it = new java.util.StringTokenizer(s)
    Iterator.continually(it).takeWhile(_.hasMoreTokens).map(_.nextToken()).toList
  }

  // both scoring forms must keep the reference's semantics
  private val scorers = Seq[(String, (DataFrame, Column, Column) => DataFrame)](
    "score" -> (WordScore.score(_, _, _)),
    "wordScoreSalted" -> (WordScore.wordScoreSalted(_, _, _)))

  test("golden corpus: hand-computed scores, reference semantics") {
    withTempDir("reviews") { dir =>
      val json =
        """{"stars": 5.0, "text": "great great food"}
          |{"stars": 1.0, "text": "great awful\tservice"}
          |{"stars": 3.0, "text": "neutral words ignored"}
          |{"stars": 4.7, "text": "  padded tokens  "}
          |{"stars": 2.0, "text": ""}
          |""".stripMargin
      Files.writeString(new java.io.File(dir, "reviews.json").toPath, json)

      val reviews = ReviewSource.reviews(spark, dir.getAbsolutePath)
      val got = WordScore.score(reviews, col("stars"), col("text"))
        .as[(String, Long)].collect().toMap

      // 4.7★ truncates to 4 (reference Number.intValue, :113) → modifier +1.
      assert(got === Map(
        "great" -> 2L, "food" -> 2L, "awful" -> -2L, "service" -> -2L,
        "neutral" -> 0L, "words" -> 0L, "ignored" -> 0L,
        "padded" -> 1L, "tokens" -> 1L))
    }
  }

  test("output is sorted by score descending") {
    // the full (score desc, word asc) order, ties included, in the one
    // partition the sink writes as one file — for both scoring forms
    val docs = Tables.documents(spark, sf)
    for ((name, scoreFn) <- scorers) {
      val scored = scoreFn(docs, col("doc_id") % 5 + 1, col("text"))
      val rows = scored.as[(String, Long)].collect().toSeq
      assert(rows.nonEmpty, name)
      assert(rows.map(_._2).distinct.size < rows.size, s"$name: no tied scores")
      assert(rows === rows.sortBy { case (w, s) => (-s, w) }, name)
      assert(scored.rdd.getNumPartitions === 1, name)
    }
  }

  test("tsv sink writes score<TAB>word lines in order") {
    withTempDir("tsv") { dir =>
      val out = dir.getAbsolutePath + "/out"
      TsvSink.write(SparkEntry.entry(spark), out)
      val lines = spark.read.text(out).as[String].collect()
      assert(lines.nonEmpty && lines.forall(_.matches("-?\\d+\\t\\S+")))
      val scores = lines.map(_.split("\t")(0).toLong)
      assert(scores.sameElements(scores.sortBy(-_)))
    }
  }

  test("tokenizer parity with java.util.StringTokenizer (property)") {
    val genText: Gen[String] =
      Gen.listOf(Gen.oneOf(Gen.alphaNumStr.suchThat(_.nonEmpty),
        Gen.oneOf(" ", "\t", "\n", "\r", "\f", "  ", " \t",
          // not StringTokenizer delimiters: these must never split
          "\u000B", "\u0085", "\u00A0", "\u2028", "\u3000"),
        Gen.const("a.b,c!"), Gen.const("naïve😀"))).map(_.mkString)
    // 500 deterministic samples, checked in ONE Spark job.
    val samples = (1 to 500).flatMap(i =>
      genText.apply(Gen.Parameters.default, Seed(i.toLong))).distinct
    val got = samples.toDF("text")
      .select(col("text"), Text.tokens(col("text")).as("t"))
      .as[(String, Seq[String])].collect().toMap
    samples.foreach { s =>
      assert(got(s).toList === stringTokenizerTokens(s), s"input=${s.replace("\n","\\n")}")
    }
    // the word-score path tokenizes in its combiner's byte scan: at 5★
    // every StringTokenizer token must add +2, for both scoring forms
    val expected = samples.flatMap(stringTokenizerTokens)
      .groupMapReduce(identity)(_ => 2L)(_ + _)
    for ((name, scoreFn) <- scorers) {
      val scored = scoreFn(samples.toDF("text"), lit(5), col("text"))
        .as[(String, Long)].collect().toMap
      assert(scored === expected, name)
    }
  }

  test("combiner: a small bound grows and flushes the map, partials sum exactly") {
    // texts with a long tail of distinct words, multi-byte characters, a
    // word longer than the map's initial arena, and token-less reviews
    // whose modifier must never be evaluated
    val rnd = new scala.util.Random(11)
    val reviews = (1 to 3000).map { i =>
      val words = Seq.fill(rnd.nextInt(12))(
        if (rnd.nextInt(2) == 0) s"w${rnd.nextInt(5000)}" else Seq("the", "a", "é", "日本", "😀")(rnd.nextInt(5)))
      val text = words.mkString(Seq(" ", "\t", "\n\r", "\f ", "\u000B")(i % 5))
      if (i % 37 == 0) ("  \t\n", 99)
      else if (i == 200) ("x" * 20000 + " tail", 1)
      else (text, i % 5 - 2)
    }
    val expected = reviews.flatMap { case (t, m) => stringTokenizerTokens(t).map(_ -> m.toLong) }
      .groupMapReduce(_._1)(_._2)(_ + _)
    // one reused row buffer, as a scan hands rows on
    val toRow = org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(
      Array[org.apache.spark.sql.types.DataType](
        org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.IntegerType))
    for (bound <- Seq(3, 700)) {
      val tokens = new SQLMetric("sum", 0L)
      val rows = new SQLMetric("sum", 0L)
      val input = reviews.iterator.map { case (t, m) =>
        toRow(org.apache.spark.sql.catalyst.InternalRow(UTF8String.fromString(t), m))
      }
      val out = new WordScoreCombiner(input, _.getUTF8String(0),
        r => { assert(r.getInt(1) != 99, "modifier of a token-less review"); r.getInt(1).toLong },
        bound, tokens, rows).map(r => (r.getUTF8String(0).toString, r.getLong(1))).toList
      assert(out.groupMapReduce(_._1)(_._2)(_ + _) === expected, s"bound $bound")
      // 700 makes the map grow past its initial 512 words; both bounds
      // flush several times, so a frequent word is emitted once per flush
      assert(expected.size > 3 * bound && out.count(_._1 == "the") >= 3, s"bound $bound")
      assert(tokens.value === reviews.map(r => stringTokenizerTokens(r._1).size.toLong).sum)
      assert(rows.value === out.size.toLong)
    }
  }

  /** Spark's own word score of (stars, text) reviews: tokens exploded,
    * summed by `groupBy` and ordered by `orderBy` — the order the reduce
    * node must reproduce row for row.
    */
  private def sparkOrder(reviews: DataFrame): Seq[(String, Long)] =
    reviews.select((col("stars").cast("int") - 3).as("m"), explode(Text.tokens(col("text"))).as("word"))
      .groupBy("word").agg(sum("m").as("score"))
      .orderBy(col("score").desc, col("word"))
      .as[(String, Long)].collect().toSeq

  test("reduce order equals Spark's groupBy/orderBy row for row") {
    val rnd = new scala.util.Random(5)
    // many ties, scores negative, zero and positive
    val ties = Seq.fill(400)((1 + rnd.nextInt(5)).toDouble ->
      Seq.fill(1 + rnd.nextInt(6))(s"t${rnd.nextInt(60)}").mkString(" "))
    // one score, so bytes alone order: >= 0x80 after 'z' (a signed byte
    // compare puts it first), prefixes first, and words that share their
    // first 8 bytes
    val bytes = Seq(5.0 -> Seq("z", "é", "ésprit", "zoo", "Z", "日本", "😀", "a", "ab", "abc",
      "a\u0000", "abcdefgh", "abcdefghi", "abcdefgh\u0000", "abcdefghé", "abcdefgh1",
      "abcdéfgh", "abcdefgé", "~", "\u007f").mkString(" "))
    val inputs = Seq("ties" -> ties, "bytes" -> bytes,
      "mixed" -> (ties.take(50) ++ bytes ++ Seq(1.0 -> "é a ab", 2.0 -> "abcdefghi z")))
    for ((input, rows) <- inputs; (name, scoreFn) <- scorers) {
      val reviews = rows.toDF("stars", "text")
      val expected = sparkOrder(reviews)
      assert(expected.map(_._2).distinct.size < expected.size, input)
      assert(scoreFn(reviews, col("stars"), col("text")).as[(String, Long)].collect().toSeq ===
        expected, s"$name on $input")
    }
  }

  test("reduce on empty input: zero rows and one empty output file") {
    val empty = Seq.empty[(Double, String)].toDF("stars", "text")
    for ((name, scoreFn) <- scorers) withTempDir("empty") { dir =>
      val scored = scoreFn(empty, col("stars"), col("text"))
      assert(scored.collect().isEmpty, name)
      val out = s"$dir/out"
      TsvSink.write(scored, out)
      val parts = new java.io.File(out).listFiles().filter(_.getName.startsWith("part-"))
        .filterNot(_.getName.endsWith(".crc"))
      assert(parts.length === 1 && parts.head.length() === 0, s"$name: ${parts.toSeq}")
    }
  }

  test("reduce order holds when the combiner's map flushes: a word in several rows") {
    // 200k distinct words in one partition, past the combiner's bound of
    // 131,072, each word twice and 200k rows apart, so it reaches the
    // reducer in two rows
    val words = 200000
    val reviews = spark.range(0, 2L * words, 1, 1).select(
      (col("id") % 5 + 1).cast("double").as("stars"),
      concat(lit("w"), (col("id") % words).cast("string")).as("text"))
    assert(words > WordScoreCombiner.MaxWords)
    val expected = sparkOrder(reviews)
    for ((name, scoreFn) <- scorers) {
      val scored = scoreFn(reviews, col("stars"), col("text"))
      assert(scored.collect().toSeq.map(r => (r.getString(0), r.getLong(1))) === expected, name)
      if (name == "score") {
        org.apache.spark.sql.graft.ListenerBus.drain(spark)
        val reduce = collect(scored.queryExecution.executedPlan) { case e: WordScoreReduceExec => e }
        assert(reduce.head.metrics("numInputRows").value > words, name)
        assert(reduce.head.metrics("numOutputRows").value === words, name)
      }
    }
  }

  test("combiner with a small bound into the reducer: Spark's order, row for row") {
    // the reducer as its exec runs it, over a combiner that flushes
    // every 3 or 700 distinct words, so most words arrive in many rows
    val rnd = new scala.util.Random(3)
    val reviews = Seq.fill(2000)((1 + rnd.nextInt(5)).toDouble -> Seq.fill(rnd.nextInt(9))(
      Seq(s"w${rnd.nextInt(900)}", "the", "é", "z", "abcdefgh", "abcdefghé")(rnd.nextInt(6)))
      .mkString(" "))
    val expected = sparkOrder(reviews.toDF("stars", "text"))
    val toRow = org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(
      Array[org.apache.spark.sql.types.DataType](
        org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.IntegerType))
    for (bound <- Seq(3, 700)) {
      val combined = new SQLMetric("sum", 0L)
      val (in, out) = (new SQLMetric("sum", 0L), new SQLMetric("sum", 0L))
      val partials = new WordScoreCombiner(reviews.iterator.map { case (st, t) =>
          toRow(org.apache.spark.sql.catalyst.InternalRow(UTF8String.fromString(t), st.toInt - 3))
        }, _.getUTF8String(0), _.getInt(1).toLong, bound, new SQLMetric("sum", 0L), combined)
      val got = WordScoreReducer(partials, 1 << 20, Long.MaxValue, reduceSorts, in, out)
        .map(r => (r.getUTF8String(0).toString, r.getLong(1))).toList
      assert(got === expected, s"bound $bound")
      assert(in.value === combined.value && in.value > expected.size, s"bound $bound")
      assert(out.value === expected.size.toLong, s"bound $bound")
    }
  }

  private def reduceSorts = {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.types.{LongType, StringType}
    WordScoreReducer.sorts(
      Seq(AttributeReference("word", StringType, nullable = false)(),
        AttributeReference("partial", LongType, nullable = false)()),
      Seq(AttributeReference("word", StringType, nullable = false)(),
        AttributeReference("score", LongType, nullable = false)()))
  }

  test("reducer past its bound sorts on Spark's external sorter: Spark's order, row for row") {
    // (word, partial) rows as the combiners emit them, words repeated
    // across rows, in one task, with bounds the map crosses at once
    val rnd = new scala.util.Random(9)
    val partials = Seq.fill(3000)(Seq("é", "z", "a", "ab", "abcdefgh", "abcdefghé", "日本",
      s"w${rnd.nextInt(400)}")(rnd.nextInt(8)) -> (rnd.nextInt(9) - 4).toLong)
    val expected = partials.toDF("word", "partial").groupBy("word").agg(sum("partial").as("score"))
      .orderBy(col("score").desc, col("word")).as[(String, Long)].collect().toSeq
    val sorts = reduceSorts
    // a word bound, a byte bound and, for contrast, no bound at all
    for ((maxWords, maxBytes) <- Seq((4, Long.MaxValue), (1 << 20, 40L), (1 << 20, Long.MaxValue))) {
      val in = SQLMetrics.createMetric(spark.sparkContext, "in")
      val out = SQLMetrics.createMetric(spark.sparkContext, "out")
      val got = spark.sparkContext.parallelize(partials, 1).mapPartitions { it =>
        val toRow = org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(
          Array[org.apache.spark.sql.types.DataType](
            org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.LongType))
        WordScoreReducer(it.map { case (w, p) =>
            toRow(org.apache.spark.sql.catalyst.InternalRow(UTF8String.fromString(w), p))
          }, maxWords, maxBytes, sorts, in, out)
          .map(r => (r.getUTF8String(0).toString, r.getLong(1)))
      }.collect().toSeq
      assert(got === expected, s"$maxWords words, $maxBytes bytes")
      assert(in.value === partials.size && out.value === expected.size, s"$maxWords words")
    }
    assert(WordScoreReducer.bound(2L << 30) === ((1 << 23, 128L << 20)))
  }

  test("word map: grows up to an injected arena cap, then fails naming the count and the cap") {
    val map = new WordMap(Int.MaxValue, Long.MaxValue, arenaCap = 20000)
    def add(w: String, delta: Long): Boolean = {
      val b = w.getBytes("UTF-8")
      map.add(b, Platform.BYTE_ARRAY_OFFSET, b.length,
        WordMap.hash(b, Platform.BYTE_ARRAY_OFFSET, b.length), delta)
    }
    // 2000 words of 10 bytes: the slots, the entries and the arena all
    // grow several times, the arena last to exactly its cap
    val words = (0 until 2000).map(i => f"word$i%06d")
    for (delta <- Seq(1L, 2L); w <- words) assert(add(w, delta), w)
    assert(map.size === 2000)
    val e = intercept[IllegalStateException](add("x", 1L))
    assert(e.getMessage.contains("2000 distinct words") && e.getMessage.contains("20000 bytes"),
      e.getMessage)
    // a word already in the map still adds at the cap
    assert(add("word000007", 4L))
    val rows = map.sortedByScore().toSeq.map { i =>
      val r = map.row(i); (r.getUTF8String(0).toString, r.getLong(1))
    }
    assert(rows.head === ("word000007" -> 7L))
    assert(rows.tail === words.filter(_ != "word000007").map(_ -> 3L))
  }

  test("reduce counters: input is the combiner's output, output the distinct words") {
    val docs = Tables.documents(spark, sf)
    val scored = WordScore.flagship(docs)
    val words = scored.collect().length
    org.apache.spark.sql.graft.ListenerBus.drain(spark)
    val plan = scored.queryExecution.executedPlan
    val combine = collect(plan) { case e: WordScoreCombineExec => e }
    val reduce = collect(plan) { case e: WordScoreReduceExec => e }
    assert(combine.size === 1 && reduce.size === 1, plan)
    // Hadoop's "Reduce input records" and "Reduce output records"
    assert(reduce.head.metrics("numInputRows").value === combine.head.metrics("numOutputRows").value)
    assert(reduce.head.metrics("numOutputRows").value === words)
    assert(words === docs.select(explode(Text.tokens(col("text")))).distinct().count())
  }

  test("combiner metrics: tokens scanned equals the exploded Text.tokens") {
    val docs = Tables.documents(spark, sf)
    val scored = WordScore.flagship(docs)
    val words = scored.collect().length
    org.apache.spark.sql.graft.ListenerBus.drain(spark)
    val execs = collect(scored.queryExecution.executedPlan) { case e: WordScoreCombineExec => e }
    assert(execs.size === 1)
    val tokens = docs.select(explode(Text.tokens(col("text")))).count()
    assert(execs.head.metrics("numTokens").value === tokens)
    val rows = execs.head.metrics("numOutputRows").value
    assert(rows >= words && rows < tokens, s"$rows combined rows for $words words, $tokens tokens")
  }

  test("permutation invariance: shuffling input rows never changes scores") {
    val docs = Tables.documents(spark, sf)
    val base = WordScore.flagship(docs).as[(String, Long)].collect().toSeq
    val shuffled = WordScore.flagship(docs.orderBy(rand(7))).as[(String, Long)].collect().toSeq
    assert(base === shuffled)
  }

  test("CLI -D passthrough parses like ToolRunner/GenericOptionsParser") {
    // -Dk=v attached and -D k=v detached forms, mixed with positionals
    assert(WordScoreMain.parseArgs(Array("-Dspark.foo=1", "in", "out")) ===
      Some((Seq("spark.foo" -> "1"), Seq("in", "out"))))
    assert(WordScoreMain.parseArgs(Array("-D", "a.b=x=y", "in", "-Dc=2", "out")) ===
      Some((Seq("a.b" -> "x=y", "c" -> "2"), Seq("in", "out"))))
    assert(WordScoreMain.parseArgs(Array("in", "out")) ===
      Some((Seq(), Seq("in", "out"))))
    // malformed: missing '=', empty key, dangling -D → usage error (exit 2 path)
    assert(WordScoreMain.parseArgs(Array("-Dnoequals", "in", "out")) === None)
    assert(WordScoreMain.parseArgs(Array("-D", "=v", "in", "out")) === None)
    assert(WordScoreMain.parseArgs(Array("in", "out", "-D")) === None)
  }

  test("out-of-domain stars fail the job like the reference's NPE") {
    withTempDir("badstars") { dir =>
      Files.writeString(new java.io.File(dir, "r.json").toPath,
        "{\"stars\": 7.0, \"text\": \"off the scale\"}\n")
      val bad = ReviewSource.reviews(spark, dir.getAbsolutePath)
      for ((name, scoreFn) <- scorers) {
        val e = intercept[Exception] {
          scoreFn(bad, col("stars"), col("text")).collect()
        }
        assert(e.getMessage.contains("out of domain") ||
          Option(e.getCause).exists(_.getMessage.contains("out of domain")), name)
      }
    }
  }

  test("missing stars fails the job with a message that names `stars`") {
    withTempDir("nostars") { dir =>
      Files.writeString(new java.io.File(dir, "r.json").toPath, "{\"text\": \"a b\"}\n")
      val bad = ReviewSource.reviews(spark, dir.getAbsolutePath)
      for ((name, scoreFn) <- scorers) {
        val e = intercept[Exception] {
          scoreFn(bad, col("stars"), col("text")).collect()
        }
        val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .map(t => String.valueOf(t.getMessage)).toSeq
        assert(msgs.exists(m => m.contains("`stars`") && m.contains("out of domain")),
          s"$name: ${msgs.head}")
      }
    }
  }

  test("bad-stars review with zero tokens succeeds (reference NPEs only at write)") {
    // the reference unboxes the modifier at context.write — per emitted
    // token; a whitespace-only text emits nothing, so stars=7 passes
    import spark.implicits._
    val bad = Seq((7.0, " \t\n "), (5.0, "fine words")).toDF("stars", "text")
    for ((name, scoreFn) <- scorers) {
      val out = scoreFn(bad, col("stars"), col("text"))
        .as[(String, Long)].collect().toMap
      assert(out === Map("fine" -> 2L, "words" -> 2L), name)
    }
  }

  test("missing or null text fails the job like the reference's NPE") {
    // the reference NPEs on value.get("text") (:116) whatever the stars
    for ((line, i) <- Seq("{\"stars\": 5.0}",
        "{\"stars\": 5.0, \"text\": null}").zipWithIndex) {
      withTempDir(s"notext$i") { dir =>
        Files.writeString(new java.io.File(dir, "r.json").toPath, line + "\n")
        val bad = ReviewSource.reviews(spark, dir.getAbsolutePath)
        for ((name, scoreFn) <- scorers) {
          val e = intercept[Exception] {
            scoreFn(bad, col("stars"), col("text")).collect()
          }
          assert(e.getMessage.contains("`text`") ||
            Option(e.getCause).exists(_.getMessage.contains("`text`")),
            s"$name on $line")
        }
      }
    }
  }

  test("malformed JSON fails fast like the reference") {
    withTempDir("badjson") { dir =>
      Files.writeString(new java.io.File(dir, "bad.json").toPath,
        "{\"stars\": 5.0, \"text\": \"ok\"}\n{not json at all\n")
      val bad = ReviewSource.reviews(spark, dir.getAbsolutePath)
      assertThrows[org.apache.spark.SparkException] {
        WordScore.score(bad, col("stars"), col("text")).collect()
      }
    }
  }
}
