package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.TempDirs.withTempDir
import graft.functions.Text
import graft.operators.WordScore
import graft.sources.{ReviewSource, TsvSink}

/** Reference-semantics tests (golden corpus from FIXTURES.md §A) and
  * tokenizer-parity properties vs java.util.StringTokenizer — the exact
  * ground truth the reference uses (`ComputeWordScore.java:116-120`).
  */
class WordScoreSpec extends SparkSpec {
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
        Gen.const("a.b,c!"))).map(_.mkString)
    // 500 deterministic samples, checked in ONE Spark job.
    val samples = (1 to 500).flatMap(i =>
      genText.apply(Gen.Parameters.default, Seed(i.toLong))).distinct
    val got = samples.toDF("text")
      .select(col("text"), Text.tokens(col("text")).as("t"))
      .as[(String, Seq[String])].collect().toMap
    samples.foreach { s =>
      assert(got(s).toList === stringTokenizerTokens(s), s"input=${s.replace("\n","\\n")}")
    }
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
