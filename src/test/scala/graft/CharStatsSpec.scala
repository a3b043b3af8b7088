package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftSql

/** The native CharStats histogram must count CODEPOINTS (matching the
  * oracle's `split(text, '')` segmentation), produce exact integer
  * stats, and agree between interpreted and codegen evaluation.
  */
class CharStatsSpec extends SparkSpec {
  import spark.implicits._

  private def statsOf(texts: String*): Seq[(Int, Int, Long, Int)] =
    texts.toDF("text")
      .select(explode(array(GraftSql.charStats(col("text")))).as("cs"))
      .select(col("cs.n_chars"), col("cs.n_distinct"), col("cs.sum_sq"), col("cs.max_cnt"))
      .as[(Int, Int, Long, Int)].collect().toSeq

  test("known histograms: ascii, repeated, empty") {
    // "abca": n=4, distinct=3, sum_sq = 2^2+1+1 = 6, max = 2
    assert(statsOf("abca") === Seq((4, 3, 6L, 2)))
    assert(statsOf("aaaa") === Seq((4, 1, 16L, 4)))
    assert(statsOf("") === Seq((0, 0, 0L, 0)))
  }

  test("codepoints, not UTF-16 units: CJK and accented chars count once") {
    // "你好你" = 3 codepoints, 2 distinct, 2^2+1 = 5, max 2
    assert(statsOf("你好你") === Seq((3, 2, 5L, 2)))
    // surrogate-pair codepoint (U+1D11E musical symbol) counts once
    val clef = new String(Character.toChars(0x1D11E))
    assert(statsOf(clef + "a" + clef) === Seq((3, 2, 5L, 2)))
  }

  test("interpreted eval matches codegen on fixture documents") {
    def run(): Array[(Int, Int, Long, Int)] =
      Tables.documents(spark, sf)
        .select(explode(array(GraftSql.charStats(col("text")))).as("cs"))
        .select(col("cs.n_chars"), col("cs.n_distinct"), col("cs.sum_sq"), col("cs.max_cnt"))
        .as[(Int, Int, Long, Int)].orderBy(col("n_chars")).collect()
    val gen = run()
    val interp = withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") { run() }
    assert(gen.sameElements(interp))
  }

  test("simpson diversity separates natural text from char spam") {
    val r = Seq("the quick brown fox jumps over the lazy dog", "aaaaaaaaaaaaaaaaaaaa")
      .toDF("text")
      .select(explode(array(GraftSql.charStats(col("text")))).as("cs"))
      .select((lit(1.0) - col("cs.sum_sq").cast("double") /
        (col("cs.n_chars").cast("double") * col("cs.n_chars").cast("double"))).as("simpson"))
      .as[Double].collect()
    assert(r(0) > 0.8 && r(1) === 0.0)
  }
}
