package graft

import org.apache.spark.sql.DataFrame

import graft.operators.{Relational, Similarity, WordScore}

/** Physical-plan shape assertions: these pin the properties that make
  * the operators scale — pushdown reaching the parquet scan, broadcast
  * on dimension joins, partial aggregation, top-k without a full sort,
  * and whole-stage codegen coverage. A refactor that silently loses one
  * of these still passes value checks; it fails here.
  */
class PlanSpec extends SparkSpec {

  /** Executed (post-AQE-final) plan: run the frame first so adaptive
    * stages materialize — the initial AQE plan hides codegen spans.
    */
  private def plan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("filter + projection are pushed into the parquet scan") {
    val p = plan(Relational.qFilterProject(spark, sf))
    assert(p.contains("PushedFilters:"), p.take(500))
    // plan dumps truncate long filter lists — match stable prefixes
    assert(p.contains("GreaterThan(l_quantity,45.0)") &&
      p.contains("EqualTo(l_returnfl"), "filters not pushed:\n" + p.take(1500))
    // pruned read schema: only the needed columns reach the scan
    assert(!p.contains("l_tax"), "column pruning lost: l_tax read but unused")
  }

  test("dimension joins broadcast; fact-fact join does not") {
    assert(plan(Relational.qJoinBroadcast(spark, sf)).contains("BroadcastHashJoin"))
    val shuffleJoin = plan(Relational.qJoinShuffle(spark, sf))
    assert(shuffleJoin.contains("SortMergeJoin") ||
      shuffleJoin.contains("ShuffledHashJoin"), shuffleJoin.take(800))
  }

  test("top-k plans as TakeOrderedAndProject (no global sort)") {
    assert(plan(Relational.qTopK(spark, sf)).contains("TakeOrderedAndProject"))
  }

  test("aggregations are partial+final (map-side combine)") {
    val p = plan(Relational.q1Agg(spark, sf))
    assert("HashAggregate".r.findAllIn(p).length >= 2, p.take(800))
  }

  test("flagship word-score runs inside whole-stage codegen") {
    val p = plan(WordScore.flagship(Tables.documents(spark, sf)))
    // AQE final plans mark WholeStageCodegen stages as "*(n)"
    assert(p.contains("WholeStageCodegen") || "\\*\\(\\d+\\)".r.findFirstIn(p).isDefined)
    // exactly the one semantic exchange (into the single reducer) plus
    // the deliberate scan-spread: the reducer sorts in one partition,
    // like the reference's single reducer, so no range exchange. (AQE
    // dumps repeat the initial plan below the final one — count only
    // the final section.)
    val finalSection = finalOnly(p)
    val exchanges = "Exchange ".r.findAllIn(finalSection).length
    assert(exchanges === 2, s"unexpected exchange count $exchanges:\n" + finalSection.take(1200))
    assert(!finalSection.contains("rangepartitioning"), finalSection.take(1200))
    // in-mapper combining: one combine node tokenizes, scores and
    // pre-sums in place of the Generate; one reduce node sums and sorts
    // in place of Spark's aggregates and sort
    assert(!finalSection.contains("Generate"), finalSection.take(1200))
    assert("WordScoreCombine".r.findAllIn(finalSection).length === 1, finalSection.take(1200))
    assert("WordScoreReduce".r.findAllIn(finalSection).length === 1, finalSection.take(1200))
    assert(!finalSection.contains("HashAggregate"), finalSection.take(1200))
    assert(!finalSection.contains("lambdafunction"), finalSection.take(1200))
  }

  test("flagship word-score: the combiner's rows shuffle straight into one reducer") {
    val p = finalOnly(plan(WordScore.flagship(Tables.documents(spark, sf))))
    // the plan is one chain, so the lines before the combiner's are
    // its ancestors and the lines after it its inputs
    val (above, below) = p.linesIterator.toSeq.span(!_.contains("WordScoreCombine"))
    assert(below.nonEmpty, p.take(1500))
    def count(lines: Seq[String], s: String) = lines.count(_.contains(s))
    assert(count(above, "WordScoreReduce") === 1, p.take(1500))
    assert(count(above, "Exchange SinglePartition") === 1, p.take(1500))
    assert(count(above, "Exchange ") === 1, p.take(1500))
    assert(!p.contains("hashpartitioning(word"), p.take(1500))
    // the reduce task runs no Spark aggregate, no sort and no codegen
    assert(count(above, "HashAggregate") === 0, p.take(1500))
    assert(count(above, "Sort") === 0, p.take(1500))
    assert(!above.exists(l => "\\*\\(\\d+\\)".r.findFirstIn(l).isDefined), p.take(1500))
    assert(count(below, "HashAggregate") === 0, p.take(1500))
    // nothing in the plan reads spark.sql.shuffle.partitions
    def masked(n: Int) = withSQLConf("spark.sql.shuffle.partitions" -> n.toString) {
      plan(WordScore.flagship(Tables.documents(spark, sf)))
        .replaceAll("#\\d+", "#N").replaceAll("plan_id=\\d+", "plan_id=N")
    }
    assert(masked(1) === masked(200))
  }

  test("tfidf tokenizes once: both consumers scan the pinned tf table") {
    val p = plan(graft.operators.TextAnalysis.tTfidf(spark, sf))
    // the tokenize+explode runs inside the materialization job, not in
    // this plan — the optimizer specializes the two tf consumers, so an
    // un-pinned tf would show (at least) two Generate explodes here
    assert(!p.contains("Generate explode"), p.take(1200))
    assert("Scan ExistingRDD".r.findAllIn(p).length >= 2,
      "tf not read from the materialized table:\n" + p.take(1200))
  }

  test("pmi tokenizes once: all four consumers scan the pinned bigram counts") {
    val p = plan(graft.operators.TextAnalysis.tPmi(spark, sf))
    // un-pinned, the tokenize+shingle Generate appeared once per
    // consumer (main, both marginals, total) in the final plan
    assert(!p.contains("Generate explode"), p.take(1200))
    assert("Scan ExistingRDD".r.findAllIn(p).length >= 4,
      "bigram counts not read from the materialized table:\n" + p.take(1200))
  }

  /** The AQE plan string prints "== Final Plan ==" then repeats the
    * pre-execution guess under "== Initial Plan ==" — node COUNTS must
    * only see the final section or everything double-counts.
    */
  private def finalOnly(p: String): String = p.split("== Initial Plan ==")(0)

  test("anomaly + attribution: one window pass, no self-join") {
    val pa = finalOnly(plan(graft.operators.Events.eAnomaly(spark, sf)))
    assert("Window ".r.findAllIn(pa).length === 1, pa.take(1200))
    assert(!pa.contains("Join"), pa.take(1200))
    val pt = finalOnly(plan(graft.operators.Events.eAttribution(spark, sf)))
    // both conditional last_values share a single Window node
    assert("Window ".r.findAllIn(pt).length === 1, pt.take(1200))
    assert(!pt.contains("Join"), pt.take(1200))
  }

  test("sequence + scd2: chained windows share one user sort, no join") {
    // e_sequence stacks two running-min Window layers; same partition
    // and order spec, so the second requires no new Exchange or Sort
    val ps = finalOnly(plan(graft.operators.Events.eSequence(spark, sf)))
    assert("Window ".r.findAllIn(ps).length === 2, ps.take(1500))
    assert("Sort \\[user_id.* ASC NULLS FIRST, us".r.findAllIn(ps).length === 1,
      ps.take(1500))
    assert(!ps.contains("Join"), ps.take(1500))
    // e_scd2: lag + running-sum windows over the same sort; the
    // (user, island) aggregation is satisfied by the user_id
    // clustering, so no exchange sits between Window and aggregate
    val pc = finalOnly(plan(graft.operators.Events.eScd2(spark, sf)))
    assert("Window ".r.findAllIn(pc).length === 2, pc.take(1500))
    assert("Sort \\[user_id.* ASC NULLS FIRST, us".r.findAllIn(pc).length === 1,
      pc.take(1500))
    assert(!pc.contains("Join"), pc.take(1500))
  }

  test("knn graph + char stats use the native one-pass expressions") {
    val pk = finalOnly(plan(Similarity.sKnnGraph(spark, sf)))
    assert(pk.contains("sign_bands"), pk.take(1200))
    val pc = finalOnly(plan(graft.operators.TextAnalysis.tCharStats(spark, sf)))
    // the stats struct is materialized through one Generate, so the
    // histogram pass runs once, not once per output column
    assert("Generate explode\\(array\\(char_stats".r.findAllIn(pc).length === 1,
      pc.take(1200))
  }

  test("similarity queries use the native float_dot expression") {
    assert(plan(Similarity.sCosineTopK(spark, sf)).contains("float_dot"))
    assert(plan(graft.operators.Dedup.dEmbeddingNearDup(spark, sf)).contains("float_dot"))
  }

  test("window rank pre-filters with WindowGroupLimit") {
    // Spark 3.5+ pushes the rn <= k predicate into a group-limit below
    // the window — without it every (customer, order) row sorts fully
    assert(plan(Relational.qWindowRank(spark, sf)).contains("WindowGroupLimit"))
  }

  test("as-of join: equality hash join + residual range, group-limit 1") {
    val p = plan(graft.operators.Events.eAsofJoin(spark, sf))
    assert(p.contains("HashJoin"), p.take(800))
    assert(!p.contains("NestedLoop"), "as-of join degenerated to nested loop")
    assert(p.contains("WindowGroupLimit"), p.take(800))
  }

  test("range join: equality key drives the join, range stays residual") {
    val p = plan(graft.operators.Events.eRangeJoin(spark, sf))
    assert(p.contains("HashJoin"), p.take(800))
    assert(!p.contains("NestedLoop"), "range join degenerated to nested loop")
  }

  test("LSH ANN: broadcast candidate join + group-limited top-k") {
    val p = plan(Similarity.sAnnLsh(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(p.contains("WindowGroupLimit"), p.take(800))
  }

  test("PQ ADC search: broadcast distance table, group-limited top-k") {
    // the ADC table (|Q|·M·K rows) must broadcast onto the code scan —
    // losing the hint stages a corpus-sized shuffle of the codes
    val p = plan(Similarity.sAnnPq(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      "ADC table no longer broadcasts onto the codes:\n" + p.take(1200))
    assert(p.contains("WindowGroupLimit"), p.take(800))
  }

  test("IVF-PQ: probes and ADC table broadcast, group-limited top-k") {
    // two load-bearing hints (Similarity.scala sIvfPq): the window-
    // filtered probe set (|Q|·nProbe rows, no planner size estimate)
    // and the ADC table — each lost hint stages a corpus shuffle
    val p = plan(Similarity.sIvfPq(spark, sf))
    val nBcast = "BroadcastHashJoin".r.findAllIn(p).length
    assert(nBcast >= 2,
      s"expected probes + ADC table broadcasts, found $nBcast:\n" + p.take(1200))
    assert(p.contains("WindowGroupLimit"), p.take(800))
  }

  test("hashtf: one explode, partial+final aggregate, pruned scan") {
    val p = plan(graft.operators.TextAnalysis.tHashTf(spark, sf))
    val finalSection = p.split("== Initial Plan ==").head
    // one tokenize+explode feeding the (doc,bucket) agg — the op's
    // whole point is no vocab join, so any Join here is a regression
    assert("Generate explode".r.findAllIn(finalSection).length === 1,
      finalSection.take(1200))
    assert("HashAggregate".r.findAllIn(finalSection).length >= 2,
      "map-side combine lost:\n" + finalSection.take(1200))
    assert(!p.contains("Join"), "hashtf must not join:\n" + finalSection.take(800))
    // match the scan's ReadSchema section specifically, not the whole
    // plan string — a node label elsewhere containing "lang"/"source"
    // must not trip a pruning assertion
    val readSchemas = "ReadSchema: struct<[^>]*>".r.findAllIn(p).toSeq
    assert(readSchemas.nonEmpty, "no ReadSchema in plan:\n" + p.take(800))
    readSchemas.foreach { rs =>
      assert(!rs.contains("lang") && !rs.contains("source"),
        s"column pruning lost: unused document columns read: $rs")
    }
  }

  test("editdist: no cartesian; bodies fetched by id after blocking") {
    val p = plan(graft.operators.Dedup.dEditDist(spark, sf))
    val finalSection = p.split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      "editdist degenerated to an unblocked pairing:\n" + finalSection.take(1200))
    // the DP prices only surviving pairs: levenshtein must sit above
    // the text-fetch joins, never inside the blocking exchange
    assert(finalSection.contains("levenshtein"), finalSection.take(1200))
  }

  test("sparse cosine: no cartesian, native expressions in plan, vocab side broadcast") {
    val p = plan(graft.operators.Similarity.sSparseCosine(spark, sf))
    val finalSection = p.split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      "sparse cosine degenerated to an unblocked pairing:\n" + finalSection.take(1200))
    // pair scoring must be the native merge-walk, gram construction the
    // native set expression — both codegen'd, neither an interpreted HOF
    assert(p.contains("sparse_dot"), "native SparseDotProduct missing:\n" + finalSection.take(1200))
    assert(p.contains("shingle_set"), "native ShingleSet missing:\n" + finalSection.take(1200))
    // the (word, df) side is vocabulary-bounded and must broadcast
    assert(finalSection.contains("BroadcastHashJoin"),
      "vocab-side broadcast lost:\n" + finalSection.take(1200))
  }

  test("gapfill spine-dim cross join broadcasts, never CartesianProduct") {
    // spine × event_type dim: both sides are tiny but the distinct
    // aggregate's size estimate is unknown pre-AQE — the broadcast hint
    // must pin the plan to BroadcastNestedLoopJoin
    val p = plan(graft.operators.Events.eGapfill(spark, sf))
    assert(!p.contains("CartesianProduct"),
      "gapfill spine join fell back to CartesianProduct:\n" + p.take(1200))
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(1200))
  }

  test("scalar subquery threshold is pushed into the parquet scan") {
    val p = Relational.qScalarSubquery(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("GreaterThan(o_totalprice,ScalarSubquery"),
      "scalar subquery not pushed:\n" + p.take(1200))
  }

  test("bm25: query-term idf broadcasts onto the corpus tf scan, top-k group-limited") {
    // the broadcast keeps the inverted-index probe map-side — losing it
    // stages a corpus-tf shuffle keyed by word
    val p = plan(graft.operators.TextAnalysis.tBm25(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      "qdf no longer broadcasts onto corpus tf:\n" + p.take(1200))
    assert(p.contains("WindowGroupLimit"), p.take(800))
  }

  test("countmin: counter table broadcasts onto the top-k probe") {
    val p = plan(graft.operators.TextAnalysis.tCountMin(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      "D·W counter table no longer broadcasts:\n" + p.take(1200))
  }

  test("divergence: vocab lattice is built from broadcast sides") {
    // corpus counts and the 1-row total must broadcast onto the
    // source-totals side; a shuffle here scales with vocab·sources
    val p = plan(graft.operators.TextAnalysis.tDivergence(spark, sf))
    val nBcast = "Broadcast".r.findAllIn(p).length
    assert(nBcast >= 2, s"expected corpus+total broadcasts, found $nBcast:\n" + p.take(1200))
  }

  test("tpch q3/q5/q10: dims broadcast, one fact-fact shuffle, top-k group-limited") {
    for ((name, df) <- Seq(
        "q3" -> Relational.qTpchQ3(spark, sf),
        "q5" -> Relational.qTpchQ5(spark, sf),
        "q10" -> Relational.qTpchQ10(spark, sf),
        "q18" -> Relational.qTpchQ18(spark, sf),
        "q7" -> Relational.qTpchQ7(spark, sf),
        "q8" -> Relational.qTpchQ8(spark, sf))) {
      val p = plan(df)
      val finalSection = p.split("== Initial Plan ==").head
      assert(finalSection.contains("BroadcastHashJoin"),
        s"$name: dims must broadcast:\n" + finalSection.take(1200))
      // exactly one shuffled join: lineitem⋈orders on the orderkey —
      // every dimension join must stay broadcast (no second exchange
      // pair staging a fact shuffle)
      val shuffledJoins = "SortMergeJoin".r.findAllIn(finalSection).length +
        "ShuffledHashJoin".r.findAllIn(finalSection).length
      assert(shuffledJoins <= 1,
        s"$name: $shuffledJoins shuffled joins (want ≤1):\n" + finalSection.take(1500))
    }
    // the two top-k queries must not materialize a global sort
    assert(plan(Relational.qTpchQ3(spark, sf)).contains("TakeOrderedAndProject"))
    assert(plan(Relational.qTpchQ10(spark, sf)).contains("TakeOrderedAndProject"))
  }

  test("tpch q4: EXISTS compiles to one semi join, quarter filter pushed") {
    val p = plan(Relational.qTpchQ4(spark, sf))
    val finalSection = p.split("== Initial Plan ==").head
    assert(finalSection.contains("LeftSemi"),
      "EXISTS did not compile to a semi join:\n" + finalSection.take(1200))
    assert(p.contains("PushedFilters:") && p.contains("GreaterThanOrEqual(o_orderdate"),
      "quarter predicate not pushed to the orders scan:\n" + p.take(1500))
  }

  test("tpch q17: zero fact-fact shuffles — brand filter + per-part avg both broadcast") {
    // the decorrelated scalar aggregate must come back as a broadcast:
    // a shuffled join here re-stages the brand's fact sliver twice
    val p = plan(Relational.qTpchQ17(spark, sf))
    val finalSection = p.split("== Initial Plan ==").head
    val shuffledJoins = "SortMergeJoin".r.findAllIn(finalSection).length +
      "ShuffledHashJoin".r.findAllIn(finalSection).length
    assert(shuffledJoins === 0,
      s"q17: $shuffledJoins shuffled joins (want 0):\n" + finalSection.take(1500))
    assert("BroadcastHashJoin".r.findAllIn(finalSection).length >= 2,
      "part filter + per-part averages must both broadcast:\n" + finalSection.take(1200))
  }

  test("tpch q15: the revenue view is pinned — max and probe read one materialization") {
    // unpinned, Catalyst specializes the two consumers and the fact
    // table aggregates twice (the textbook read-the-view-twice trap)
    val p = plan(Relational.qTpchQ15(spark, sf))
    val finalSection = p.split("== Initial Plan ==").head
    assert("Scan ExistingRDD".r.findAllIn(finalSection).length >= 2,
      "revenue view not read from the materialized table:\n" + finalSection.take(1200))
    val aggs = "HashAggregate".r.findAllIn(finalSection).length
    assert(!finalSection.contains("Scan parquet") || aggs <= 2,
      "fact table re-aggregated inside the final plan:\n" + finalSection.take(1200))
  }

  test("tpch q22: anti join on the pruned URGENT slice, balance scalar broadcast") {
    val p = plan(Relational.qTpchQ22(spark, sf))
    val finalSection = p.split("== Initial Plan ==").head
    assert(finalSection.contains("LeftAnti"),
      "NOT EXISTS did not compile to an anti join:\n" + finalSection.take(1200))
    assert(p.contains("EqualTo(o_orderpriority,1-URGENT)"),
      "priority filter not pushed to the orders scan:\n" + p.take(1500))
  }

  test("range search: banded queries broadcast; no window/top-k at all") {
    // radius search's selling point over top-k: the threshold is a
    // map-side filter — no rank window may appear, and the corpus scan
    // must join the broadcast probe side
    val p = plan(Similarity.sRangeSearch(spark, sf))
    val finalSection = p.split("== Initial Plan ==").head
    assert(finalSection.contains("BroadcastHashJoin"),
      "banded query side no longer broadcasts:\n" + finalSection.take(1200))
    assert(!finalSection.contains("Window"),
      "radius search grew a rank window:\n" + finalSection.take(1200))
  }

  test("boilerplate: single in-row-deduped gram explode, no gram-grain join") {
    // the r14 decomposition: n_grams is per-row, per-doc gram dedup is
    // array_distinct BEFORE the explode (no dedicated distinct
    // exchange), and n_boiler = n_grams − singletons — so exactly ONE
    // explode exists and nothing joins at gram grain
    val p = plan(graft.operators.TextAnalysis.tBoilerplate(spark, sf))
    val finalSection = p.split("== Initial Plan ==").head
    assert("Generate explode".r.findAllIn(finalSection).length == 1,
      "expected exactly one gram explode:\n" + finalSection.take(1200))
    assert(finalSection.contains("array_distinct"),
      "in-row gram dedup missing — a distinct exchange would be back:\n" +
        finalSection.take(1200))
    assert(!finalSection.contains("SortMergeJoin"),
      "a gram-grain shuffle join crept back:\n" + finalSection.take(1200))
  }

  test("q_bloom_join: explicit bloom probe prefilters the fact side before the shuffle") {
    val p = plan(Relational.qBloomJoin(spark, sf))
    assert(p.contains("might_contain"),
      "bloom probe missing from the fact side:\n" + p.take(1500))
  }

  test("runtime bloom filter: a selective dim side injects might_contain into the fact scan") {
    // the engine-level fact-join optimization at 100 TB: when the dim
    // side is filtered and the fact side is too big to broadcast-join,
    // Catalyst's InjectRuntimeFilter builds a bloom filter from the dim
    // keys and pre-filters the fact scan before the shuffle. Fixture
    // sizes sit below the production thresholds, so the test pins the
    // MECHANISM with thresholds scaled down (save/restore — shared
    // session), proving the join shape our big joins rely on engages.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "50GB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      import org.apache.spark.sql.functions._
      val li = Tables.lineitem(spark, sf)
      val ord = Tables.orders(spark, sf).filter(col("o_totalprice") > 100000)
      val j = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .groupBy("l_returnflag").count()
      val p = plan(j)
      assert(p.toLowerCase.contains("bloom") || p.contains("might_contain"),
        "runtime bloom filter did not inject:\n" + p.take(1500))
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("entropy: per-doc, no exchange before the final sort") {
    // the operator's selling point is shuffle-free per-row metrics:
    // only the output orderBy's range exchange (plus the deliberate
    // fixture scan-spread) may appear
    val df = graft.operators.TextAnalysis.tEntropy(spark, sf)
    val p = plan(df)
    val finalSection = p.split("== Initial Plan ==").head
    val exchanges = "Exchange ".r.findAllIn(finalSection).length
    assert(exchanges <= 2,
      s"entropy grew a shuffle (found $exchanges exchanges):\n" + finalSection.take(1200))
    assert(!finalSection.contains("SortMergeJoin") &&
      !finalSection.contains("HashJoin"), "entropy grew a join")
  }

  test("outlier: centroid and stats broadcast, top-k is TakeOrdered") {
    // the corpus-vectors-never-shuffle claim (docs/SCALE.md): both
    // 1-row frames must broadcast and the top-k must not global-sort
    val p = plan(Similarity.sOutlier(spark, sf))
    val finalSection = p.split("== Initial Plan ==").head
    assert("BroadcastNestedLoopJoin".r.findAllIn(finalSection).length >= 2,
      "centroid/stats rows no longer broadcast:\n" + finalSection.take(1200))
    assert(finalSection.contains("TakeOrderedAndProject"),
      "outlier top-k grew a global sort:\n" + finalSection.take(1200))
    assert(!finalSection.contains("SortMergeJoin"),
      "outlier grew a corpus shuffle join")
  }

  test("diversity: no joins, no corpus shuffle beyond the 64-row grid agg") {
    val p = plan(Similarity.sDiversity(spark, sf))
    val finalSection = p.split("== Initial Plan ==").head
    assert(!finalSection.contains("Join"),
      "diversity grew a join:\n" + finalSection.take(1200))
    // grid partial+final agg exchange + final 1-row agg exchange +
    // deliberate fixture scan-spread: nothing corpus-sized
    val exchanges = "Exchange ".r.findAllIn(finalSection).length
    assert(exchanges <= 3,
      s"diversity grew a shuffle (found $exchanges):\n" + finalSection.take(1200))
  }

  test("kneser-ney: probability table broadcasts onto the corpus bigrams") {
    val p = plan(graft.operators.TextAnalysis.tKneserNey(spark, sf))
    val finalSection = p.split("== Initial Plan ==").head
    assert(finalSection.contains("BroadcastHashJoin"),
      "KN prob table no longer broadcasts:\n" + finalSection.take(1200))
  }

  test("phash pairs: value-level join broadcasts, never an unbroadcast cartesian") {
    // the distinct-value table must broadcast into the inequality join;
    // an unhinted plan would stage a full cartesian of doc-level rows
    val p = plan(graft.operators.Multimodal.mPhashPairs(spark, sf))
    val finalSection = p.split("== Initial Plan ==").head
    assert(!finalSection.contains("CartesianProduct"),
      "phash value pairing degenerated to a cartesian:\n" + finalSection.take(1200))
    assert(finalSection.contains("BroadcastNestedLoopJoin") ||
      finalSection.contains("BroadcastHashJoin"),
      "value table no longer broadcast:\n" + finalSection.take(1200))
  }

  test("binary Hamming search: query signatures broadcast, group-limited top-k") {
    // the 10-row query side must broadcast onto the signature scan —
    // losing it stages a corpus shuffle for a 10-row join
    val p = plan(Similarity.sHamming(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "query signatures no longer broadcast:\n" + p.take(1200))
    assert(p.contains("WindowGroupLimit"), p.take(800))
  }

  test("silhouette: cell moment table broadcasts onto the corpus pass") {
    // the K-row moment table rides the broadcast argmax pattern; a lost
    // hint turns the a/b pass into a corpus-sized shuffle
    val p = plan(Similarity.sSilhouette(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "cell moments no longer broadcast:\n" + p.take(1200))
  }

  test("containment probe: posting join is a hash join, never a cartesian") {
    val p = plan(graft.operators.Dedup.dContainment(spark, sf))
    val finalSection = p.split("== Initial Plan ==").head
    assert(!finalSection.contains("CartesianProduct"),
      "containment probe degenerated to a cartesian:\n" + finalSection.take(1200))
    assert(finalSection.contains("HashJoin") || finalSection.contains("SortMergeJoin"),
      "posting join missing:\n" + finalSection.take(1200))
  }

  test("pca: iteration vectors broadcast; the corpus never outer-products") {
    // each power step attaches v as a ONE-ROW array frame via
    // crossJoin(broadcast(...)) — a BroadcastNestedLoopJoin over a
    // single-row build side (r13: the per-dim BroadcastHashJoin of the
    // exploded shape is gone along with the explode-grain corpus
    // joins). A lost broadcast would stage the corpus; and no step may
    // degenerate into a cartesian (the 4096·n outer-product shape this
    // implementation exists to avoid). The corpus itself must never
    // shuffle through a join: no SortMergeJoin / ShuffledHashJoin
    // anywhere in the plan.
    val p = plan(Similarity.sPca(spark, sf))
    val finalSection = p.split("== Initial Plan ==").head
    assert(finalSection.contains("BroadcastNestedLoopJoin"),
      "v-vector one-row frame no longer broadcast:\n" + finalSection.take(1200))
    assert(!finalSection.contains("CartesianProduct"),
      "pca staged a cartesian:\n" + finalSection.take(1200))
    assert(!finalSection.contains("SortMergeJoin") &&
      !finalSection.contains("ShuffledHashJoin"),
      "pca shuffled the corpus through a join:\n" + finalSection.take(1200))
  }

  test("rake: the vocabulary degree table broadcasts onto phrase members") {
    val p = plan(graft.operators.TextAnalysis.tRake(spark, sf))
    val finalSection = p.split("== Initial Plan ==").head
    assert(finalSection.contains("BroadcastHashJoin"),
      "degree table no longer broadcast:\n" + finalSection.take(1200))
  }

  test("holt/autocorr: the fold/window input is the day aggregate, not raw events") {
    for (df <- Seq(graft.operators.Events.eHolt(spark, sf),
                   graft.operators.Events.eAutocorr(spark, sf))) {
      val p = plan(df)
      assert("HashAggregate".r.findAllIn(p).nonEmpty, p.take(800))
    }
  }

  test("decompose/concurrency: ordered windows run on day/delta aggregates, not raw events") {
    // e_decompose: the MA window input is the day aggregate
    val pd = plan(graft.operators.Events.eDecompose(spark, sf))
    val wIdx = pd.indexOf("Window")
    assert(wIdx >= 0, pd.take(800))
    assert(pd.indexOf("HashAggregate", wIdx) > wIdx,
      "no aggregate below the MA window — it would sort raw events:\n" + pd.take(1200))
    // e_concurrency: the running sum partitions by day (never a global
    // single-partition pass over deltas); the carry window is day-grain
    val pc = finalOnly(plan(graft.operators.Events.eConcurrency(spark, sf)))
    assert(pc.contains("Window [sum(delta#") || pc.contains("windowspecdefinition(day#"),
      "per-day delta window missing:\n" + pc.take(1500))
    assert("Window ".r.findAllIn(pc).length === 2, pc.take(1500))
  }

  test("changepoint/seasonal-naive: the ordered window runs on the day aggregate") {
    // the single-partition window is safe ONLY because its input is the
    // day-bounded series — assert the aggregate sits below the window
    for (df <- Seq(graft.operators.Events.eChangepoint(spark, sf),
                   graft.operators.Events.eSeasonalNaive(spark, sf))) {
      val p = plan(df)
      val winIdx = p.indexOf("Window")
      assert(winIdx >= 0, p.take(800))
      assert(p.indexOf("HashAggregate", winIdx) > winIdx,
        "no aggregate below the ordered window — it would sort raw events:\n" +
          p.take(1200))
    }
  }

  test("streaks: one events scan, user-partitioned windows, group-limited best pick") {
    val p = finalOnly(plan(graft.operators.Events.eStreaks(spark, sf)))
    assert("FileScan parquet".r.findAllIn(p).length === 1,
      "n_active_days re-scans events (should be a window sum):\n" + p.take(1500))
    assert(!p.contains("Join"), "unexpected join:\n" + p.take(1500))
    // every window partitions by user_id — no global single-partition window
    assert(p.contains("WindowGroupLimit"), p.take(1500))
    val specs = "windowspecdefinition\\(user_id#".r.findAllIn(p).length
    val allSpecs = "windowspecdefinition\\(".r.findAllIn(p).length
    assert(specs === allSpecs && allSpecs >= 3,
      s"non-user-partitioned window present ($specs/$allSpecs):\n" + p.take(1500))
  }

  test("tpch q2/q9/q11: qualification lists broadcast; one fact scan each side") {
    // Q2: both semi joins (qualifying parts, region suppliers) and the
    // final supplier-detail join broadcast; the decorrelated per-part
    // min rejoin must never degenerate to a cartesian
    val p2 = finalOnly(plan(Relational.qTpchQ2(spark, sf)))
    assert("BroadcastHashJoin".r.findAllIn(p2).length >= 3, p2.take(1500))
    assert(!p2.contains("CartesianProduct"), p2.take(1500))
    // Q9: part/supplier/nation all broadcast; exactly one fact-fact
    // join (lineitem⋈orders) is allowed to shuffle
    val p9 = finalOnly(plan(Relational.qTpchQ9(spark, sf)))
    assert("BroadcastHashJoin".r.findAllIn(p9).length >= 3, p9.take(1500))
    // Q11: the 1-row threshold comes back as a broadcast nested loop,
    // never a cartesian (the value aggregate itself sits behind a
    // Materialize pin, so its supplier semi join is in the pinned
    // subplan, not this final plan)
    val p11 = finalOnly(plan(Relational.qTpchQ11(spark, sf)))
    assert(p11.contains("BroadcastNestedLoopJoin"), p11.take(1500))
    assert(!p11.contains("CartesianProduct"), p11.take(1500))
  }

  test("mad audit: per-type medians come back as broadcast joins") {
    val p = finalOnly(plan(graft.operators.Events.eMad(spark, sf)))
    // both the median and the MAD rejoin the event stream broadcast —
    // a lost hint would shuffle the full stream on event_type (8 keys,
    // the worst possible skew)
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2, p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("heaps: decile boundaries broadcast; vocabulary reduces once") {
    val p = finalOnly(plan(graft.operators.TextAnalysis.tHeaps(spark, sf)))
    // the 10-row boundary list must arrive as broadcast nested loops
    // (range predicate), one for token mass and one for vocabulary
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length >= 2, p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
    // first-doc reduction is a real partial+final aggregate (word grain)
    assert("HashAggregate".r.findAllIn(p).length >= 4, p.take(1500))
  }

  test("vad: every window partitions by doc_id — no global ordered pass") {
    val p = finalOnly(plan(graft.operators.Multimodal.mVadStub(spark, sf)))
    val docSpecs = "windowspecdefinition\\(doc_id#".r.findAllIn(p).length
    val allSpecs = "windowspecdefinition\\(".r.findAllIn(p).length
    assert(docSpecs === allSpecs && allSpecs >= 2,
      s"non-doc-partitioned window present ($docSpecs/$allSpecs):\n" + p.take(1500))
  }

  test("rerank: shortlist + query sides broadcast; no corpus shuffle join") {
    // the two-stage retrieval contract: stage-1 joins codes to the
    // BROADCAST |Q|·M·K ADC table, stage-2 fetches full vectors via a
    // BROADCAST of the |Q|·R shortlist — a silent hint loss would
    // stage the vector store through a shuffle join
    val p = finalOnly(plan(Similarity.sRerank(spark, sf)))
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2, p.take(1500))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "corpus-side shuffle join appeared:\n" + p.take(1500))
  }

  test("kcenter: per-step center frames broadcast; argmax is a top-1 cut") {
    // the per-step corpus passes hide behind Materialize.pin — audit
    // every pinned subplan via the inspector seam: each cross join
    // must carry the broadcast hint (centers are 1-row frames), and
    // the farthest-point argmax must plan as a limit-1 cut, never a
    // global sort of the corpus
    val captured = scala.collection.mutable.Buffer[String]()
    graft.operators.Materialize.inspector =
      d => captured += d.queryExecution.optimizedPlan.toString
    try Similarity.sKcenter(spark, sf).collect()
    finally {
      graft.operators.Materialize.inspector = null
      graft.operators.Materialize.releaseAll(spark)
    }
    val withJoin = captured.filter(_.contains("Join Cross"))
    assert(withJoin.nonEmpty, captured.mkString("\n---\n").take(1200))
    withJoin.foreach { p =>
      assert(!p.replace("Join Cross, rightHint=(strategy=broadcast)", "")
        .contains("Join Cross"),
        "unhinted cross join in pinned k-center step:\n" + p.take(1200))
    }
    assert(captured.exists(_.contains("GlobalLimit 1")),
      "argmax not a top-1 cut:\n" + captured.mkString("\n---\n").take(1200))
  }

  test("domain shift: global mean regroups the pinned sums — no second corpus pass") {
    val p = finalOnly(plan(graft.operators.Curation.pDomainShift(spark, sf)))
    // the corpus pass lives inside the pin job; the visible plan must
    // read the pinned (source, dim) sums for BOTH means and never
    // rescan parquet
    assert(!p.contains("Scan parquet"), "corpus rescanned:\n" + p.take(1200))
    assert("Scan ExistingRDD".r.findAllIn(p).length === 2,
      "pinned sums not feeding both means:\n" + p.take(1200))
  }

  test("matryoshka: four rank windows on shared q_id partitioning, two scans") {
    val p = finalOnly(plan(Similarity.sMatryoshka(spark, sf)))
    assert("Window ".r.findAllIn(p).length === 4, p.take(1200))
    // corpus side + broadcast query side — a third scan means the
    // prefix cosines stopped being computed in-row
    assert("Scan parquet".r.findAllIn(p).length === 2, p.take(1200))
    // one vec_id spread + one q_id window exchange + countDistinct's
    // dedup shuffle; a 4th hash exchange means the windows stopped
    // sharing their partitioning
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 3,
      p.take(1500))
  }

  test("gopher rules: pruned scan, one generate, partial+final 1-row agg") {
    val p = finalOnly(plan(graft.operators.TextAnalysis.tGopherRules(spark, sf)))
    assert(!p.contains("lang") && !p.contains("n_chars"),
      "scan not pruned to doc_id+text:\n" + p.take(1200))
    // one metrics Generate + the ledger's stack Generate — never a
    // third (a re-inlined tokenize would add one)
    assert("Generate ".r.findAllIn(p).length === 2, p.take(1500))
    assert("HashAggregate".r.findAllIn(p).length === 2,
      "partial+final agg lost:\n" + p.take(1200))
    assert(p.contains("Exchange SinglePartition"), p.take(1200))
  }

  test("embed fusion: norm reduces before the join, top-k is TakeOrdered") {
    val df = graft.operators.Multimodal.mEmbedFusion(spark, sf)
    assert(finalOnly(plan(df)).contains("TakeOrderedAndProject"),
      "top-20 materialized a global sort")
    // the embedding column must not cross the join — only the scalar
    // norm does (it is projected out below the join's input)
    val joins = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.nonEmpty, "expected an id-keyed pair join")
    joins.foreach { j =>
      assert(!j.children.exists(_.output.exists(_.name == "embedding")),
        "embedding column feeds the join un-reduced:\n" + j.toString.take(1200))
    }
  }

  test("user overlap: both consumers regroup the pinned per-user type sets") {
    val p = finalOnly(plan(graft.operators.Events.eUserOverlap(spark, sf)))
    // the one corpus-grain shuffle (groupBy user + collect_set) lives
    // inside the pin job; the visible plan reads the pinned user-grain
    // frame for BOTH the pair matrix and the cohort sizes and never
    // rescans the events parquet
    assert(!p.contains("Scan parquet"), "events rescanned:\n" + p.take(1200))
    assert("Scan ExistingRDD".r.findAllIn(p).length === 2,
      "pinned per-user sets not feeding both consumers:\n" + p.take(1200))
  }

  test("scene cut: doc window and report share one doc_id exchange") {
    val p = finalOnly(plan(graft.operators.Multimodal.mSceneCut(spark, sf)))
    assert("Window ".r.findAllIn(p).length === 1, p.take(1200))
    // lag window partitions by doc_id; the per-doc aggregation reuses
    // that partitioning, so exactly one hash exchange appears
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 1,
      "per-doc report re-shuffled after the frame window:\n" + p.take(1500))
    assert("HashAggregate".r.findAllIn(p).length >= 1, p.take(1200))
  }
}
