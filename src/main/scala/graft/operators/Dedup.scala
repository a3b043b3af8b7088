package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Text

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, rare-shingle Jaccard, and embedding-cosine near-dup — every one
  * DuckDB-oracle-checked.
  *
  * Design for 100 TB:
  *  - Exact dedup hashes the text ONCE map-side and groups on the 16-byte
  *    digest, never shuffling document bodies.
  *  - MinHash/LSH turns all-pairs O(n²) into per-bucket pair generation:
  *    signatures are computed scan-side in ONE pass, and the only
  *    shuffle is the group-by-band-bucket (keys ≈ uniformly distributed
  *    md5s, no skew) — no self-join, no second signature pass.
  *  - SimHash is a pure per-row map — embarrassingly parallel.
  *  - Jaccard blocks on the min-shingle fingerprint (1-hash MinHash, a
  *    uniform scale-invariant key) and computes exact Jaccard only
  *    within blocks.
  *  - Embedding near-dup blocks on (label, quantized first component)
  *    so the pair join is per-block, not global.
  *
  * Cross-engine parity: md5 hex is identical in Spark/DuckDB; string mins
  * of md5s are order-isomorphic to uniform hash mins (so they ARE MinHash
  * permutation mins); double dot products are computed in the same
  * sequential order on both engines (Spark `aggregate` folds left with
  * 0.0 init; DuckDB `list_reduce` folds left from the first element —
  * 0.0 + p1 ≡ p1 exactly), making cosines bit-identical.
  */
object Dedup {

  /** Per-block member cap for pair generation — above this, a block is
    * split into salt groups (see [[blockPairs]]).
    */
  val BlockCap = 32

  /** Salted membership lists: every (block, salt-pair) sub-bucket with
    * its collected members. Blocks of m ≤ cap rows keep a single
    * (blk, 0, 0) bucket (today's shape, zero overhead). Larger blocks
    * are split into G = ceil(m/cap) deterministic salt groups by
    * xxhash64(doc_id); each row is replicated into the G sub-buckets
    * {min(g,g2), max(g,g2)}, so any two members share exactly one
    * sub-bucket. Expected members per sub-bucket ≈ 2·cap regardless of
    * block size — the unbounded collect_list row (the 100 TB
    * hot-block killer: one template-spam cluster = one O(m²) task)
    * becomes G² bounded tasks. Exposed package-private for the
    * bounded-state property test.
    *
    * Input: columns `blk` and `v` (struct; must contain `doc_id`).
    */
  private[graft] def saltedMembers(rows: DataFrame, cap: Int): DataFrame = {
    // block size via window count, NOT a join against a separate
    // groupBy("blk") aggregation: a join would evaluate the upstream
    // subplan (shingle sets, quality filters — the expensive part)
    // twice, once per join side. The window costs one partition-by-blk
    // exchange over rows that were about to shuffle on blk anyway.
    val wBlk = org.apache.spark.sql.expressions.Window.partitionBy("blk")
    rows
      .select(col("blk"), col("v"),
        ceil(count(lit(1)).over(wBlk).cast("double") / cap).cast("int").as("ng"))
      .withColumn("g", pmod(xxhash64(col("v.doc_id")), col("ng")).cast("int"))
      // DISTRIBUTE the ×G replication: the sizing window necessarily
      // parks a whole block on one task (linear, spill-backed count
      // state — acceptable), but without this exchange the explode AND
      // the partial collect_list over all m·G replicated rows would run
      // on that same task (the replicated rows never cross a shuffle —
      // partial aggregation compacts them into G² list-records first),
      // concentrating the m²/cap work of a hot block in one place.
      // Re-keying the m ORIGINAL rows by (blk, g) — a cheap linear
      // shuffle — spreads the replication across the salt groups, so
      // per-task explode work is O(block/G · G) = O(block) and
      // per-task aggregation state is bounded by the task's own
      // exploded share. Measured in DedupSpec's hot-block runtime test.
      .repartition(col("blk"), col("g"))
      .select(col("blk"), col("g"), col("v"),
        explode(sequence(lit(0), col("ng") - 1)).as("g2"))
      .groupBy(col("blk"),
        least(col("g"), col("g2")).as("lg"),
        greatest(col("g"), col("g2")).as("hg"))
      .agg(collect_list(struct(col("g"), col("v"))).as("m"))
      .filter(size(col("m")) >= 2)
  }

  /** All unordered member pairs sharing a block key, each pair emitted
    * exactly once, with per-task state bounded by [[saltedMembers]]:
    * within a (blk, lg, hg) sub-bucket only pairs whose salt set equals
    * {lg, hg} are kept (an lg–lg pair belongs to the (lg, lg) bucket).
    * Output: columns `x`, `y` — the two payload structs.
    */
  private[graft] def blockPairs(rows: DataFrame, cap: Int = BlockCap): DataFrame =
    // pair generation is the native PairExplode generator — the HOF
    // equivalent (explode of a nested-transform struct array) was
    // measured materializing the full m²/2 intermediate under the
    // interpreted lambda evaluator before exploding
    saltedMembers(rows, cap)
      .select(col("lg"), col("hg"),
        org.apache.spark.sql.graft.GraftSql.pairExplode(col("m")).as(Seq("x", "y")))
      .filter(least(col("x.g"), col("y.g")) === col("lg") &&
              greatest(col("x.g"), col("y.g")) === col("hg"))
      .select(col("x.v").as("x"), col("y.v").as("y"))

  // --------------------------------------------------------- exact dedup
  /** Exact duplicate groups keyed by content digest: keeper = min doc_id,
    * n = group size. Downstream "deduplicate" = semi-join on keeper.
    */
  def dExact(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(md5(col("text").cast("binary")).as("fp"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n"))
      .orderBy("fp")

  val dExactSql: String =
    """SELECT md5(text) AS fp, MIN(doc_id) AS keeper, COUNT(*) AS n
      |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin

  // -------------------------------------------------------- MinHash+LSH
  val MinhashK = 12      // signature length
  val Bands = 4          // LSH bands
  val RowsPerBand = 3    // K / Bands

  /** LSH candidate pairs + estimated similarity (fraction of agreeing
    * signature components). A pair surfaces iff some band's R components
    * all agree; est >= 0.5 keeps probable near-dups.
    *
    * Shape: the one-pass group-by-band-bucket LSH. Per doc, ONE
    * projection computes the K-component signature and its band buckets
    * — the signature expression is let-bound via a single-element
    * `transform` lambda, so it is evaluated exactly once per document
    * (naively referencing a sig alias downstream lets CollapseProject
    * inline the K×|shingles| md5 fold into every reference — measured
    * 12× blowup). Docs are then grouped by bucket and candidate pairs
    * generated WITHIN each bucket — one shuffle of (bucket, sketch)
    * rows, no self-join, no second signature pass.
    *
    * 100 TB note: per-bucket pair generation is quadratic in bucket
    * size; uniform md5 buckets keep that tiny, and a degenerate hot
    * bucket (all-identical spam docs) is bounded by [[blockPairs]]'s
    * salt-group split — per-task state stays ~2·[[BlockCap]] members.
    */
  /** One row per (doc, band): the K-component MinHash signature plus
    * that band's bucket key — the shared LSH projection of
    * [[dMinhashLsh]] and [[dIncremental]]. The signature is the native
    * one-loop graft.plans.ShingleMinHash (shingle bytes built once,
    * all K salted digests per shingle, byte-wise mins — ~an order of
    * magnitude over the interpreted HOF fold, provably identical
    * output: min over distinct == min over all, hex order ==
    * digest-byte order), let-bound in a single-element `transform` so
    * CollapseProject cannot re-inline the fold per band reference.
    */
  private[graft] def minhashBanded(docs: DataFrame): DataFrame = {
    val base = docs
      .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
    val sigExpr = org.apache.spark.sql.graft.GraftSql.shingleMinHash(
      col("toks"), 3, (0 until MinhashK).map(j => s"$j|"))
    def bucketOf(sig: Column, b: Column): Column =
      concat(b.cast("string"), lit("|"),
        md5(array_join(slice(sig, b * RowsPerBand + 1, lit(RowsPerBand)), "|")
          .cast("binary")))
    val bandArr = element_at(
      transform(array(sigExpr), sig =>
        transform(sequence(lit(0), lit(Bands - 1)), b =>
          struct(sig.as("sig"), bucketOf(sig, b).as("bucket")))), 1)
    base.select(col("doc_id"), explode(bandArr).as("bb"))
      .select(col("doc_id"), col("bb.sig").as("sig"), col("bb.bucket").as("bucket"))
  }

  def dMinhashLsh(s: SparkSession, d: String): DataFrame =
    minhashLshPairs(s, d).orderBy("a", "b")

  /** [[dMinhashLsh]] minus the final presentation sort. Every internal
    * consumer of the verified pair set (graph ops, reports, pinned
    * edge lists) aggregates or joins it, so inheriting the global
    * range-exchange + full sort mid-pipeline was pure waste — at scale
    * a serial-ish range shuffle of the whole pair set per consumer.
    * The sorted form is only the declared d_minhash_lsh output.
    */
  private[graft] def minhashLshPairs(s: SparkSession, d: String): DataFrame = {
    val banded = minhashBanded(Tables.documents(s, d))
      .select(col("bucket").as("blk"),
        struct(col("doc_id"), col("sig")).as("v"))
    val agree = size(filter(
      zip_with(col("x.sig"), col("y.sig"), (x, y) => x === y), (b: Column) => b))
    blockPairs(banded)
      .select(
        least(col("x.doc_id"), col("y.doc_id")).as("a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("b"),
        round(agree.cast("double") / MinhashK, 6).as("est_sim"))
      .filter(col("est_sim") >= 0.5)
      .distinct()
  }

  val dMinhashLshSql: String = {
    val sigExprs = (0 until MinhashK).map(j =>
      s"list_min(list_transform(sh, x -> md5('$j|' || x))) AS sig_$j").mkString(",\n  ")
    val bandSelects = (0 until Bands).map { b =>
      val parts = (0 until RowsPerBand).map(r => s"sig_${b * RowsPerBand + r}").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band, md5($parts) AS bucket FROM sigs"
    }.mkString("\n  UNION ALL ")
    val agree = (0 until MinhashK)
      .map(j => s"CASE WHEN sa.sig_$j = sb.sig_$j THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH ${Text.ToksSh3Sql},
       |sigs AS (SELECT doc_id,
       |  $sigExprs
       |FROM sh3 WHERE len(sh) > 0),
       |banded AS (
       |  $bandSelects),
       |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM banded x JOIN banded y
       |    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id)
       |SELECT a, b, round(CAST($agree AS DOUBLE) / $MinhashK, 6) AS est_sim
       |FROM cand JOIN sigs sa ON sa.doc_id = a JOIN sigs sb ON sb.doc_id = b
       |WHERE round(CAST($agree AS DOUBLE) / $MinhashK, 6) >= 0.5
       |ORDER BY a, b""".stripMargin
  }

  // ------------------------------- MinHash estimator calibration
  /** MinHash estimator CALIBRATION — E[signature agreement / K] is the
    * true Jaccard, and this query measures how tight that estimate is
    * at K = [[MinhashK]] on the real corpus: every LSH candidate pair
    * is scored twice (estimated similarity from its signatures, exact
    * Jaccard from its shingle-hash sets) and the pairs are binned by
    * exact-Jaccard decile with mean estimate / mean exact / mean and
    * max absolute error per bin. The accept-a-sketch audit every
    * MinHash deployment owes itself before trusting `est_sim`
    * thresholds at 100 TB (the σ = √(J(1−J)/K) band is the theory;
    * this is the measurement). Complements [[dLshEval]] (which grades
    * candidate RECALL, not estimator accuracy).
    *
    * Scale shape: candidate generation is the dMinhashLsh machinery
    * (banded buckets, salt-bounded pairs — never all-pairs); the two
    * exact-set probes join pair rows against the pinned (doc, hashes)
    * frame on ids; the decile aggregation is ≤ 10 rows out of a
    * map-side combine. Determinism: binning is exact integer math
    * ((inter·10) div union), per-pair values are round-6 doubles,
    * means divide exact decimal sums once.
    */
  def dMinhashEstErr(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val banded = minhashBanded(docs)
      .select(col("bucket").as("blk"),
        struct(col("doc_id"), col("sig")).as("v"))
    val agree = size(filter(
      zip_with(col("x.sig"), col("y.sig"), (x, y) => x === y), (b: Column) => b))
    val cand = blockPairs(banded)
      .select(least(col("x.doc_id"), col("y.doc_id")).as("a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("b"),
        agree.cast("int").as("agree"))
      .distinct()
    val sh = Materialize.pin(docs
      .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"),
        org.apache.spark.sql.graft.GraftSql.shingleHashSet(col("toks"), 3).as("sh"))
      .filter(size(col("sh")) > 0))
    val inter = org.apache.spark.sql.graft.GraftSql
      .sortedIntersectCount(col("sha"), col("shb")).cast("bigint")
    val paired = cand
      .join(sh.select(col("doc_id").as("a"), col("sh").as("sha")), "a")
      .join(sh.select(col("doc_id").as("b"), col("sh").as("shb")), "b")
      .select(col("agree"), inter.as("inter"),
        (size(col("sha")).cast("bigint") + size(col("shb"))).as("sz"))
      .select(col("agree"), col("inter"), (col("sz") - col("inter")).as("uni"))
    val est6 = round(col("agree").cast("double") / MinhashK, 6)
    val jac6 = round(col("inter").cast("double") / col("uni"), 6)
    paired
      .select(expr("cast(least(9, (inter * 10) div uni) as int)").as("bin"),
        est6.as("est6"), jac6.as("jac6"))
      .withColumn("err6", round(abs(col("est6") - col("jac6")), 6))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_pairs"),
        round(sum(col("est6").cast("decimal(16,6)")).cast("double")
          / count(lit(1)), 6).as("mean_est"),
        round(sum(col("jac6").cast("decimal(16,6)")).cast("double")
          / count(lit(1)), 6).as("mean_jac"),
        round(sum(col("err6").cast("decimal(16,6)")).cast("double")
          / count(lit(1)), 6).as("mean_abs_err"),
        max(col("err6")).as("max_abs_err"))
      .orderBy("bin")
  }

  lazy val dMinhashEstErrSql: String = {
    val sigExprs = (0 until MinhashK).map(j =>
      s"list_min(list_transform(sh, x -> md5('$j|' || x))) AS sig_$j")
      .mkString(",\n  ")
    val bandSelects = (0 until Bands).map { b =>
      val parts = (0 until RowsPerBand)
        .map(r => s"sig_${b * RowsPerBand + r}").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band, md5($parts) AS bucket FROM sigs"
    }.mkString("\n  UNION ALL ")
    val agree = (0 until MinhashK)
      .map(j => s"CASE WHEN sa.sig_$j = sb.sig_$j THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH ${Text.ToksSh3Sql},
       |sigs AS (SELECT doc_id,
       |  $sigExprs
       |FROM sh3 WHERE len(sh) > 0),
       |banded AS (
       |  $bandSelects),
       |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM banded x JOIN banded y
       |    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
       |pr AS (SELECT ($agree) AS agree,
       |    CAST(len(list_intersect(ha.sh, hb.sh)) AS BIGINT) AS inter,
       |    CAST(len(ha.sh) + len(hb.sh) - len(list_intersect(ha.sh, hb.sh))
       |      AS BIGINT) AS uni
       |  FROM cand cd
       |  JOIN sigs sa ON sa.doc_id = cd.a JOIN sigs sb ON sb.doc_id = cd.b
       |  JOIN sh3 ha ON ha.doc_id = cd.a JOIN sh3 hb ON hb.doc_id = cd.b),
       |e AS (SELECT CAST(LEAST(9, (inter * 10) // uni) AS INT) AS bin,
       |    round(CAST(agree AS DOUBLE) / $MinhashK, 6) AS est6,
       |    round(CAST(inter AS DOUBLE) / uni, 6) AS jac6 FROM pr),
       |e2 AS (SELECT bin, est6, jac6, round(abs(est6 - jac6), 6) AS err6
       |  FROM e)
       |SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |  round(CAST(SUM(CAST(est6 AS DECIMAL(16,6))) AS DOUBLE)
       |    / COUNT(*), 6) AS mean_est,
       |  round(CAST(SUM(CAST(jac6 AS DECIMAL(16,6))) AS DOUBLE)
       |    / COUNT(*), 6) AS mean_jac,
       |  round(CAST(SUM(CAST(err6 AS DECIMAL(16,6))) AS DOUBLE)
       |    / COUNT(*), 6) AS mean_abs_err,
       |  MAX(err6) AS max_abs_err
       |FROM e2 GROUP BY bin ORDER BY bin""".stripMargin
  }

  // ------------------------------------ b-bit minwise calibration
  /** b-bit MinHash (Li & König, WWW 2010) at b = 1: store only ONE BIT
    * per signature component (here the parity of the component's first
    * hex digit — any fixed bit of the min-hash value works) and
    * estimate Jaccard from the bit-agreement fraction A via
    * J ≈ 2A − 1 (for a large hash universe a non-matching component
    * agrees by chance 1/2, so E[A] = J + (1−J)/2). The 64× storage
    * cut is what makes sketch tables feasible at 100 TB corpus scale;
    * the price is variance, and this audit MEASURES it on the real
    * corpus: every LSH candidate pair scored three ways (1-bit
    * estimate, full-signature estimate, exact shingle Jaccard), binned
    * by exact-Jaccard decile with mean estimates and mean absolute
    * errors side by side — the b-vs-K budget table a deployment reads
    * before shrinking its sketches.
    *
    * Scale shape: identical to [[dMinhashEstErr]] (banded buckets,
    * salt-bounded pairs, pinned shingle sets joined by id); the bit
    * projection adds map-side work only.
    */
  def dBbitEst(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val banded = minhashBanded(docs)
      .select(col("bucket").as("blk"),
        struct(col("doc_id"), col("sig")).as("v"))
    def bit(c: Column) = ascii(substring(c, 1, 1)) % 2
    val agreeFull = size(filter(
      zip_with(col("x.sig"), col("y.sig"), (x, y) => x === y), (b: Column) => b))
    val agreeBit = size(filter(
      zip_with(col("x.sig"), col("y.sig"), (x, y) => bit(x) === bit(y)),
      (b: Column) => b))
    val cand = blockPairs(banded)
      .select(least(col("x.doc_id"), col("y.doc_id")).as("a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("b"),
        agreeFull.cast("int").as("agree"), agreeBit.cast("int").as("agree1"))
      .distinct()
    val sh = Materialize.pin(docs
      .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"),
        org.apache.spark.sql.graft.GraftSql.shingleHashSet(col("toks"), 3).as("sh"))
      .filter(size(col("sh")) > 0))
    val inter = org.apache.spark.sql.graft.GraftSql
      .sortedIntersectCount(col("sha"), col("shb")).cast("bigint")
    val paired = cand
      .join(sh.select(col("doc_id").as("a"), col("sh").as("sha")), "a")
      .join(sh.select(col("doc_id").as("b"), col("sh").as("shb")), "b")
      .select(col("agree"), col("agree1"), inter.as("inter"),
        (size(col("sha")).cast("bigint") + size(col("shb"))).as("sz"))
      .select(col("agree"), col("agree1"), col("inter"),
        (col("sz") - col("inter")).as("uni"))
    val estK6 = round(col("agree").cast("double") / MinhashK, 6)
    val est16 = round(greatest(lit(0.0),
      lit(2.0) * col("agree1").cast("double") / MinhashK - lit(1.0)), 6)
    val jac6 = round(col("inter").cast("double") / col("uni"), 6)
    paired
      .select(expr("cast(least(9, (inter * 10) div uni) as int)").as("bin"),
        estK6.as("estk6"), est16.as("est16"), jac6.as("jac6"))
      .withColumn("errk6", round(abs(col("estk6") - col("jac6")), 6))
      .withColumn("err16", round(abs(col("est16") - col("jac6")), 6))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_pairs"),
        round(sum(col("est16").cast("decimal(16,6)")).cast("double")
          / count(lit(1)), 6).as("mean_est_1bit"),
        round(sum(col("estk6").cast("decimal(16,6)")).cast("double")
          / count(lit(1)), 6).as("mean_est_full"),
        round(sum(col("jac6").cast("decimal(16,6)")).cast("double")
          / count(lit(1)), 6).as("mean_jac"),
        round(sum(col("err16").cast("decimal(16,6)")).cast("double")
          / count(lit(1)), 6).as("mean_abs_err_1bit"),
        round(sum(col("errk6").cast("decimal(16,6)")).cast("double")
          / count(lit(1)), 6).as("mean_abs_err_full"))
      .orderBy("bin")
  }

  lazy val dBbitEstSql: String = {
    val sigExprs = (0 until MinhashK).map(j =>
      s"list_min(list_transform(sh, x -> md5('$j|' || x))) AS sig_$j")
      .mkString(",\n  ")
    val bandSelects = (0 until Bands).map { b =>
      val parts = (0 until RowsPerBand)
        .map(r => s"sig_${b * RowsPerBand + r}").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band, md5($parts) AS bucket FROM sigs"
    }.mkString("\n  UNION ALL ")
    val agree = (0 until MinhashK)
      .map(j => s"CASE WHEN sa.sig_$j = sb.sig_$j THEN 1 ELSE 0 END")
      .mkString(" + ")
    val agree1 = (0 until MinhashK)
      .map(j => s"CASE WHEN ascii(sa.sig_$j[1:1]) % 2 = " +
        s"ascii(sb.sig_$j[1:1]) % 2 THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH ${Text.ToksSh3Sql},
       |sigs AS (SELECT doc_id,
       |  $sigExprs
       |FROM sh3 WHERE len(sh) > 0),
       |banded AS (
       |  $bandSelects),
       |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM banded x JOIN banded y
       |    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
       |pr AS (SELECT ($agree) AS agree, ($agree1) AS agree1,
       |    CAST(len(list_intersect(ha.sh, hb.sh)) AS BIGINT) AS inter,
       |    CAST(len(ha.sh) + len(hb.sh) - len(list_intersect(ha.sh, hb.sh))
       |      AS BIGINT) AS uni
       |  FROM cand cd
       |  JOIN sigs sa ON sa.doc_id = cd.a JOIN sigs sb ON sb.doc_id = cd.b
       |  JOIN sh3 ha ON ha.doc_id = cd.a JOIN sh3 hb ON hb.doc_id = cd.b),
       |e AS (SELECT CAST(LEAST(9, (inter * 10) // uni) AS INT) AS bin,
       |    round(CAST(agree AS DOUBLE) / $MinhashK, 6) AS estk6,
       |    round(GREATEST(0.0,
       |      2.0 * CAST(agree1 AS DOUBLE) / $MinhashK - 1.0), 6) AS est16,
       |    round(CAST(inter AS DOUBLE) / uni, 6) AS jac6 FROM pr),
       |e2 AS (SELECT bin, estk6, est16, jac6,
       |    round(abs(estk6 - jac6), 6) AS errk6,
       |    round(abs(est16 - jac6), 6) AS err16 FROM e)
       |SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |  round(CAST(SUM(CAST(est16 AS DECIMAL(16,6))) AS DOUBLE)
       |    / COUNT(*), 6) AS mean_est_1bit,
       |  round(CAST(SUM(CAST(estk6 AS DECIMAL(16,6))) AS DOUBLE)
       |    / COUNT(*), 6) AS mean_est_full,
       |  round(CAST(SUM(CAST(jac6 AS DECIMAL(16,6))) AS DOUBLE)
       |    / COUNT(*), 6) AS mean_jac,
       |  round(CAST(SUM(CAST(err16 AS DECIMAL(16,6))) AS DOUBLE)
       |    / COUNT(*), 6) AS mean_abs_err_1bit,
       |  round(CAST(SUM(CAST(errk6 AS DECIMAL(16,6))) AS DOUBLE)
       |    / COUNT(*), 6) AS mean_abs_err_full
       |FROM e2 GROUP BY bin ORDER BY bin""".stripMargin
  }

  // -------------------------------------- recursive duplication reach
  /** Bounded transitive duplication reach via the SQL front door's
    * RECURSIVE CTE (Spark 4's iterative-CTE execution — the engine
    * drives the superstep loop that [[connectedComponents]] hand-rolls
    * externally): starting from every verified near-dup edge
    * ([[dMinhashLsh]]'s a < b pairs), follow edges downward up to 3
    * hops and report, per origin doc, how many docs its duplication
    * transitively reaches and at what depth. Chains the pairwise
    * detector cannot see directly (A≈B≈C with no A–C pair) surface
    * here — the "how far does this template spread" diagnostic next
    * to [[dCluster]]'s undirected component labels.
    *
    * Scale shape: the a < b edge orientation makes the graph a DAG
    * (each hop strictly increases the id) and the depth cap bounds
    * the engine's iteration at 3 supersteps; each superstep is one
    * frontier⋈edges hash join on pair-count rows — corpus bodies
    * never enter the recursion. Path multiplicity from diamonds is
    * collapsed by the final DISTINCT count.
    */
  def dReach(s: SparkSession, d: String): DataFrame = {
    // pin the edge list before the view: the recursion references it
    // from the anchor AND every superstep, and a temp view is only a
    // logical plan — unpinned, the full LSH chain re-evaluates per
    // reference (measured 3.8 s → ~1 s at sf0.1)
    graft.operators.Materialize.pin(minhashLshPairs(s, d).select("a", "b"))
      .createOrReplaceTempView("graft_dup_edges")
    s.sql("""
      WITH RECURSIVE reach(root, node, depth) AS (
        SELECT a, b, 1 FROM graft_dup_edges
        UNION ALL
        SELECT r.root, e.b, r.depth + 1
        FROM reach r JOIN graft_dup_edges e ON e.a = r.node
        WHERE r.depth < 3)
      SELECT root, COUNT(DISTINCT node) AS n_reach,
        CAST(MAX(depth) AS INT) AS max_depth
      FROM reach GROUP BY root ORDER BY root""")
  }

  lazy val dReachSql: String =
    s"""WITH RECURSIVE p AS ($dMinhashLshSql),
       |reach(root, node, depth) AS (
       |  SELECT a, b, 1 FROM p
       |  UNION ALL
       |  SELECT r.root, e.b, r.depth + 1
       |  FROM reach r JOIN p e ON e.a = r.node
       |  WHERE r.depth < 3)
       |SELECT root, COUNT(DISTINCT node) AS n_reach,
       |  CAST(MAX(depth) AS INT) AS max_depth
       |FROM reach GROUP BY root ORDER BY root""".stripMargin

  // ------------------------------------------- incremental dedup
  /** Incremental dedup of a NEW batch against an EXISTING reference
    * corpus — the shape every recurring crawl runs: never re-dedup the
    * whole corpus, screen the increment against what's already kept.
    * Fixture split: even doc_ids are the reference, odd the batch.
    * Per batch doc: `exact_dup` (its digest exists in the reference —
    * a 16-byte-key semi-join, bodies never shuffle), `near_dup` (some
    * reference doc shares an LSH band bucket AND ≥ half the MinHash
    * signature agrees — the [[dMinhashLsh]] decision rule applied
    * across the corpus boundary via [[minhashBanded]] on both sides),
    * and the resulting `keep` flag.
    *
    * Scale shape: both probes are joins keyed by digest / band bucket
    * — the reference is scanned once per probe, only (key, id) pairs
    * shuffle, and the batch side is increment-sized. Per-bucket cost
    * is |batch∩bucket|·|ref∩bucket|; uniform md5 buckets keep that
    * tiny and AQE's skew split bounds a degenerate bucket (the
    * symmetric blockPairs salt-cap doesn't apply to an asymmetric
    * containment probe). At 100 TB the reference's digests/signatures
    * would be a maintained TABLE (written once by the previous run)
    * rather than recomputed — the probe side of this plan is
    * unchanged.
    */
  def dIncremental(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val ref = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 === 1)
    val exactIds = batch
      .select(col("doc_id"), md5(col("text").cast("binary")).as("fp"))
      .join(ref.select(md5(col("text").cast("binary")).as("fp")), Seq("fp"), "left_semi")
      .select(col("doc_id")).withColumn("ehit", lit(1))
    val nb = minhashBanded(batch)
    val rb = minhashBanded(ref).toDF("r_id", "r_sig", "bucket")
    val agree = size(filter(
      zip_with(col("sig"), col("r_sig"), (x, y) => x === y), (b: Column) => b))
    val nearIds = nb.join(rb, "bucket")
      .filter(agree.cast("double") / MinhashK >= 0.5)
      .select(col("doc_id")).distinct().withColumn("nhit", lit(1))
    batch.select(col("doc_id"))
      .join(exactIds, Seq("doc_id"), "left")
      .join(nearIds, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("ehit").isNotNull, 1).otherwise(0).as("exact_dup"),
        when(col("nhit").isNotNull, 1).otherwise(0).as("near_dup"),
        when(col("ehit").isNull && col("nhit").isNull, 1).otherwise(0).as("keep"))
      .orderBy("doc_id")
  }

  lazy val dIncrementalSql: String = {
    val sigExprs = (0 until MinhashK).map(j =>
      s"list_min(list_transform(sh, x -> md5('$j|' || x))) AS sig_$j").mkString(",\n  ")
    def bandSelects(p: String) = (0 until Bands).map { b =>
      val parts = (0 until RowsPerBand).map(r => s"sig_${b * RowsPerBand + r}")
        .mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band, md5($parts) AS bucket FROM sigs_$p"
    }.mkString("\n  UNION ALL ")
    def sigChain(p: String) =
      s"""${Text.sh3Sql(p, s"sh_$p")},
         |sigs_$p AS (SELECT doc_id,
         |  $sigExprs
         |FROM sh_$p WHERE len(sh) > 0),
         |banded_$p AS (
         |  ${bandSelects(p)})"""
    val agreeSql = (0 until MinhashK)
      .map(j => s"CASE WHEN sa.sig_$j = sb.sig_$j THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH t AS (SELECT doc_id, text, ${Text.ToksSql} AS toks FROM documents),
       |ref AS (SELECT * FROM t WHERE doc_id % 2 = 0),
       |bat AS (SELECT * FROM t WHERE doc_id % 2 = 1),
       |ex AS (SELECT DISTINCT b.doc_id FROM bat b JOIN ref r
       |  ON md5(b.text) = md5(r.text)),
       |${sigChain("ref")},
       |${sigChain("bat")},
       |cand AS (SELECT DISTINCT nb.doc_id AS bid, rb.doc_id AS rid
       |  FROM banded_bat nb JOIN banded_ref rb
       |    ON nb.band = rb.band AND nb.bucket = rb.bucket),
       |near AS (SELECT DISTINCT bid AS doc_id FROM cand
       |  JOIN sigs_bat sa ON sa.doc_id = bid
       |  JOIN sigs_ref sb ON sb.doc_id = rid
       |  WHERE CAST($agreeSql AS DOUBLE) / $MinhashK >= 0.5)
       |SELECT b.doc_id,
       |  CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END AS exact_dup,
       |  CASE WHEN n.doc_id IS NOT NULL THEN 1 ELSE 0 END AS near_dup,
       |  CASE WHEN e.doc_id IS NULL AND n.doc_id IS NULL THEN 1 ELSE 0 END AS keep
       |FROM bat b LEFT JOIN ex e ON e.doc_id = b.doc_id
       |  LEFT JOIN near n ON n.doc_id = b.doc_id
       |ORDER BY b.doc_id""".stripMargin
  }

  // ------------------------------------- Bloom-prefiltered incremental
  /** Exact incremental dedup with a Bloom pre-filter: batch docs whose
    * text already exists in the reference corpus, found WITHOUT
    * shuffling the whole batch into the semi-join. A one-row Bloom
    * sketch of the reference digests is built by Spark's own
    * runtime-filter aggregate (`BloomFilterAggregate`, planted as a
    * scalar subquery exactly like `InjectRuntimeFilter` does), probed
    * map-side on the batch, and only the survivors (true hits + the
    * sketch's false-positive rate) reach the exact-verify semi-join.
    *
    * Why this matters at 100 TB: the reference corpus is huge but its
    * SKETCH is bounded (numBits caps the size independent of corpus
    * cardinality, trading fpp) — so the daily-batch dedup reads the new
    * data once, drops the overwhelming non-duplicate majority at the
    * scan, and shuffles only candidate digests. False positives are
    * removed by the verify join, so results are exact — the oracle is
    * the plain semi-join, sketch-free.
    */
  def dIncrementalBloom(s: SparkSession, d: String): DataFrame = {
    val gs = org.apache.spark.sql.graft.GraftSql
    val docs = Tables.documents(s, d)
    // doc-head fingerprint (first 100 chars): the fixture corpus has no
    // byte-exact full-text duplicates, but near-dup families share
    // their opening — the head digest is the cheap exact key real
    // crawl pipelines use before any similarity pass
    val headFp = md5(substring(col("text"), 1, 100).cast("binary")).as("fp")
    val ref = docs.filter(col("doc_id") % 2 === 0).select(headFp)
    val batch = docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), headFp)
    // 1M expected items / 8M bits ≈ 2% fpp at sf1; the sketch stays
    // 1 MiB regardless of reference size — only fpp degrades with scale
    val bloom = ref.agg(gs.bloomFilterAgg(
      xxhash64(col("fp")), 1000000L, 8388608L).as("bf"))
    batch
      .filter(gs.bloomMightContain(bloom, xxhash64(col("fp"))))
      .join(ref, Seq("fp"), "left_semi")
      .select(col("doc_id"))
      .orderBy("doc_id")
  }

  val dIncrementalBloomSql: String =
    """SELECT b.doc_id FROM documents b
      |WHERE b.doc_id % 2 = 1
      |  AND substring(b.text, 1, 100) IN
      |    (SELECT substring(r.text, 1, 100) FROM documents r WHERE r.doc_id % 2 = 0)
      |ORDER BY b.doc_id""".stripMargin

  // ------------------------------------------------------------ SimHash
  /** 16-bit SimHash from token-multiset md5s: bit i is set iff the
    * majority of token hashes have the top bit of hex digit i set.
    * Pure per-row computation (no shuffle); equal/near simhash =
    * duplicate cluster. A 64-bit native-codegen variant lives in
    * graft.functions (perf path); this one is oracle-checkable.
    */
  def dSimhash(s: SparkSession, d: String): DataFrame =
    // native codegen'd per-row sketch (graft.plans.SimHash16Expr): one
    // md5 + counter loop per doc. Replaced a single interpreted
    // `aggregate` fold that still allocated a 16-element array per
    // token hash (6.1 s at sf0.1 → per-row map). Bit-identical by
    // construction: counter d is the top bit of md5 hex digit d, the
    // same ±1 majority the fold computed; SimHashExprSpec pins the
    // equality against the HOF form.
    Tables.documents(s, d)
      .select(col("doc_id"),
        org.apache.spark.sql.graft.GraftSql.simHash16(
          Text.tokens(col("text"))).as("simhash16"))
      .orderBy("doc_id")

  val dSimhashSql: String = {
    val highSql = "('8','9','a','b','c','d','e','f')"
    val bits = (1 to 16).map { i =>
      val si = s"list_sum(list_transform(h, x -> CASE WHEN substr(x, $i, 1) IN $highSql THEN 1 ELSE -1 END))"
      s"CASE WHEN $si > 0 THEN ${1 << (16 - i)} ELSE 0 END"
    }.mkString("\n    + ")
    s"""WITH t AS (SELECT doc_id,
       |  list_transform(${Text.ToksSql}, x -> md5(x)) AS h FROM documents)
       |SELECT doc_id, CAST($bits AS INT) AS simhash16
       |FROM t ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------ SimHash near-dup
  /** SimHash near-duplicate pairs: docs whose 64-bit SimHash (the
    * [[dSimhash64]] aggregator output) differs in at most
    * [[SimhashMaxHamming]] bits — Charikar dedup as actually deployed
    * (16-bit signatures collide randomly past a few hundred docs;
    * measured 846 hamming-0 pairs over 500 distinct fixture docs).
    * Blocking is the pigeonhole band split: the 16-hex-char signature
    * is cut into 4 bands of 4 hex chars (16 bits), and any pair with
    * hamming ≤ 3 agrees on at least one whole band (3 flips cannot
    * touch all 4), so candidate generation has EXACT recall within the
    * threshold: one shuffle of (band, 16-bit-key) rows, exact hamming
    * in-block as xor+bit_count over the signature's two long halves.
    * The DuckDB oracle computes the same hamming per hex digit
    * (`strpos('0123456789abcdef', c) - 1` nibbles) — same bits, same
    * value. Hot buckets bounded by [[blockPairs]].
    */
  val SimhashMaxHamming = 3

  def dSimhashPairs(s: SparkSession, d: String): DataFrame = {
    // the 64-bit hex signature as two longs, converted ONCE per doc —
    // the candidate set is quadratic in band-bucket size (191k pairs
    // over 5000 fixture docs: clustered corpora cluster their band
    // values too), so per-pair hamming must be integer-cheap. Two
    // xor+bit_count per pair replaced a 16-hex-digit string fold:
    // measured 4.5 s → ~1.3 s warm at sf0.1. The halves ride inside
    // the pairing structs, so they're materialized by the bucket
    // aggregation, never recomputed per reference.
    val banded = dSimhash64(s, d)
      .select(col("doc_id"),
        conv(substring(col("simhash64"), 1, 8), 16, 10).cast("long").as("hi"),
        conv(substring(col("simhash64"), 9, 8), 16, 10).cast("long").as("lo"),
        explode(array((0 until 4).map(i => struct(lit(i).as("band"),
          substring(col("simhash64"), 1 + 4 * i, 4).as("key"))): _*)).as("bn"))
      .select(
        concat(col("bn.band").cast("string"), lit("|"), col("bn.key")).as("blk"),
        struct(col("doc_id"), col("hi"), col("lo")).as("v"))
    val ham = bit_count(col("x.hi").bitwiseXOR(col("y.hi"))) +
      bit_count(col("x.lo").bitwiseXOR(col("y.lo")))
    blockPairs(banded)
      .select(
        least(col("x.doc_id"), col("y.doc_id")).as("a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("b"),
        ham.cast("int").as("hamming"))
      .filter(col("hamming") <= SimhashMaxHamming)
      .distinct()
      .orderBy("a", "b")
  }

  // lazy: textually precedes the dSimhash64Sql it embeds
  lazy val dSimhashPairsSql: String = {
    val ham = (1 to 16).map(i =>
      s"bit_count(xor(strpos('0123456789abcdef', substr(x.simhash64, $i, 1)) - 1, " +
      s"strpos('0123456789abcdef', substr(y.simhash64, $i, 1)) - 1))").mkString("\n    + ")
    s"""WITH sims AS ($dSimhash64Sql),
       |banded AS (SELECT doc_id, simhash64, band,
       |  substr(simhash64, 1 + 4 * CAST(band AS INT), 4) AS key
       |  FROM sims, range(0, 4) t(band)),
       |cand AS (SELECT x.doc_id AS a, y.doc_id AS b,
       |    $ham AS hamming
       |  FROM banded x JOIN banded y
       |    ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id)
       |SELECT DISTINCT a, b, CAST(hamming AS INT) AS hamming
       |FROM cand WHERE hamming <= $SimhashMaxHamming
       |ORDER BY a, b""".stripMargin
  }

  // --------------------------------------- min-shingle-blocked Jaccard
  /** N-gram (3-shingle) Jaccard near-dup, blocked on the MIN-SHINGLE
    * fingerprint (the 1-hash MinHash): two docs land in the same block
    * iff their lexicographically-min md5 shingle hash agrees, which for
    * a pair with Jaccard j happens exactly when the minimizer lies in
    * the intersection (probability j under uniform hashing — ~0.99 for
    * injected dups). Within a block, EXACT Jaccard via array_intersect
    * over the full shingle sets.
    *
    * This blocking is scale-invariant: one shuffle keyed by a uniform
    * hash, block sizes don't grow with corpus-wide shingle reuse. (A
    * fixed rare-shingle df cutoff — the previous design — silently
    * loses all recall as the corpus grows and shared shingles stop
    * being rare: 28 detected pairs at 500 docs, 0 at 5000.)
    */
  def dJaccard(s: SparkSession, d: String): DataFrame =
    jaccardVerified(s, d).orderBy("a", "b")

  /** [[dJaccard]] minus the final presentation sort — same rationale
    * as [[minhashLshPairs]]: the truth-set consumers pin and join it,
    * so the global sort only belongs on the declared d_jaccard output.
    */
  private[graft] def jaccardVerified(s: SparkSession, d: String): DataFrame =
    jaccardPairs(Tables.documents(s, d)
      .select(col("doc_id"), Text.tokens(col("text")).as("toks")))
      .filter(col("jac") >= 0.6)
      .distinct()

  /** Min-shingle-blocked exact-Jaccard pairs over any (doc_id, toks)
    * frame — the shared subplan behind [[dJaccard]] and the curation
    * pipeline's near-dup victim set (which runs it over the smaller
    * quality-surviving corpus instead of twice over everything).
    * Hot blocks are bounded by [[blockPairs]].
    *
    * Jaccard only consumes set SIZES, so the full shingle strings never
    * leave the scan: each doc carries a sorted array of distinct 8-byte
    * shingle hashes (native ShingleHashSet — distinctness mirrors the
    * string set's up to a ~2⁻⁶⁵-per-block collision), and the per-pair
    * numerator is an O(n+m) merge-walk (SortedIntersectCount) instead
    * of `array_intersect`'s O(n·m) interpreted UTF8 scan. Same pairs,
    * same inter/uni/jac values; the block-pair shuffle moves 8-byte
    * longs instead of strings.
    */
  def jaccardPairs(docsWithToks: DataFrame): DataFrame = {
    val p = sizedShinglePairs(docsWithToks)
    p.select(col("a"), col("b"), col("inter").cast("bigint").as("inter"),
      round(col("inter").cast("double") /
        (col("nx") + col("ny") - col("inter")), 6).as("jac"))
  }

  /** Min-shingle-blocked within-block pairs with intersection count and
    * both set sizes — the common core of [[jaccardPairs]] and
    * [[dOverlap]]. Columns: a, b (ordered ids), inter, nx, ny.
    */
  private[graft] def sizedShinglePairs(docsWithToks: DataFrame): DataFrame = {
    val base = docsWithToks
      .select(col("doc_id"),
        org.apache.spark.sql.graft.GraftSql.shingleHashSet(col("toks"), 3).as("sh"),
        element_at(org.apache.spark.sql.graft.GraftSql.shingleMinHash(
          col("toks"), 3, Seq("")), 1).as("blk"))
      .filter(size(col("sh")) > 0)
      .select(col("blk"), struct(col("doc_id"), col("sh")).as("v"))
    val inter = org.apache.spark.sql.graft.GraftSql
      .sortedIntersectCount(col("x.sh"), col("y.sh"))
    blockPairs(base)
      .select(
        least(col("x.doc_id"), col("y.doc_id")).as("a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("b"),
        inter.as("inter"), size(col("x.sh")).as("nx"), size(col("y.sh")).as("ny"))
  }

  // --------------------------------------- overlap-coefficient near-dup
  /** Overlap-coefficient near-dup: pairs with
    * inter / min(|A|, |B|) ≥ 0.8 — the subset-sensitive companion to
    * [[dJaccard]]: a short doc fully CONTAINED in a long one scores
    * overlap 1.0 but can have arbitrarily low Jaccard (|A|/|B|), so a
    * jaccard threshold misses template-plus-boilerplate families that
    * overlap catches. Shares [[sizedShinglePairs]] (same min-shingle
    * blocking and merge-walk intersect — one subplan, two metrics).
    * Blocking caveat, stated honestly: a candidate pair surfaces iff
    * the global min shingle hash lies in the intersection, which
    * happens with probability = Jaccard — so extreme containment pairs
    * (tiny |A|/|B|) are under-sampled by this blocking; exhaustive
    * containment needs an asymmetric scheme (block A on its own min,
    * probe B on ALL its shingles), which multiplies the probe side by
    * |B| and is only worth it when containment recall is the product
    * requirement.
    */
  def dOverlap(s: SparkSession, d: String): DataFrame =
    sizedShinglePairs(Tables.documents(s, d)
      .select(col("doc_id"), Text.tokens(col("text")).as("toks")))
      .select(col("a"), col("b"), col("inter").cast("bigint").as("inter"),
        round(col("inter").cast("double") / least(col("nx"), col("ny")), 6).as("overlap"))
      .filter(col("overlap") >= 0.8)
      .distinct()
      .orderBy("a", "b")

  val dOverlapSql: String =
    s"""WITH ${Text.ToksSh3Sql},
       |b AS (SELECT doc_id, sh,
       |  list_min(list_transform(sh, x -> md5(x))) AS blk
       |  FROM sh3 WHERE len(sh) > 0),
       |pairs AS (SELECT x.doc_id AS a, y.doc_id AS b,
       |    len(list_intersect(x.sh, y.sh)) AS inter,
       |    LEAST(len(x.sh), len(y.sh)) AS mn
       |  FROM b x JOIN b y ON x.blk = y.blk AND x.doc_id < y.doc_id)
       |SELECT DISTINCT a, b, CAST(inter AS BIGINT) AS inter,
       |  round(CAST(inter AS DOUBLE) / mn, 6) AS overlap
       |FROM pairs
       |WHERE round(CAST(inter AS DOUBLE) / mn, 6) >= 0.8
       |ORDER BY a, b""".stripMargin

  // --------------------------------------- edit-distance near-dup
  /** Character-level edit-distance near-dup: min-shingle-blocked
    * candidate pairs (the same 1-hash-MinHash blocking as [[dJaccard]]
    * — one shuffle keyed by a uniform hash, hot blocks salt-bounded),
    * then EXACT Levenshtein over the candidate texts with a relative
    * similarity gate 1 − dist / max(|a|,|b|) ≥ 0.8. The
    * character-granular companion to the token-set metrics: shingle
    * Jaccard is blind to WITHIN-token edits (typos, OCR noise,
    * inflection) because one changed character destroys all three
    * shingles that cross it, while edit distance counts it as one.
    *
    * Scale shape: the O(|a|·|b|) dynamic program runs only on pairs
    * that survive blocking — the corpus never self-joins — and
    * document bodies never enter the blocking shuffle: the (small)
    * candidate-pair list is joined back against the scan by doc_id, so
    * full texts move only for candidate pairs, once per side.
    */
  def dEditDist(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val pairs = sizedShinglePairs(docs
        .select(col("doc_id"), Text.tokens(col("text")).as("toks")))
      .select("a", "b").distinct()
    // bounded Levenshtein (r13, guide §1.2 per-task work): the filter
    // only keeps sim >= 0.8, i.e. dist <= ~0.2·mx — so the DP never
    // needs to run past that band. k = floor(mx·0.2000006)+1 over-
    // covers the 6-dp HALF_UP rounding margin (round(1−d/mx,6) can
    // reach 0.8 only while 1−d/mx >= 0.7999995 − ulp, i.e. d <=
    // mx·0.2000005 + ulp < k), so every pair the unbounded query kept
    // is computed EXACTLY and kept here, and every -1 (dist > k) pair
    // is one the old sim filter discarded anyway — same rows, same
    // values, ~5x less DP work per far pair (banded O(len·k) vs
    // O(len²), plus early exit). The -1 guard must precede the sim
    // filter: 1 − (−1)/mx > 0.8 would otherwise pass.
    val mx = greatest(length(col("ta")), length(col("tb")))
    val bound = (floor(mx.cast("double") * lit(0.2000006)) + lit(1)).cast("int")
    pairs
      .join(docs.select(col("doc_id").as("a"), col("text").as("ta")), "a")
      .join(docs.select(col("doc_id").as("b"), col("text").as("tb")), "b")
      .select(col("a"), col("b"),
        org.apache.spark.sql.graft.GraftSql
          .levenshteinBounded(col("ta"), col("tb"), bound).as("dist"),
        mx.as("mx"))
      .filter(col("dist") >= 0)
      .select(col("a"), col("b"), col("dist"),
        round(lit(1.0) - col("dist").cast("double") / col("mx"), 6).as("sim"))
      .filter(col("sim") >= 0.8)
      .orderBy("a", "b")
  }

  val dEditDistSql: String =
    s"""WITH ${Text.ToksSh3Sql},
       |b AS (SELECT doc_id,
       |  list_min(list_transform(sh, x -> md5(x))) AS blk
       |  FROM sh3 WHERE len(sh) > 0),
       |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM b x JOIN b y ON x.blk = y.blk AND x.doc_id < y.doc_id),
       |sc AS (SELECT c.a, c.b, levenshtein(da.text, db.text) AS dist,
       |    GREATEST(length(da.text), length(db.text)) AS mx
       |  FROM cand c
       |  JOIN documents da ON c.a = da.doc_id
       |  JOIN documents db ON c.b = db.doc_id)
       |SELECT a, b, CAST(dist AS INT) AS dist,
       |  round(1.0 - CAST(dist AS DOUBLE) / mx, 6) AS sim
       |FROM sc WHERE round(1.0 - CAST(dist AS DOUBLE) / mx, 6) >= 0.8
       |ORDER BY a, b""".stripMargin

  val dJaccardSql: String =
    s"""WITH ${Text.ToksSh3Sql},
       |b AS (SELECT doc_id, sh,
       |  list_min(list_transform(sh, x -> md5(x))) AS blk
       |  FROM sh3 WHERE len(sh) > 0),
       |pairs AS (SELECT x.doc_id AS a, y.doc_id AS b,
       |    len(list_intersect(x.sh, y.sh)) AS inter,
       |    len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)) AS uni
       |  FROM b x JOIN b y ON x.blk = y.blk AND x.doc_id < y.doc_id)
       |SELECT DISTINCT a, b, CAST(inter AS BIGINT) AS inter,
       |  round(CAST(inter AS DOUBLE) / uni, 6) AS jac
       |FROM pairs
       |WHERE round(CAST(inter AS DOUBLE) / uni, 6) >= 0.6
       |ORDER BY a, b""".stripMargin

  // -------------------------------------- embedding cosine near-dup
  /** Blocked cosine near-dup over embeddings: block on (label, quantized
    * first component) — a deliberate approximate-blocking scheme both
    * engines compute identically — then exact cosine within blocks.
    * TWO probe grids (multi-probe blocking): bkt1 = floor(x·10) and the
    * half-cell-shifted bkt2 = floor(x·10 + 0.5). A pair straddling a
    * bkt1 cell boundary but within 0.05 of it shares a bkt2 cell, so
    * single-grid boundary misses are recovered for one extra map-side
    * probe row per vector; pairs found by both probes are deduped
    * after the (deterministic, round-6) cosine.
    */
  def dEmbeddingNearDup(s: SparkSession, d: String): DataFrame =
    embeddingNearDup(s, Tables.embeddings(s, d))

  /** Core of [[dEmbeddingNearDup]] over any (vec_id, label, embedding)
    * frame — package-private so the boundary-straddle property test can
    * inject synthetic vectors.
    */
  private[graft] def embeddingNearDup(s: SparkSession, emb0: DataFrame): DataFrame = {
    val x10 = element_at(col("embedding"), 1).cast("double") * 10
    val emb = emb0.select(
      col("vec_id"), col("label"), col("embedding"),
      graft.functions.Vectors.norm(col("embedding")).as("nrm"),
      floor(x10).cast("int").as("bkt1"),
      floor(x10 + 0.5).cast("int").as("bkt2"))
      // the repartition exchange is reused by both join sides (verified
      // in the final adaptive plan: side b is a ReusedExchange), so the
      // SCAN+SHUFFLE runs once. Catalyst pushes the norm/bucket
      // projection ABOVE the exchange into each side, so that per-row
      // map runs twice — accepted: recomputing a 64-float dot per row
      // is cheaper at any scale than materializing the vectors
      .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
    val probed = emb.select(col("vec_id"), col("label"), col("embedding"), col("nrm"),
        explode(array(struct(lit(1).as("p"), col("bkt1").as("bkt")),
                      struct(lit(2).as("p"), col("bkt2").as("bkt")))).as("pb"))
      .select(col("vec_id"), col("label"), col("embedding"), col("nrm"),
        col("pb.p").as("p"), col("pb.bkt").as("bkt"))
    val a = probed.toDF("a_id", "label", "a_emb", "a_nrm", "p", "bkt")
    val b = probed.toDF("b_id", "label", "b_emb", "b_nrm", "p", "bkt")
    val dot = graft.functions.Vectors.dot(col("a_emb"), col("b_emb"))
    a.join(b, Seq("label", "p", "bkt")).filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        round(dot / (col("a_nrm") * col("b_nrm")), 6).as("cos"))
      .filter(col("cos") >= 0.25)
      .distinct()
      .orderBy("a_id", "b_id")
  }

  val dEmbeddingNearDupSql: String =
    """WITH n AS (SELECT vec_id, label, embedding,
      |  sqrt(list_reduce(list_transform(embedding,
      |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, x) -> a + x)) AS nrm,
      |  CAST(floor(CAST(embedding[1] AS DOUBLE) * 10) AS INT) AS bkt1,
      |  CAST(floor(CAST(embedding[1] AS DOUBLE) * 10 + 0.5) AS INT) AS bkt2
      |FROM embeddings),
      |cand AS (
      |  SELECT a.vec_id AS a_id, b.vec_id AS b_id
      |  FROM n a JOIN n b ON a.label = b.label AND a.bkt1 = b.bkt1
      |    AND a.vec_id < b.vec_id
      |  UNION
      |  SELECT a.vec_id AS a_id, b.vec_id AS b_id
      |  FROM n a JOIN n b ON a.label = b.label AND a.bkt2 = b.bkt2
      |    AND a.vec_id < b.vec_id)
      |SELECT a_id, b_id,
      |  round(list_reduce(list_transform(range(1, 65),
      |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
      |      (x, y) -> x + y) / (a.nrm * b.nrm), 6) AS cos
      |FROM cand JOIN n a ON a.vec_id = a_id JOIN n b ON b.vec_id = b_id
      |WHERE round(list_reduce(list_transform(range(1, 65),
      |    i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
      |    (x, y) -> x + y) / (a.nrm * b.nrm), 6) >= 0.25
      |ORDER BY a_id, b_id""".stripMargin

  // --------------------------------------------------- SimHash64 native
  /** 64-bit SimHash via the native codegen'd expression
    * (graft.plans.SimHash64Expr): md5 per token, 64 majority counters,
    * hex sketch — one per-row map, NO shuffle. The original
    * explode-per-token + typed-Aggregator formulation (now the test
    * reference `graft.SimHash64`, pinned bit-identical to this
    * expression in SimHashExprSpec) paid an ExpressionEncoder
    * round-trip of a 64-int buffer per token row plus a doc_id
    * shuffle: 7.5 s at sf0.1 for what is algebraically a per-document
    * scalar. The `size(toks) >= 1` filter keeps the explode+groupBy row set
    * (token-less docs are absent there). Oracle unchanged: 64
    * SUM(CASE) bit counters over the same md5 bits.
    */
  def dSimhash64(s: SparkSession, d: String): DataFrame = {
    val toks = Text.tokens(col("text"))
    Tables.documents(s, d)
      .select(col("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) >= 1)
      .select(col("doc_id"),
        org.apache.spark.sql.graft.GraftSql.simHash64(col("toks")).as("simhash64"))
      .orderBy("doc_id")
  }

  /** Oracle: 64 SUM(CASE) bit counters over md5 hex digits, reassembled
    * into the same 16-char hex sketch. Hex digit d of the hash carries
    * bits 4d..4d+3 (MSB first); the IN-sets below are the hex characters
    * with that bit set.
    */
  val dSimhash64Sql: String = {
    val bitSets = Seq(
      "('8','9','a','b','c','d','e','f')", // value & 8
      "('4','5','6','7','c','d','e','f')", // value & 4
      "('2','3','6','7','a','b','e','f')", // value & 2
      "('1','3','5','7','9','b','d','f')") // value & 1
    val sums = (0 until 64).map { j =>
      s"SUM(CASE WHEN substr(h, ${j / 4 + 1}, 1) IN ${bitSets(j % 4)} THEN 1 ELSE -1 END) AS s$j"
    }.mkString(",\n    ")
    val digits = (0 until 16).map { d =>
      val v = (0 until 4).map(b => s"CASE WHEN s${d * 4 + b} > 0 THEN ${8 >> b} ELSE 0 END")
        .mkString(" + ")
      s"substr('0123456789abcdef', ($v) + 1, 1)"
    }.mkString(" ||\n    ")
    s"""WITH w AS (SELECT doc_id, unnest(${Text.ToksSql}) AS word FROM documents),
       |h AS (SELECT doc_id, md5(word) AS h FROM w),
       |s AS (SELECT doc_id,
       |    $sums
       |  FROM h GROUP BY doc_id)
       |SELECT doc_id,
       |    $digits AS simhash64
       |FROM s ORDER BY doc_id""".stripMargin
  }

  // ----------------------------------------------- near-dup clustering
  /** 1-hop min-label assignment over the LSH pair graph: every doc in a
    * candidate pair gets `cluster = min(doc_id over its 1-hop
    * neighborhood ∪ itself)` — the FIRST superstep of min-label
    * propagation, which fully labels clique components (mutually
    * near-identical groups, where every pair collides in some band).
    * Thresholded LSH can also produce chain components (a~b, b~c,
    * a≁c); there this column is exactly the 1-hop minimum, NOT a
    * connected-component id — two docs of one chain may carry
    * different labels. Full components need the iterated propagation,
    * which at scale runs as an EXTERNAL loop with persisted frontiers
    * — an inline foldLeft of joins re-evaluates the pair subplan
    * exponentially. The symmetric edge list is built with one explode
    * so the (expensive) pair subplan is referenced exactly once.
    */
  def dCluster(s: SparkSession, d: String): DataFrame = {
    val p = minhashLshPairs(s, d).select(col("a"), col("b"))
    val sym = p.select(explode(array(
        struct(col("a").as("id"), col("b").as("nbr")),
        struct(col("b").as("id"), col("a").as("nbr")))).as("e"))
      .select(col("e.id").as("id"), col("e.nbr").as("nbr"))
    sym.groupBy("id")
      .agg(min(least(col("id"), col("nbr"))).as("cluster"),
           count(lit(1)).as("degree"))
      .orderBy("id")
  }

  val dClusterSql: String =
    s"""WITH p AS ($dMinhashLshSql),
       |sym AS (SELECT a AS id, b AS nbr FROM p
       |        UNION ALL SELECT b AS id, a AS nbr FROM p)
       |SELECT id, MIN(LEAST(id, nbr)) AS cluster, COUNT(*) AS degree
       |FROM sym GROUP BY id ORDER BY id""".stripMargin

  private def pin(df: DataFrame): DataFrame = Materialize.pin(df)

  /** Full connected components over an undirected pair graph by
    * iterated min-label propagation — the external-loop companion to
    * [[dCluster]] for chain-shaped components. Each superstep joins the
    * frontier labels across edges and keeps the per-node minimum;
    * frontiers are materialized with [[pin]] — persist alone caches
    * data but leaves the LOGICAL plan growing exponentially with
    * iterations (union+join nesting doubles per superstep until even
    * planning OOMs); checkpointing truncates the lineage so every
    * superstep plans against a flat scan. On a cluster with a
    * checkpoint dir set, frontiers go to reliable storage (survives
    * executor loss); without one they are executor-local. The loop
    * stops at a fixpoint (no label changed) or maxIters — the
    * GraphX-style pattern in pure DataFrames. Registered as the
    * oracle-checked `d_components` (recursive-CTE min-label oracle);
    * also exercised by DedupSpec on chains and cliques.
    *
    * Input: columns `a`, `b` (an unordered pair per row).
    * Output: (id, component) with component = min id reachable. The
    * returned frame is checkpoint-pinned (so callers can consume it
    * without recompute); pins are registered per session, and
    * `Materialize.releaseAll(spark)` (called by Verify/Bench after
    * each query's action) drops them — or call `.unpersist()`
    * directly when done. Label propagation needs ~diameter
    * supersteps; if `maxIters` is hit before the fixpoint the labels
    * of deep-chain components would be 1..maxIters-hop minima, NOT
    * component ids — silently wrong for every consumer (and a hash
    * mismatch against the exact-fixpoint oracle), so `strict` (the
    * default) fails the job instead, matching the engine's fail-fast
    * convention. Pass strict=false only for exploratory runs that
    * tolerate partial labels (a warning is still printed).
    */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 20,
                          strict: Boolean = true): DataFrame = {
    // single reference of the (possibly expensive) pair subplan — the
    // same explode pattern as dCluster
    val sym = pin(pairs.select(explode(array(
        struct(col("a").cast("long").as("id"), col("b").cast("long").as("nbr")),
        struct(col("b").cast("long").as("id"), col("a").cast("long").as("nbr")))).as("e"))
      .select(col("e.id").as("id"), col("e.nbr").as("nbr")))
    var labels = pin(sym.groupBy("id")
      .agg(min(least(col("id"), col("nbr"))).as("component")))
    var it = 0
    var converged = false
    while (!converged && it < maxIters) {
      val viaEdges = sym.join(
          labels.select(col("id").as("nbr"), col("component")), "nbr")
        .select(col("id"), col("component"))
      val next = pin(labels.select(col("id"), col("component")).union(viaEdges)
        .groupBy("id").agg(min(col("component")).as("component")))
      val changed = next
        .join(labels.select(col("id"), col("component").as("prev")), "id")
        .filter(col("component") =!= col("prev")).limit(1).count()
      labels.unpersist()
      labels = next
      converged = changed == 0
      it += 1
    }
    if (!converged) {
      val msg = s"[connectedComponents] NOT converged after $maxIters supersteps — " +
        "labels of deep-chain components are partial minima, not component ids"
      if (strict) { sym.unpersist(); labels.unpersist()
        throw new IllegalStateException(msg + " (pass strict=false to accept)") }
      System.err.println(msg)
    }
    sym.unpersist()
    labels
  }

  /** Driver-checked full connected components over the LSH pair graph.
    * The superstep budget (64) is deliberately GENEROUS: each superstep
    * already computes a cheap `changed` count and exits at the
    * fixpoint, so on well-behaved data the extra budget costs nothing,
    * while a tight budget (12, the previous value — a guess pinned
    * only by fixture-scale tests) would turn any corpus whose pair
    * graph has a chain of diameter > budget into a strict-mode runtime
    * failure. A CONVERGED run's labels are exact component minima
    * independent of the budget — which is what makes a deterministic
    * oracle possible: the DuckDB side computes the same fixpoint via a
    * recursive transitive-closure CTE. This is the chain-safe
    * companion to [[dCluster]]: on a chain a–b–c the 1-hop label
    * differs per node, the component label does not.
    */
  def dComponents(s: SparkSession, d: String): DataFrame =
    connectedComponents(minhashLshPairs(s, d).select(col("a"), col("b")), maxIters = 64)
      .orderBy("id")

  val dComponentsSql: String =
    s"""WITH RECURSIVE p AS ($dMinhashLshSql),
       |sym AS (SELECT a AS id, b AS nbr FROM p
       |        UNION ALL SELECT b AS id, a AS nbr FROM p),
       |reach(id, r) AS (
       |  SELECT id, id AS r FROM (SELECT DISTINCT id FROM sym) t
       |  UNION
       |  SELECT s.id, reach.r FROM sym s JOIN reach ON s.nbr = reach.id)
       |SELECT id, MIN(r) AS component FROM reach GROUP BY id ORDER BY id""".stripMargin

  // ----------------------------------------------------- PageRank
  val PrIters = 3
  val PrDamping = 0.85

  /** PageRank over an undirected pair graph (symmetrized edges, so no
    * dangling nodes: every node that appears has degree ≥ 1) — the
    * centrality companion to [[connectedComponents]]: within a near-dup
    * cluster it ranks the most-connected (most-duplicated) documents,
    * the natural keeper-selection / review-priority signal. Fixed
    * [[PrIters]] supersteps over a [[pin]]ned edge list; the frontier
    * stays lazy — see the loop comment for why this inverts the CC
    * loop's checkpoint-per-superstep choice.
    *
    * Cross-engine determinism: the per-edge contribution pr(u)/deg(u)
    * is a single double division, QUANTIZED to decimal(28,14) before
    * the per-node sum — decimal sums are exact and order-free, so the
    * shuffle's reduction order (the classic float-sum
    * nondeterminism) can't reach the result; the damping update is
    * then the identical (divide, multiply, add) double sequence on
    * both engines. The oracle unrolls the same [[PrIters]] iterations
    * as chained CTEs (recursive CTEs can't aggregate in the recursive
    * term).
    *
    * Scale shape per superstep: one join of edges against the pr
    * frontier (both keyed by node id) + one exchange for the per-node
    * sum — the standard distributed PageRank; frontier size is nodes,
    * never edges², and the pinned frontier keeps the plan flat across
    * supersteps.
    */
  def pageRank(pairs: DataFrame, iters: Int = PrIters): DataFrame = {
    val sym = pin(pairs.select(explode(array(
        struct(col("a").cast("long").as("id"), col("b").cast("long").as("nbr")),
        struct(col("b").cast("long").as("id"), col("a").cast("long").as("nbr")))).as("e"))
      .select(col("e.id").as("id"), col("e.nbr").as("nbr")))
    val deg = sym.groupBy("id").agg(count(lit(1)).as("deg"))
    // one driver-side scalar (node count) seeds the teleport term —
    // the same count() the CC loop pays per superstep for convergence;
    // it also materializes the sym pin, so everything below reads the
    // flat checkpointed edge list
    val n = deg.count().toDouble
    // UNLIKE the CC loop, supersteps here stay LAZY: the iteration
    // count is a small constant, so the plan nests only `iters` join+agg
    // layers over the pinned leaf — no exponential lineage to truncate,
    // and skipping the per-superstep checkpoint saves one full
    // materialization job each (measured 10.9 s → mostly pin overhead
    // on a graph whose frontier is thousands of rows)
    var pr = deg.select(col("id"), col("deg"), lit(1.0 / n).as("pr"))
    for (_ <- 1 to iters) {
      val contrib = sym
        .join(pr.select(col("id").as("nbr"), col("deg").as("ndeg"), col("pr").as("npr")),
          "nbr")
        .select(col("id"), (col("npr") / col("ndeg")).cast("decimal(28,14)").as("c"))
      pr = contrib.groupBy("id")
        .agg(sum(col("c")).as("s"))
        .join(deg, "id")
        .select(col("id"), col("deg"),
          (lit(0.15 / n) + lit(PrDamping) * col("s").cast("double")).as("pr"))
    }
    pr.select(col("id"), round(col("pr"), 6).as("pr"))
  }

  /** Driver-checked PageRank over the LSH near-dup pair graph. */
  def dPagerank(s: SparkSession, d: String): DataFrame =
    pageRank(minhashLshPairs(s, d).select(col("a"), col("b")))
      .orderBy("id")

  lazy val dPagerankSql: String = {
    val step = (k: Int) =>
      s"""pr$k AS (SELECT s.id, d.deg,
         |  0.15 / (SELECT n FROM n) + $PrDamping *
         |    CAST(SUM(CAST(p.pr / p.deg AS DECIMAL(28,14))) AS DOUBLE) AS pr
         |  FROM sym s JOIN pr${k - 1} p ON s.nbr = p.id JOIN deg d ON d.id = s.id
         |  GROUP BY s.id, d.deg)"""
    s"""WITH p AS ($dMinhashLshSql),
       |sym AS (SELECT a AS id, b AS nbr FROM p
       |        UNION ALL SELECT b AS id, a AS nbr FROM p),
       |deg AS (SELECT id, COUNT(*) AS deg FROM sym GROUP BY 1),
       |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM deg),
       |pr0 AS (SELECT id, deg, 1.0 / (SELECT n FROM n) AS pr FROM deg),
       |${(1 to PrIters).map(step).mkString(",\n")}
       |SELECT id, round(pr, 6) AS pr FROM pr$PrIters ORDER BY id""".stripMargin
  }

  // ------------------------------------------------------ triangles
  /** Per-node triangle counts and local clustering coefficient over
    * the near-dup pair graph — completes the graph family (degree →
    * components → PageRank → triangles): a high coefficient marks
    * tight mutual-duplicate cliques (template families), a low one
    * marks chain-like drift. Standard oriented wedge join: edges are
    * kept as a<b, wedges (a<b, b<c) probe for the closing edge (a,c),
    * so each triangle is found exactly once; per-node counts explode
    * the 3 corners and the coefficient is 2T / (deg·(deg−1)) — exact
    * integers, one double division. Nodes in no triangle keep a row
    * (left join) with coefficient 0.
    *
    * Scale: the wedge join is the canonical distributed triangle
    * count; orienting by id bounds nothing by itself — at real scale
    * orient by (degree, id) so every wedge pivots on its
    * LOWEST-degree corner, which caps wedge fanout at the degeneracy
    * (the standard trick; id-orientation keeps the oracle simple at
    * fixture scale and the join SHAPE is identical).
    */
  def dTriangles(s: SparkSession, d: String): DataFrame =
    triangles(minhashLshPairs(s, d).select(col("a"), col("b")))

  /** Core of [[dTriangles]] over any (a, b) pair frame with a < b —
    * package-private so DedupSpec can drive constructed graphs.
    */
  private[graft] def triangles(pairs: DataFrame): DataFrame = {
    val e = pin(pairs)
    val deg = e.select(explode(array(col("a"), col("b"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    val tri = e.join(e.toDF("b", "c"), "b")
      .join(e.toDF("a", "c"), Seq("a", "c"))
    val triCnt = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("triangles"))
    deg.join(triCnt, Seq("id"), "left")
      .select(col("id"), col("deg"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        when(col("deg") >= 2,
          round(coalesce(col("triangles"), lit(0L)).cast("double") * 2 /
            (col("deg").cast("double") * (col("deg") - 1)), 6))
          .otherwise(0.0).as("clustering"))
      .orderBy("id")
  }

  lazy val dTrianglesSql: String =
    s"""WITH p AS ($dMinhashLshSql),
       |e AS (SELECT a, b FROM p),
       |deg AS (SELECT id, COUNT(*) AS deg FROM (
       |  SELECT a AS id FROM e UNION ALL SELECT b AS id FROM e) t GROUP BY 1),
       |tri AS (SELECT w.a, w.b, w.c
       |  FROM (SELECT e1.a, e1.b, e2.b AS c FROM e e1
       |        JOIN e e2 ON e2.a = e1.b) w
       |  JOIN e e3 ON e3.a = w.a AND e3.b = w.c),
       |tc AS (SELECT id, COUNT(*) AS triangles FROM (
       |  SELECT a AS id FROM tri UNION ALL SELECT b AS id FROM tri
       |  UNION ALL SELECT c AS id FROM tri) t GROUP BY 1)
       |SELECT deg.id, deg.deg, COALESCE(tc.triangles, 0) AS triangles,
       |  CASE WHEN deg.deg >= 2 THEN
       |    round(CAST(COALESCE(tc.triangles, 0) AS DOUBLE) * 2 /
       |      (CAST(deg.deg AS DOUBLE) * (deg.deg - 1)), 6)
       |  ELSE 0.0 END AS clustering
       |FROM deg LEFT JOIN tc ON tc.id = deg.id
       |ORDER BY deg.id""".stripMargin

  // ------------------------------------------- duplicate substrings
  /** Token length of the duplicated-substring unit — 13 grams, the
    * decontamination-literature span (matches [[Curation.DecontamN]]).
    */
  val SubstrN = 13

  /** Duplicate-substring detection (the span-level dedup of
    * "Deduplicating Training Data Makes Language Models Better"):
    * per document, the maximal CONTIGUOUS token ranges covered by
    * corpus-duplicated 13-grams — the memorization-prone boilerplate
    * that document-level near-dup misses (licenses, headers, templates
    * embedded in otherwise-unique docs). PRECISE SEMANTICS: a span is
    * the union of the token coverage of grams occurring ≥ 2 times
    * corpus-wide; it is NOT a guarantee that the whole span (or every
    * sub-gram inside it) repeats — two different duplicated grams
    * whose coverage merely touches merge into one flagged range, the
    * standard over-approximation pipelines review or trim against.
    * Output: one row per flagged range (doc, 1-based start token,
    * token length, #duplicated grams covering it).
    *
    * Shape: grams explode with their positions, duplication is a
    * window count over the gram key — the exploded subplan is
    * evaluated ONCE (a groupBy+join formulation would run the
    * tokenize+explode once per join side), and the same hash(gram)
    * exchange carries the count. Surviving (doc, pos) rows are merged
    * into maximal spans with one gaps-and-islands pass per doc
    * (consecutive duplicated grams at distance ≤ 13 overlap or
    * adjoin). Only (gram, doc_id, pos) rows ever shuffle — grams as
    * text here to stay oracle-exact; at 100 TB the key becomes an
    * 8-byte gram hash (the [[graft.plans.ShingleHashSet]] treatment)
    * and the span logic is unchanged.
    */
  def dSubstring(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = Tables.documents(s, d)
      .select(col("doc_id"),
        posexplode(Text.shingles(Text.tokens(col("text")), SubstrN))
          .as(Seq("pos0", "gram")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("gram"))
    val dup = grams
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("gram")))
      .filter(col("cnt") >= 2)
      .select(col("doc_id"), col("pos"))
    val wDoc = Window.partitionBy("doc_id").orderBy("pos")
    val wRun = wDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dup
      .withColumn("ni",
        // sentinel −9999 (not Long.MinValue: pos − MinValue overflows)
        // makes the first row of every doc open an island
        when(col("pos") - coalesce(lag(col("pos"), 1).over(wDoc),
          lit(-9999L)) > SubstrN, 1).otherwise(0))
      .withColumn("island", sum(col("ni")).over(wRun))
      .groupBy("doc_id", "island")
      .agg(min(col("pos")).cast("int").as("span_start"),
        (max(col("pos")) + SubstrN - min(col("pos"))).cast("int").as("span_len"),
        count(lit(1)).as("n_grams"))
      .select("doc_id", "span_start", "span_len", "n_grams")
      .orderBy("doc_id", "span_start")
  }

  val dSubstringSql: String = {
    val n = SubstrN
    val gram = Text.gramConcatSql("toks", "pos", n)
    s"""WITH t AS (SELECT doc_id, ${Text.ToksSql} AS toks FROM documents),
       |g AS (SELECT doc_id, toks,
       |  unnest(range(1, len(toks) - ${n - 2})) AS pos FROM t),
       |g2 AS (SELECT doc_id, pos, $gram AS gram FROM g),
       |c AS (SELECT doc_id, pos,
       |  COUNT(*) OVER (PARTITION BY gram) AS cnt FROM g2),
       |f AS (SELECT doc_id, pos FROM c WHERE cnt >= 2),
       |i AS (SELECT doc_id, pos, CASE WHEN pos - COALESCE(
       |    lag(pos) OVER (PARTITION BY doc_id ORDER BY pos),
       |    -9999) > $n THEN 1 ELSE 0 END AS ni FROM f),
       |s AS (SELECT doc_id, pos, CAST(SUM(ni) OVER (PARTITION BY doc_id
       |  ORDER BY pos ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island FROM i)
       |SELECT doc_id, CAST(MIN(pos) AS INT) AS span_start,
       |  CAST(MAX(pos) + $n - MIN(pos) AS INT) AS span_len,
       |  COUNT(*) AS n_grams
       |FROM s GROUP BY doc_id, island
       |ORDER BY doc_id, span_start""".stripMargin
  }

  // ------------------------------------------------ detector evaluation
  /** Evaluation of the banded-MinHash near-dup detector against the
    * blocked exact-Jaccard pairs — the measurement a pipeline runs
    * before trusting LSH at scale (band/row counts are tuned against
    * THIS number, the same trust-but-verify role `s_recall` plays for
    * ANN): recall = how many exact near-dup pairs (jac ≥ 0.6) the
    * detector surfaces, precision = how many detector pairs clear the
    * exact bar (the est ≥ 0.5 threshold deliberately over-generates —
    * candidates are cheap, misses are not). Both inputs are the
    * separately hash-verified chains; this query is their join.
    * Evaluation-sized: pair sets, not corpora.
    */
  def dLshEval(s: SparkSession, d: String): DataFrame = {
    // Pin both pair sets before fanning into the three 1-row count
    // aggregates + the hit join — without the pin each expensive
    // upstream chain (shingle→minhash→band join / blocked exact
    // Jaccard) executes twice. Evaluation-sized, so the pin is cheap.
    val exact = Materialize.pin(jaccardVerified(s, d).select(col("a"), col("b")))
    val lsh = Materialize.pin(minhashLshPairs(s, d).select(col("a"), col("b")))
    // one full-outer join computes all three counts in a single pass:
    // each side's pairs are distinct, so a row's side-markers say
    // exactly which sets contain the pair — this replaces two 1-row
    // count jobs plus an inner hit-join (three extra scans of the pins)
    // with one aggregate. coalesce guards the empty-input case where
    // sum returns NULL but the old count returned 0.
    val rate = (n: Column, den: Column) =>
      when(den === 0, 0.0).otherwise(round(n.cast("double") / den, 6))
    exact.withColumn("e", lit(1L))
      .join(lsh.withColumn("l", lit(1L)), Seq("a", "b"), "full_outer")
      .agg(coalesce(sum(col("e")), lit(0L)).as("n_exact"),
        coalesce(sum(col("l")), lit(0L)).as("n_lsh"),
        coalesce(sum(when(col("e").isNotNull && col("l").isNotNull, 1L)
          .otherwise(0L)), lit(0L)).as("n_hit"))
      .select(col("n_exact"), col("n_lsh"), col("n_hit"),
        rate(col("n_hit"), col("n_exact")).as("recall"),
        rate(col("n_hit"), col("n_lsh")).as("precision"))
  }

  lazy val dLshEvalSql: String =
    s"""SELECT n_exact, n_lsh, n_hit,
       |  round(CASE WHEN n_exact = 0 THEN 0.0
       |    ELSE CAST(n_hit AS DOUBLE) / n_exact END, 6) AS recall,
       |  round(CASE WHEN n_lsh = 0 THEN 0.0
       |    ELSE CAST(n_hit AS DOUBLE) / n_lsh END, 6) AS precision
       |FROM (SELECT COUNT(*) AS n_exact FROM ($dJaccardSql))
       |CROSS JOIN (SELECT COUNT(*) AS n_lsh FROM ($dMinhashLshSql))
       |CROSS JOIN (SELECT COUNT(*) AS n_hit FROM
       |  (SELECT a, b FROM ($dJaccardSql)) e
       |  JOIN (SELECT a, b FROM ($dMinhashLshSql)) l USING (a, b))""".stripMargin

  // ------------------------------------------ asymmetric containment
  /** Asymmetric containment detection — the scheme [[dOverlap]]'s
    * scaladoc names as the exhaustive upgrade: find (A, B) pairs where
    * A's shingle set is (nearly) a SUBSET of B's, containment
    * = |sh(A) ∩ sh(B)| / |sh(A)| ≥ [[ContainmentThreshold]]. The
    * symmetric min-shingle blocking surfaces a pair only with
    * probability = Jaccard, which vanishes for a tiny doc inside a
    * huge one; here A blocks on ITS OWN min shingle and probes an
    * inverted index over ALL of B's shingles — so a fully-contained A
    * (its min shingle necessarily lives in B) is found with
    * probability 1, and a c-contained A with probability c (the min is
    * uniform over sh(A)). That is the quote-detection / template-
    * extraction recall contract lexical near-dup misses.
    *
    * Scale shape: the probe index is a (shingle-hash, doc) posting
    * join — both sides hash-partition on the shingle key, the classic
    * inverted-index shuffle bounded by corpus token count (the same
    * budget as `t_inverted_index`), and only A's single min per doc
    * enters from the left. Shingle-key skew (a boilerplate shingle
    * that is min for many As and present in many Bs) is a REQUIRED
    * output blowup, not an accident — AQE's skew-join split carries
    * it. Candidate pairs then pull the two hash sets by doc_id (texts
    * never ride the posting shuffle) for the exact merge-walk
    * intersect, same as [[dEditDist]]'s join-back.
    */
  val ContainmentThreshold = 0.9

  def dContainment(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
    val aSide = docs.select(col("doc_id").as("a_id"),
      org.apache.spark.sql.graft.GraftSql.shingleHashSet(col("toks"), 3).as("sha"),
      element_at(org.apache.spark.sql.graft.GraftSql.shingleMinHash(
        col("toks"), 3, Seq("")), 1).as("blk"))
      .filter(size(col("sha")) > 0)
    val posts = docs.select(col("doc_id").as("b_id"),
      explode(array_distinct(transform(Text.shingles(col("toks"), 3),
        x => md5(x.cast("binary"))))).as("h"))
    val pairs = aSide.select("a_id", "blk")
      .join(posts, col("blk") === col("h") && col("a_id") =!= col("b_id"))
      .select("a_id", "b_id").distinct()
    val shB = docs.select(col("doc_id").as("b_id"),
      org.apache.spark.sql.graft.GraftSql.shingleHashSet(col("toks"), 3).as("shb"))
    val inter = org.apache.spark.sql.graft.GraftSql
      .sortedIntersectCount(col("sha"), col("shb"))
    pairs
      .join(aSide.select("a_id", "sha"), "a_id")
      .join(shB, "b_id")
      .select(col("a_id"), col("b_id"), size(col("sha")).cast("bigint").as("n_a"),
        inter.cast("bigint").as("inter"))
      .withColumn("containment", round(col("inter").cast("double") / col("n_a"), 6))
      .filter(col("containment") >= ContainmentThreshold)
      .select("a_id", "b_id", "n_a", "inter", "containment")
      .orderBy("a_id", "b_id")
  }

  val dContainmentSql: String =
    s"""WITH ${Text.ToksSh3Sql},
       |a AS (SELECT doc_id AS a_id, sh,
       |    list_min(list_transform(sh, x -> md5(x))) AS blk
       |  FROM sh3 WHERE len(sh) > 0),
       |post AS (SELECT doc_id AS b_id, md5(u.s) AS h FROM sh3, unnest(sh) u(s)),
       |pairs AS (SELECT DISTINCT a.a_id, p.b_id
       |  FROM a JOIN post p ON a.blk = p.h AND a.a_id <> p.b_id),
       |sc AS (SELECT pr.a_id, pr.b_id,
       |    CAST(len(x.sh) AS BIGINT) AS n_a,
       |    CAST(len(list_intersect(x.sh, y.sh)) AS BIGINT) AS inter
       |  FROM pairs pr JOIN a x ON x.a_id = pr.a_id JOIN sh3 y ON y.doc_id = pr.b_id)
       |SELECT a_id, b_id, n_a, inter,
       |  round(CAST(inter AS DOUBLE) / n_a, 6) AS containment
       |FROM sc WHERE round(CAST(inter AS DOUBLE) / n_a, 6) >= $ContainmentThreshold
       |ORDER BY a_id, b_id""".stripMargin

  // --------------------------------------------- dedup impact report
  /** Per-source dedup impact — the before/after table a curation run
    * publishes next to its datacard: how many documents each source
    * loses to exact dedup (non-keeper members of an md5 group, the
    * [[dExact]] convention) and to near-dup removal (the greater id of
    * every [[dMinhashLsh]] pair ≥ 0.5 — the same victim rule as
    * SemDeDup), plus the distinct union and the kept fraction. Sources
    * whose kept-fraction is an outlier are where template spam or
    * mirror crawls live — this table is how that gets seen.
    *
    * Scale shape: pays the two upstream chains by definition (both
    * verified independently); on top of them only doc_id-keyed
    * semi-join-sized sets and a source-bounded aggregation move.
    */
  def pDedupReport(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), md5(col("text").cast("binary")).as("fp"))
    val keepers = docs.groupBy("fp").agg(min(col("doc_id")).as("keeper"))
    val exactV = docs.join(keepers, "fp")
      .filter(col("doc_id") =!= col("keeper"))
      .select(col("doc_id")).withColumn("ex", lit(1))
    val nearV = minhashLshPairs(s, d)
      .select(col("b").as("doc_id")).distinct().withColumn("nr", lit(1))
    docs
      .join(exactV, Seq("doc_id"), "left")
      .join(nearV, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("ex").isNotNull, 1L).otherwise(0L)).as("n_exact"),
        sum(when(col("nr").isNotNull, 1L).otherwise(0L)).as("n_near"),
        sum(when(col("ex").isNotNull || col("nr").isNotNull, 1L).otherwise(0L))
          .as("n_removed"))
      .select(col("source"), col("n_docs"), col("n_exact"), col("n_near"),
        col("n_removed"),
        round((col("n_docs") - col("n_removed")).cast("double") / col("n_docs"), 6)
          .as("pct_kept"))
      .orderBy("source")
  }

  val pDedupReportSql: String =
    s"""WITH docs AS (SELECT doc_id, source, md5(text) AS fp FROM documents),
       |keepers AS (SELECT fp, MIN(doc_id) AS keeper FROM docs GROUP BY 1),
       |exact_v AS (SELECT doc_id FROM docs JOIN keepers USING (fp)
       |  WHERE doc_id <> keeper),
       |near_v AS (SELECT DISTINCT b AS doc_id FROM (
       |  ${dMinhashLshSql.replace("ORDER BY a, b", "")})),
       |flagged AS (SELECT d.source,
       |    CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END AS ex,
       |    CASE WHEN n.doc_id IS NOT NULL THEN 1 ELSE 0 END AS nr
       |  FROM docs d
       |  LEFT JOIN exact_v e ON d.doc_id = e.doc_id
       |  LEFT JOIN near_v n ON d.doc_id = n.doc_id)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(ex) AS BIGINT) AS n_exact,
       |  CAST(SUM(nr) AS BIGINT) AS n_near,
       |  CAST(SUM(CASE WHEN ex = 1 OR nr = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_removed,
       |  round(CAST(COUNT(*) - SUM(CASE WHEN ex = 1 OR nr = 1 THEN 1 ELSE 0 END)
       |    AS DOUBLE) / COUNT(*), 6) AS pct_kept
       |FROM flagged GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------------------ duplication curve
  /** N-gram duplication curve — the measurement a dedup strategy is
    * CHOSEN from: for n ∈ {1, 2, 3, 5, 8}, the corpus-wide n-gram
    * instance count, the distinct count, and the duplication rate
    * 1 − distinct/total. Short grams always repeat (vocabulary
    * effects); where the curve stays high at LONG n is where literal
    * copying lives — that knee picks the shingle width for
    * [[dJaccard]]/[[dMinhashLsh]] and decides whether substring-level
    * dedup ([[dSubstring]]) is worth running at all.
    *
    * Scale shape: each n is one explode → gram-keyed count-distinct
    * (partial-aggregated both stages); the five gram widths union as
    * independent subplans — at 100 TB run them as one pass with a
    * posexploded n column if scan cost dominates; here the scans are
    * the cheap part and separate subplans keep each distinct's
    * shuffle keyed narrowly. Integers until the final ratio.
    */
  def dDupCurve(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .withColumn("toks", graft.functions.Text.tokens(col("text")))
    // ONE corpus pass for all five widths (the scaladoc's own 100 TB
    // advice, now the shipped shape): tokenize once, tag every gram
    // with its width, and fold COUNT DISTINCT into the standard
    // two-level aggregate — groupBy (n, gram) count, then groupBy n.
    // 5 independent subplans (5 tokenize passes, 10 exchanges, 5
    // single-partition finals) become one explode + 2 exchanges;
    // per-width results are identical because the tagged gram sets are
    // disjoint unions of the per-width gram streams.
    val widths = Seq(1, 2, 3, 5, 8)
    val perWidth = docs.select(explode(flatten(array(widths.map { n =>
        transform(graft.functions.Text.shingles(col("toks"), n),
          g => struct(lit(n).as("n"), g.as("g")))
      }: _*))).as("ng"))
      .groupBy(col("ng.n").as("n"), col("ng.g").as("g"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("n"))
      .agg(sum(col("c")).as("total"), count(lit(1)).as("n_distinct"))
    // a width with ZERO grams corpus-wide must still emit its row
    // (total 0, n_distinct 0, null rate) exactly like the old per-arm
    // agg-over-empty and the oracle's UNION ALL do — right-join the
    // 5-row width list back in
    val widthRows = s.range(1).select(explode(
      array(widths.map(n => lit(n)): _*)).as("n"))
    widthRows.join(broadcast(perWidth), Seq("n"), "left")
      .select(col("n"),
        coalesce(col("total"), lit(0L)).as("total"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"))
      .select(col("n"), col("total"), col("n_distinct"),
        round(lit(1.0) - col("n_distinct").cast("double") / col("total"), 6)
          .as("dup_rate"))
      .orderBy("n")
  }

  val dDupCurveSql: String = {
    def gramExpr(n: Int): String =
      if (n == 1) "unnest(toks) AS g"
      else {
        val parts = (0 until n).map(k => s"toks[i+$k]").mkString(" || ' ' || ")
        s"unnest(list_transform(range(1, len(toks) - ${n - 2}), i -> $parts)) AS g"
      }
    val blocks = Seq(1, 2, 3, 5, 8).map { n =>
      s"""SELECT $n AS n, COUNT(*) AS total,
         |  COUNT(DISTINCT g) AS n_distinct,
         |  round(1.0 - CAST(COUNT(DISTINCT g) AS DOUBLE) / COUNT(*), 6)
         |    AS dup_rate
         |FROM (SELECT ${gramExpr(n)} FROM t WHERE len(toks) >= $n)""".stripMargin
    }
    s"""WITH t AS (SELECT doc_id, ${graft.functions.Text.ToksSql} AS toks
       |  FROM documents)
       |${blocks.mkString("\n", "\nUNION ALL\n", "\n")}ORDER BY n""".stripMargin
  }

  // --------------------------------------------- threshold curve
  /** Near-dup THRESHOLD tuning curve — the pair-count histogram by
    * Jaccard decile over the blocked candidate pairs: how many pairs
    * would a 0.5 / 0.6 / 0.7 / 0.8 cut remove? [[dJaccard]] applies
    * one threshold; this shows what every threshold would do, which
    * is how the 0.6 was (and should be) chosen. Bucket b counts pairs
    * with jac ∈ [b/10, (b+1)/10) — computed as the INTEGER floor
    * (10·inter) div union, so bucket edges are exact on both engines
    * (no float bucketing). Recall caveat inherited from the blocking:
    * pairs sharing no min-shingle block are unscored, which is the
    * same contract dJaccard states.
    *
    * Scale shape: exactly the [[jaccardPairs]] plan (hash-shingle
    * merge-walks inside salt-bounded blocks) plus an 11-key histogram
    * with map-side collapse.
    */
  def dThresholdCurve(s: SparkSession, d: String): DataFrame =
    sizedShinglePairs(Tables.documents(s, d)
      .select(col("doc_id"), Text.tokens(col("text")).as("toks")))
      .select(col("a"), col("b"), col("inter"), col("nx"), col("ny"))
      .distinct()
      .select(expr("CAST((10 * inter) div (nx + ny - inter) AS BIGINT)")
        .as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_pairs"))
      .orderBy("bucket")

  val dThresholdCurveSql: String =
    s"""WITH ${Text.ToksSh3Sql},
       |b AS (SELECT doc_id, sh,
       |  list_min(list_transform(sh, x -> md5(x))) AS blk
       |  FROM sh3 WHERE len(sh) > 0),
       |pairs AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
       |    len(list_intersect(x.sh, y.sh)) AS inter,
       |    len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)) AS uni
       |  FROM b x JOIN b y ON x.blk = y.blk AND x.doc_id < y.doc_id)
       |SELECT CAST((10 * inter) // uni AS BIGINT) AS bucket,
       |  COUNT(*) AS n_pairs
       |FROM pairs GROUP BY 1 ORDER BY bucket""".stripMargin

  // --------------------------------------------- band-shape curve
  /** LSH band-shape design curve — recall AND precision of every
    * (bands × rows) factorization of the 12-component MinHash
    * signature against the blocked exact-Jaccard truth ([[dJaccard]],
    * ≥ 0.6): more bands = higher recall, more candidates (lower
    * precision); the S-curve knob every LSH deployment tunes.
    * [[dLshEval]] scores the shipped 4×3 point; this measures the
    * whole menu — (1,12), (2,6), (3,4), (4,3), (6,2) — so the choice
    * is a read-off, not a rerun. Candidates here are RAW band
    * collisions (no est_sim verification), isolating the banding's
    * own selectivity.
    *
    * Scale shape: signatures compute ONCE (the native codegen'd
    * shingle-MinHash fold) and pin; each config re-bands the pinned
    * K-column signatures (a per-row map + salt-bounded blockPairs),
    * and the truth set pins once. Counts are exact; recall/precision
    * are unrounded int/int quotients (FIXTURES §C).
    */
  def dBandCurve(s: SparkSession, d: String): DataFrame = {
    val truth = Materialize.pin(jaccardVerified(s, d).select(col("a"), col("b")))
    val nTruth = broadcast(truth.agg(count(lit(1)).as("n_truth")))
    val base = Tables.documents(s, d)
      .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
    val sigExpr = org.apache.spark.sql.graft.GraftSql.shingleMinHash(
      col("toks"), 3, (0 until MinhashK).map(j => s"$j|"))
    val configs = Seq((1, 12), (2, 6), (3, 4), (4, 3), (6, 2))
    // ONE pass for all five factorizations: every (config, band) bucket
    // is exploded from the one let-bound signature with the config
    // prefixed into the block key, so blockPairs sees the same
    // per-config block memberships as five separate runs (keys from
    // different configs can never collide), one shuffle instead of
    // five arms × (pin + two counting actions) of orchestration. The
    // per-config candidate sets — and therefore n_cand/n_hit — are
    // identical to the old sequential arms; a config with zero
    // candidates still emits its row via the right-join of the literal
    // config list, matching the old agg-over-empty and the oracle.
    val bandAll = element_at(transform(array(sigExpr), sig =>
      flatten(array(configs.map { case (bands, rows) =>
        transform(sequence(lit(0), lit(bands - 1)), b =>
          struct(lit(bands).as("bands"), lit(rows).as("rows_per_band"),
            concat(lit(s"$bands:$rows:"), b.cast("string"), lit("|"),
              md5(array_join(slice(sig, b * rows + 1, lit(rows)), "|")
                .cast("binary"))).as("bucket")))
      }: _*))), 1)
    val banded = base.select(col("doc_id"), explode(bandAll).as("bb"))
      .select(col("bb.bucket").as("blk"),
        struct(col("doc_id"), col("bb.bands").as("bands"),
          col("bb.rows_per_band").as("rows_per_band")).as("v"))
    val cand = blockPairs(banded)
      .select(col("x.bands").as("bands"), col("x.rows_per_band").as("rows_per_band"),
        least(col("x.doc_id"), col("y.doc_id")).as("a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("b"))
      .distinct()
    val perCfg = cand
      .join(broadcast(truth.withColumn("hit", lit(1))), Seq("a", "b"), "left")
      .groupBy(col("bands"), col("rows_per_band"))
      .agg(count(lit(1)).as("n_cand"),
        sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hit"))
    val cfgRows = s.range(1).select(explode(array(configs.map {
      case (bands, rows) => struct(lit(bands).as("bands"),
        lit(rows).as("rows_per_band"))
    }: _*)).as("c")).select(col("c.bands"), col("c.rows_per_band"))
    cfgRows.join(broadcast(perCfg), Seq("bands", "rows_per_band"), "left")
      .crossJoin(nTruth)
      .select(col("bands"), col("rows_per_band"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"), col("n_truth"),
        when(col("n_truth") > 0,
          coalesce(col("n_hit"), lit(0L)).cast("double") / col("n_truth"))
          .otherwise(lit(0.0)).as("recall"),
        when(coalesce(col("n_cand"), lit(0L)) > 0,
          coalesce(col("n_hit"), lit(0L)).cast("double")
            / col("n_cand")).otherwise(lit(0.0)).as("prec"))
      .orderBy("bands")
  }

  val dBandCurveSql: String = {
    val sigExprs = (0 until MinhashK).map(j =>
      s"list_min(list_transform(sh, x -> md5('$j|' || x))) AS sig_$j")
      .mkString(",\n  ")
    def block(bands: Int, rows: Int): String = {
      val bandSelects = (0 until bands).map { b =>
        val parts = (0 until rows).map(r => s"sig_${b * rows + r}")
          .mkString(" || '|' || ")
        s"SELECT doc_id, $b AS band, md5($parts) AS bucket FROM sigs"
      }.mkString("\n    UNION ALL ")
      s"""SELECT $bands AS bands, $rows AS rows_per_band,
         |  COUNT(*) AS n_cand,
         |  CAST(SUM(CASE WHEN t.a IS NULL THEN 0 ELSE 1 END) AS BIGINT)
         |    AS n_hit,
         |  (SELECT COUNT(*) FROM truth) AS n_truth,
         |  CASE WHEN (SELECT COUNT(*) FROM truth) > 0 THEN
         |    CAST(SUM(CASE WHEN t.a IS NULL THEN 0 ELSE 1 END) AS DOUBLE)
         |      / (SELECT COUNT(*) FROM truth) ELSE 0.0 END AS recall,
         |  CASE WHEN COUNT(*) > 0 THEN
         |    CAST(SUM(CASE WHEN t.a IS NULL THEN 0 ELSE 1 END) AS DOUBLE)
         |      / COUNT(*) ELSE 0.0 END AS prec
         |FROM (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM ($bandSelects) x
         |  JOIN ($bandSelects) y
         |    ON x.band = y.band AND x.bucket = y.bucket
         |      AND x.doc_id < y.doc_id) c
         |LEFT JOIN truth t ON c.a = t.a AND c.b = t.b""".stripMargin
    }
    val blocks = Seq((1, 12), (2, 6), (3, 4), (4, 3), (6, 2))
      .map { case (b, r) => block(b, r) }
    s"""WITH ${Text.ToksSh3Sql},
       |sigs AS (SELECT doc_id,
       |  $sigExprs
       |FROM sh3 WHERE len(sh) > 0),
       |truth AS (SELECT a, b FROM ($dJaccardSql))
       |${blocks.mkString("\n", "\nUNION ALL\n", "\n")}ORDER BY bands""".stripMargin
  }

  // -------------------------------- content-defined chunking (CDC) dedup
  /** Content-defined chunk dedup over token streams — the
    * rsync/FastCDC idea at the granularity LLM pipelines dedup at:
    * chunk boundaries are decided by the CONTENT (a token closes its
    * chunk when the first md5 nibble of "cdc|token" is ≤ '1'; p = 1/8 →
    * mean chunk ≈ 8 tokens, matched to the fixture's repeat lengths —
    * production CDC tunes the mask to its target chunk size the same
    * way), so a shared passage produces the SAME
    * chunks in every document regardless of where it sits — insertions
    * before it shift positions but not boundaries, which is exactly
    * what fixed-stride blocking gets wrong. Output: every chunk VALUE
    * occurring ≥ 2 times with its occurrence/document counts — the
    * shared-passage inventory [[dSubstring]] approaches from the
    * per-position side (spans in each doc) and this query answers at
    * the value level (what is shared, how widely).
    *
    * Scale shape: tokenize+posexplode is linear; the boundary test is
    * a per-row map; the chunk index is a DOC-LOCAL running sum (window
    * partitioned by doc_id — never global); chunk assembly is one
    * (doc, chunk)-keyed aggregation and the dedup count one
    * chunk-hash-keyed aggregation. Token text shuffles once into the
    * chunk build to stay oracle-exact; at 100 TB the tokens would
    * carry as 8-byte hashes and the chunk key as a hash-of-hashes (the
    * [[graft.plans.ShingleHashSet]] treatment), same plan. A document
    * with no boundary token is one whole-doc chunk — production CDC
    * adds a max-size cut; the fixture rule keeps the canonical
    * hash-only form so both engines agree by construction.
    */
  /** The CDC chunker on any (doc_id, text) frame: one row per chunk
    * with its token count and content hash. Factored out so the spec
    * can pin shift-invariance (the property that makes CDC CDC) on
    * constructed documents.
    */
  private[graft] def cdcChunks(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs
      .select(col("doc_id"),
        posexplode(Text.tokens(col("text"))).as(Seq("pos0", "tok")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("tok"))
    // boundaries strictly BEFORE this token: a boundary token is the
    // LAST token of its chunk
    val wPrev = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    val marked = toks
      .withColumn("b",
        when(substring(md5(concat(lit("cdc|"), col("tok"))), 1, 1) <= "1",
          1L).otherwise(0L))
      .withColumn("chunk", coalesce(sum(col("b")).over(wPrev), lit(0L)))
    marked.groupBy("doc_id", "chunk")
      .agg(count(lit(1)).as("n_toks"),
        md5(concat_ws(" ",
          transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
            x => x.getField("tok")))).as("chunk_hash"))
  }

  def dCdc(s: SparkSession, d: String): DataFrame =
    cdcChunks(Tables.documents(s, d).select(col("doc_id"), col("text")))
      .groupBy("chunk_hash")
      .agg(count(lit(1)).as("n_occ"),
        countDistinct(col("doc_id")).as("n_docs"),
        max(col("n_toks")).cast("int").as("n_toks"))
      .filter(col("n_occ") >= 2)
      .orderBy("chunk_hash")

  val dCdcSql: String =
    s"""WITH t AS (SELECT doc_id, ${Text.ToksSql} AS toks FROM documents),
       |g AS (SELECT doc_id, toks,
       |  unnest(range(1, len(toks) + 1)) AS pos FROM t),
       |p AS (SELECT doc_id, pos, toks[pos] AS tok FROM g),
       |m AS (SELECT doc_id, pos, tok,
       |  CASE WHEN substr(md5('cdc|' || tok), 1, 1) <= '1'
       |    THEN 1 ELSE 0 END AS b FROM p),
       |c AS (SELECT doc_id, pos, tok,
       |  CAST(COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |    AS BIGINT) AS chunk FROM m),
       |h AS (SELECT doc_id, chunk, COUNT(*) AS n_toks,
       |  md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_hash
       |  FROM c GROUP BY 1, 2)
       |SELECT chunk_hash, COUNT(*) AS n_occ,
       |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |  CAST(MAX(n_toks) AS INT) AS n_toks
       |FROM h GROUP BY 1 HAVING COUNT(*) >= 2
       |ORDER BY chunk_hash""".stripMargin

  val queries: Map[String, ((SparkSession, String) => DataFrame, String)] = Map(
    "d_cdc"         -> (dCdc _, dCdcSql),
    "d_band_curve"  -> (dBandCurve _, dBandCurveSql),
    "d_threshold_curve" -> (dThresholdCurve _, dThresholdCurveSql),
    "d_dup_curve"   -> (dDupCurve _, dDupCurveSql),
    "d_containment" -> (dContainment _, dContainmentSql),
    "p_dedup_report" -> (pDedupReport _, pDedupReportSql),
    "d_substring"   -> (dSubstring _, dSubstringSql),
    "d_lsh_eval"    -> (dLshEval _, dLshEvalSql),
    "d_exact"       -> (dExact _, dExactSql),
    "d_minhash_lsh" -> (dMinhashLsh _, dMinhashLshSql),
    "d_minhash_est_err" -> (dMinhashEstErr _, dMinhashEstErrSql),
    "d_bbit_est" -> (dBbitEst _, dBbitEstSql),
    "d_reach"       -> (dReach _, dReachSql),
    "d_incremental" -> (dIncremental _, dIncrementalSql),
    "d_incremental_bloom" -> (dIncrementalBloom _, dIncrementalBloomSql),
    "d_simhash"     -> (dSimhash _, dSimhashSql),
    "d_simhash_pairs" -> (dSimhashPairs _, dSimhashPairsSql),
    "d_simhash64"   -> (dSimhash64 _, dSimhash64Sql),
    "d_jaccard"     -> (dJaccard _, dJaccardSql),
    "d_editdist"    -> (dEditDist _, dEditDistSql),
    "d_overlap"     -> (dOverlap _, dOverlapSql),
    "d_embed_neardup" -> (dEmbeddingNearDup _, dEmbeddingNearDupSql),
    "d_cluster"     -> (dCluster _, dClusterSql),
    "d_components"  -> (dComponents _, dComponentsSql),
    "d_pagerank"    -> (dPagerank _, dPagerankSql),
    "d_triangles"   -> (dTriangles _, dTrianglesSql),
  )
}
