package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Text

/** End-to-end corpus curation: the composed training-data pipeline the
  * individual operators exist for —
  *
  *   quality gate → language filter → exact dedup → near-dup removal →
  *   tokenized output with stats.
  *
  * One lazy DAG: the quality/langid maps fuse into the scan stage, the
  * dedup steps are the same digest-group and fingerprint-block shapes as
  * Dedup (semi/anti joins against tiny keeper/victim sets), and nothing
  * ever collects to the driver. Registered as an oracle-checked query
  * (the whole pipeline is SQL-expressible), so the composition — not
  * just the parts — is verified.
  */
object Curation {


  /** Curated corpus: docs that (1) have >= 20 tokens, (2) have stopword
    * ratio < 0.2, (3) are the keeper (min doc_id) of their exact-text
    * group, and (4) are the MINIMUM-id member of their near-dup
    * connected component (Jaccard >= 0.9 over 3-shingles within
    * min-shingle blocks, components over the pair graph) AMONG the
    * quality-surviving docs — near-dup removal applies to the corpus
    * being kept, so the expensive shingle/pairing subplan runs once
    * over the filtered set instead of a second full-corpus pass.
    * Output: doc_id, n_tokens, lang.
    */
  def curate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val base = docs.select(col("doc_id"), col("lang"),
      Text.tokens(col("text")).as("toks"), col("text"))
    val quality = base
      .filter(size(col("toks")) >= 20)
      .filter(size(filter(col("toks"), t => t.isin("the", "a"))).cast("double")
        / size(col("toks")) < 0.2)

    // exact dedup: keep min doc_id per text digest — a window-min over
    // the digest instead of groupBy+self-join, so the quality subplan
    // feeds ONE chain here rather than being re-evaluated for a
    // keepers relation and again for the join probe side.
    val wFp = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("text").cast("binary")))
    val keepers = quality
      .withColumn("keep_min", min(col("doc_id")).over(wFp))
      .filter(col("doc_id") === col("keep_min"))

    // near-dup victims: every non-minimum member of each CONNECTED
    // COMPONENT of the high-jaccard pair graph among the quality
    // survivors (shared subplan — Dedup.jaccardPairs). Component
    // labels, not per-pair higher-ids: per-pair removal keeps a doc
    // that is the lower end of every pair it appears in even when its
    // component minimum is someone else (chain b–c plus a–c keeps b),
    // and — the 100 TB point — its output is quadratic in cluster
    // size (every pair row) while component labels are linear (one
    // label per member). The CC loop is external + checkpointed
    // (Dedup.connectedComponents), so the jaccard subplan is evaluated
    // once into the pinned edge list, never per superstep.
    val victims = Dedup.connectedComponents(
        Dedup.jaccardPairs(quality.select(col("doc_id"), col("toks")))
          .filter(col("jac") >= 0.9)
          .select(col("a"), col("b")),
        // generous budget: the superstep loop exits at the fixpoint, so
        // extra headroom is free on converged runs and avoids a strict
        // failure on deep-chain components (see Dedup.dComponents)
        maxIters = 64)
      .filter(col("id") =!= col("component"))
      .select(col("id").as("doc_id"))

    keepers
      .join(victims, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), size(col("toks")).as("n_tokens"), col("lang"))
      .orderBy("doc_id")
  }

  val curateSql: String =
    s"""WITH RECURSIVE base AS (SELECT doc_id, lang, text, ${Text.ToksSql} AS toks FROM documents),
       |quality AS (SELECT * FROM base
       |  WHERE len(toks) >= 20
       |    AND CAST(len(list_filter(toks, x -> x IN ('the', 'a'))) AS DOUBLE) / len(toks) < 0.2),
       |keepers AS (SELECT MIN(doc_id) AS doc_id FROM quality GROUP BY md5(text)),
       |${Text.sh3Sql("quality", "sh3")},
       |blk AS (SELECT doc_id, sh, list_min(list_transform(sh, x -> md5(x))) AS blk
       |  FROM sh3 WHERE len(sh) > 0),
       |nd_pairs AS (SELECT x.doc_id AS a, y.doc_id AS b FROM blk x JOIN blk y
       |  ON x.blk = y.blk AND x.doc_id < y.doc_id
       |  WHERE round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
       |    (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))), 6) >= 0.9),
       |sym AS (SELECT a AS id, b AS nbr FROM nd_pairs
       |        UNION ALL SELECT b AS id, a AS nbr FROM nd_pairs),
       |reach(id, r) AS (
       |  SELECT id, id AS r FROM (SELECT DISTINCT id FROM sym) t
       |  UNION
       |  SELECT s.id, reach.r FROM sym s JOIN reach ON s.nbr = reach.id),
       |victims AS (SELECT id AS doc_id FROM reach
       |  GROUP BY id HAVING id <> MIN(r))
       |SELECT q.doc_id, CAST(len(q.toks) AS INT) AS n_tokens, q.lang
       |FROM quality q
       |JOIN keepers k ON k.doc_id = q.doc_id
       |WHERE q.doc_id NOT IN (SELECT doc_id FROM victims)
       |ORDER BY q.doc_id""".stripMargin

  /** Deterministic hash-based corpus subsample (~12.5%): keep docs whose
    * content-independent key digest falls under a fixed hex threshold.
    * The pipeline answer to "sample N% reproducibly on any cluster" —
    * engine RNG sampling (TABLESAMPLE / df.sample) is neither
    * cross-engine nor cross-run stable, a uniform digest of the key is
    * both, and the predicate is a pure map (no shuffle, scan-pushable).
    */
  def sample(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(substring(md5(concat(lit("smpl|"), col("doc_id").cast("string"))
        .cast("binary")), 1, 2) < "20")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy("doc_id")

  val sampleSql: String =
    """SELECT doc_id, lang, n_chars FROM documents
      |WHERE substr(md5('smpl|' || CAST(doc_id AS VARCHAR)), 1, 2) < '20'
      |ORDER BY doc_id""".stripMargin

  /** Per-language keep thresholds for [[sampleStratified]]: first two
    * hex digits of the salted key digest must fall below the stratum's
    * threshold, so '40' ≈ 25%, '20' ≈ 12.5%, '10' ≈ 6.25%, default
    * '08' ≈ 3%. Rebalancing a multilingual corpus (up-weight scarce
    * languages, down-weight dominant ones) is the standard use.
    */
  val StratRates: Seq[(String, String)] = Seq(
    "en" -> "40", "de" -> "20", "es" -> "20", "fr" -> "10", "zh" -> "10")

  /** Stratified deterministic sampling: [[sample]]'s digest predicate
    * with a per-language threshold — per-stratum rates without a
    * shuffle, reproducible on any cluster, pushable to the scan.
    */
  def sampleStratified(s: SparkSession, d: String): DataFrame = {
    val thr = StratRates.reverse.foldLeft(lit("08"): org.apache.spark.sql.Column) {
      case (acc, (l, t)) => when(col("lang") === l, lit(t)).otherwise(acc)
    }
    Tables.documents(s, d)
      .filter(substring(md5(concat(lit("strat|"), col("doc_id").cast("string"))
        .cast("binary")), 1, 2) < thr)
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")
  }

  val sampleStratifiedSql: String = {
    val cases = StratRates.map { case (l, t) => s"WHEN '$l' THEN '$t'" }.mkString(" ")
    s"""SELECT doc_id, lang FROM documents
       |WHERE substr(md5('strat|' || CAST(doc_id AS VARCHAR)), 1, 2) <
       |  CASE lang $cases ELSE '08' END
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------- train/val/test split
  /** Deterministic corpus split — the last stage before training:
    * every doc gets exactly one of train/val/test by the first two hex
    * digits of its salted key digest ('f0'+ ≈ last 6.25% → test,
    * 'e0'..'ef' ≈ 6.25% → val, rest → train). Same digest idiom as
    * [[sample]]: reproducible on any cluster at any partitioning,
    * disjoint and exhaustive BY CONSTRUCTION (one CASE over one
    * digest — no sampling twice and hoping), and a pure map the scan
    * evaluates. Output includes the digest prefix so the assignment
    * is auditable.
    */
  def pSplit(s: SparkSession, d: String): DataFrame = {
    val h = substring(md5(concat(lit("split|"), col("doc_id").cast("string"))
      .cast("binary")), 1, 2)
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"), h.as("bucket"),
        when(h >= "f0", "test").when(h >= "e0", "val").otherwise("train").as("split"))
      .orderBy("doc_id")
  }

  val pSplitSql: String =
    """SELECT doc_id, source,
      |  substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 2) AS bucket,
      |  CASE WHEN substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 2) >= 'f0' THEN 'test'
      |       WHEN substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 2) >= 'e0' THEN 'val'
      |       ELSE 'train' END AS split
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------- split leakage audit
  /** Train/val/test leakage audit: how many exact-duplicate document
    * pairs straddle [[pSplit]]'s hash-bucket boundaries — the
    * split-hygiene check every eval pipeline needs (a test doc whose
    * exact twin sits in train inflates the benchmark; random splits
    * leak exactly like this unless dedup keys the split). One row:
    * multi-doc digest groups, groups spanning ≥ 2 splits, and the
    * cross-split pair counts per boundary (a group with a train docs
    * and b test docs contributes a·b pairs — closed form, no pairing
    * join). Everything is exact integer counting. Scale: one
    * digest-keyed aggregation (map-side partial) over (16-byte fp,
    * split) pairs — bodies hash once and never shuffle; the final
    * fold is one row.
    */
  def pSplitLeakage(s: SparkSession, d: String): DataFrame = {
    val h = substring(md5(concat(lit("split|"), col("doc_id").cast("string"))
      .cast("binary")), 1, 2)
    val g = Tables.documents(s, d)
      .select(md5(col("text").cast("binary")).as("fp"),
        when(h >= "f0", "test").when(h >= "e0", "val").otherwise("train").as("split"))
      .groupBy("fp")
      .agg(sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
        sum(when(col("split") === "val", 1L).otherwise(0L)).as("n_val"),
        sum(when(col("split") === "test", 1L).otherwise(0L)).as("n_test"))
    g.agg(
      sum(when(col("n_train") + col("n_val") + col("n_test") >= 2, 1L)
        .otherwise(0L)).as("dup_groups"),
      sum(when(
        when(col("n_train") > 0, 1).otherwise(0) +
          when(col("n_val") > 0, 1).otherwise(0) +
          when(col("n_test") > 0, 1).otherwise(0) >= 2, 1L).otherwise(0L))
        .as("leaky_groups"),
      sum(col("n_train") * col("n_val")).as("train_val_pairs"),
      sum(col("n_train") * col("n_test")).as("train_test_pairs"),
      sum(col("n_val") * col("n_test")).as("val_test_pairs"))
  }

  val pSplitLeakageSql: String =
    """WITH s AS (SELECT md5(text) AS fp,
      |    CASE WHEN substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 2) >= 'f0'
      |      THEN 'test'
      |      WHEN substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 2) >= 'e0'
      |      THEN 'val' ELSE 'train' END AS split
      |  FROM documents),
      |g AS (SELECT fp,
      |    CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
      |    CAST(SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS n_val,
      |    CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_test
      |  FROM s GROUP BY 1)
      |SELECT
      |  CAST(SUM(CASE WHEN n_train + n_val + n_test >= 2 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS dup_groups,
      |  CAST(SUM(CASE WHEN (CASE WHEN n_train > 0 THEN 1 ELSE 0 END) +
      |      (CASE WHEN n_val > 0 THEN 1 ELSE 0 END) +
      |      (CASE WHEN n_test > 0 THEN 1 ELSE 0 END) >= 2 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS leaky_groups,
      |  CAST(SUM(n_train * n_val) AS BIGINT) AS train_val_pairs,
      |  CAST(SUM(n_train * n_test) AS BIGINT) AS train_test_pairs,
      |  CAST(SUM(n_val * n_test) AS BIGINT) AS val_test_pairs
      |FROM g""".stripMargin

  // ---------------------------------------------- snapshot diff
  /** Corpus snapshot diff — the data-versioning primitive behind
    * incremental re-crawls: FULL OUTER join of two snapshot digest
    * tables on doc id, classifying every id as added / removed /
    * changed / unchanged. Only (id, 16-byte digest) pairs shuffle;
    * bodies are read once per side to hash and never move. The
    * fixture's two "snapshots" are deterministic slices (v1 = ids
    * ∉ 5ℤ, v2 = ids ∉ 7ℤ) with a deterministic revision (ids ∈ 11ℤ
    * hash an upcased body in v2), so all four statuses occur.
    */
  def pSnapshotDiff(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val v1 = docs.filter(col("doc_id") % 5 =!= 0)
      .select(col("doc_id"), md5(col("text").cast("binary")).as("fp1"))
    val v2 = docs.filter(col("doc_id") % 7 =!= 0)
      .select(col("doc_id"),
        md5(when(col("doc_id") % 11 === 0, upper(col("text")))
          .otherwise(col("text")).cast("binary")).as("fp2"))
    v1.join(v2, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("fp1").isNull, "added")
          .when(col("fp2").isNull, "removed")
          .when(col("fp1") =!= col("fp2"), "changed")
          .otherwise("unchanged").as("status"))
      .orderBy("doc_id")
  }

  val pSnapshotDiffSql: String =
    """WITH v1 AS (SELECT doc_id, md5(text) AS fp1 FROM documents
      |  WHERE doc_id % 5 <> 0),
      |v2 AS (SELECT doc_id,
      |    md5(CASE WHEN doc_id % 11 = 0 THEN upper(text) ELSE text END) AS fp2
      |  FROM documents WHERE doc_id % 7 <> 0)
      |SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
      |  CASE WHEN v1.fp1 IS NULL THEN 'added'
      |       WHEN v2.fp2 IS NULL THEN 'removed'
      |       WHEN v1.fp1 <> v2.fp2 THEN 'changed'
      |       ELSE 'unchanged' END AS status
      |FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------- contrastive triplets
  /** Contrastive training triplets (anchor, positive, negative) — the
    * dataset shape behind embedding/contrastive objectives. Anchors
    * are docs with at least one verified MinHash-LSH near-dup; the
    * positive is the smallest such partner (deterministic). The
    * negative is the smallest-salted-digest OTHER doc in the anchor's
    * 256-way digest bucket — a deterministic stand-in for "random
    * negative" that is reproducible on any cluster and SQL-expressible,
    * computed with per-BUCKET windows (parallel, bounded — NOT a
    * global digest sort, which would funnel the corpus through one
    * task). A bucket-mate that happens to be a near-dup of the anchor
    * is dropped (stated contract: in-batch negatives are filtered
    * against the near-dup graph, exactly what real contrastive
    * pipelines do to avoid false negatives).
    *
    * Scale: the pair graph comes from the verified LSH chain (keys
    * and signatures shuffle, bodies don't); the negative pick is one
    * 256-partition window over (bucket, digest, id) triples; the
    * final assembly joins on ids only.
    */
  def pTriplets(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // pin the verified pair set: `pairs` fans out through `sym` into
    // two consumers (positive pick + false-negative anti-join), so an
    // unpinned frame re-runs the full LSH chain (tokenize → MinHash →
    // band → bucket-join → verify) up to four times. Pair-count rows —
    // free to materialize at any scale.
    val pairs = Materialize.pin(
      graft.operators.Dedup.minhashLshPairs(s, d).select("a", "b"))
    val sym = pairs.union(pairs.select(col("b").as("a"), col("a").as("b")))
    val pos = sym.groupBy(col("a").as("anchor")).agg(min(col("b")).as("positive"))
    val ranked = Tables.documents(s, d).select(col("doc_id"),
      md5(concat(lit("neg|"), col("doc_id").cast("string")).cast("binary")).as("nk"))
      .withColumn("bucket", substring(col("nk"), 1, 2))
    val w = Window.partitionBy("bucket").orderBy("nk", "doc_id")
    val first2 = ranked
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 2)
      .groupBy("bucket")
      .agg(min(when(col("rnk") === 1, col("doc_id"))).as("n1"),
        min(when(col("rnk") === 2, col("doc_id"))).as("n2"))
    val negs = ranked.join(first2, "bucket")
      .select(col("doc_id").as("anchor"),
        when(col("n1") =!= col("doc_id"), col("n1")).otherwise(col("n2")).as("negative"))
      .filter(col("negative").isNotNull)
    pos.join(negs, "anchor")
      // a negative that is itself a near-dup of the anchor is a false
      // negative — drop it via the symmetric pair graph
      .join(sym.select(col("a").as("anchor"), col("b").as("negative")),
        Seq("anchor", "negative"), "left_anti")
      .select(col("anchor"), col("positive"), col("negative"))
      .orderBy("anchor")
  }

  lazy val pTripletsSql: String =
    s"""WITH p AS (${graft.operators.Dedup.dMinhashLshSql}),
       |sym AS (SELECT a, b FROM p UNION ALL SELECT b AS a, a AS b FROM p),
       |pos AS (SELECT a AS anchor, MIN(b) AS positive FROM sym GROUP BY 1),
       |ranked AS (SELECT doc_id, md5('neg|' || CAST(doc_id AS VARCHAR)) AS nk,
       |  substr(md5('neg|' || CAST(doc_id AS VARCHAR)), 1, 2) AS bucket
       |  FROM documents),
       |rr AS (SELECT doc_id, bucket,
       |  row_number() OVER (PARTITION BY bucket ORDER BY nk, doc_id) AS rnk
       |  FROM ranked),
       |first2 AS (SELECT bucket,
       |  MIN(CASE WHEN rnk = 1 THEN doc_id END) AS n1,
       |  MIN(CASE WHEN rnk = 2 THEN doc_id END) AS n2
       |  FROM rr WHERE rnk <= 2 GROUP BY 1),
       |negs AS (SELECT r.doc_id AS anchor,
       |  CASE WHEN f.n1 <> r.doc_id THEN f.n1 ELSE f.n2 END AS negative
       |  FROM ranked r JOIN first2 f USING (bucket)
       |  WHERE (CASE WHEN f.n1 <> r.doc_id THEN f.n1 ELSE f.n2 END) IS NOT NULL)
       |SELECT anchor, positive, negative
       |FROM pos JOIN negs USING (anchor)
       |WHERE NOT EXISTS (SELECT 1 FROM sym s
       |  WHERE s.a = anchor AND s.b = negative)
       |ORDER BY anchor""".stripMargin

  // ---------------------------------------------- epoch shuffle
  /** Deterministic epoch shuffle — the order a training run actually
    * consumes. A seeded digest of the doc id is the permutation key:
    * reproducible on any cluster at any partitioning (same digest
    * idiom as [[sample]]/[[pSplit]]), a NEW permutation per epoch by
    * changing the seed, and at scale the final ORDER BY is one range
    * exchange over (16-byte key, id) pairs — document bodies are
    * fetched per shard afterwards. The full md5 key is collision-free
    * for practical corpus sizes and emitted for auditability.
    */
  def pShuffle(s: SparkSession, d: String): DataFrame = {
    val key = md5(concat(lit("epoch1|"), col("doc_id").cast("string"))
      .cast("binary"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"), key.as("shuffle_key"))
      .orderBy("shuffle_key", "doc_id")
  }

  val pShuffleSql: String =
    """SELECT doc_id, source,
      |  md5('epoch1|' || CAST(doc_id AS VARCHAR)) AS shuffle_key
      |FROM documents ORDER BY shuffle_key, doc_id""".stripMargin

  // ---------------------------------------------- decontamination
  /** Benchmark decontamination — the GPT-3/Gopher-style n-gram overlap
    * gate: a training document is CONTAMINATED if any of its distinct
    * 13-grams appears in the benchmark (eval-set) documents. The
    * fixture's "benchmark" is the deterministic doc_id % 20 == 0 slice
    * (5% — eval sets are tiny relative to training corpora); output is
    * every NON-benchmark doc with its count of distinct shared
    * 13-grams and the contamination flag.
    *
    * Scale shape: the benchmark 13-gram set is eval-set-sized and
    * BROADCASTS — the training corpus is scanned once, each doc's
    * distinct 13-grams come from the native [[graft.plans
    * .ShingleHashSet]] as 8-byte longs (never the strings), and the
    * only shuffle is the per-doc count aggregation keyed by doc_id.
    * Nothing is quadratic: contamination is a membership test, not a
    * pairing. Docs shorter than 13 tokens have no 13-grams and are
    * clean by definition (kept in the output with n_shared = 0).
    */
  val DecontamN = 13
  val BenchMod = 20

  def pDecontaminate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"),
        org.apache.spark.sql.graft.GraftSql.shingleHashSet(
          Text.tokens(col("text")), DecontamN).as("sh"))
    val bench = docs.filter(col("doc_id") % BenchMod === 0)
      .select(explode(col("sh")).as("h")).distinct()
    val train = docs.filter(col("doc_id") % BenchMod =!= 0)
    val hits = train.select(col("doc_id"), explode(col("sh")).as("h"))
      .join(broadcast(bench), "h")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    train.select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        when(coalesce(col("n_shared"), lit(0L)) > 0, 1).otherwise(0).as("contaminated"))
      .orderBy("doc_id")
  }

  val pDecontaminateSql: String = {
    val n = DecontamN
    val gram = Text.gramConcatSql("toks", "i", n)
    s"""WITH t AS (SELECT doc_id, ${Text.ToksSql} AS toks FROM documents),
       |g AS (SELECT doc_id,
       |  list_distinct(list_transform(range(1, len(toks) - ${n - 2}),
       |    i -> $gram)) AS sh
       |  FROM t),
       |bench AS (SELECT DISTINCT unnest(sh) AS gr FROM g
       |  WHERE doc_id % $BenchMod = 0),
       |bl AS (SELECT list(gr) AS bg FROM bench)
       |SELECT doc_id,
       |  CAST(len(list_intersect(sh, bg)) AS BIGINT) AS n_shared,
       |  CASE WHEN len(list_intersect(sh, bg)) > 0
       |    THEN 1 ELSE 0 END AS contaminated
       |FROM g CROSS JOIN bl WHERE doc_id % $BenchMod <> 0
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------- sequence packing
  /** Tokens per packed training sequence for [[pPack]] — 512 is a
    * power of two so offset→sequence-id is an exact integer shift in
    * both engines (no float division anywhere).
    */
  val PackSeqLen = 512

  /** Sequence packing — the "concatenate the corpus and slice into
    * fixed-length training sequences" step every LLM pre-training
    * pipeline runs before batching. Documents are laid end-to-end in
    * doc_id order; sequence k owns token offsets [k·512, (k+1)·512).
    * Output per sequence: how many documents contribute tokens to it
    * and how many tokens it holds (512 for all but the last).
    *
    * Scale shape: the global prefix sum is computed as a DISTRIBUTED
    * two-level scan, not a single-partition window — docs get a shard
    * key (doc_id div 8192), the cumulative sum runs per shard
    * (hash-partitioned, parallel), and each shard's base offset comes
    * from a shard-totals aggregate that is #shards rows (corpus/8192 —
    * a few million rows at 100 TB) cumulated in one tiny window and
    * broadcast back. No stage ever holds more than a shard of
    * (doc_id, n) longs; document text never moves (only token COUNTS
    * shuffle). A doc spanning a sequence boundary is exploded into
    * each sequence it overlaps (span width ≤ n/512 + 1, bounded by
    * the longest document, not the corpus).
    */
  def pPack(s: SparkSession, d: String): DataFrame = {
    // pinned: the shard-totals branch and the per-doc branch are
    // optimizer-specialized consumers (the totals branch prunes
    // doc_id), so unpinned each re-scans AND re-tokenizes the corpus.
    // Materializing (doc_id, n, shard) is 24 bytes/doc vs a second
    // full tokenize pass — the right trade at any scale.
    val counts = Materialize.pin(Tables.documents(s, d)
      .select(col("doc_id"),
        size(Text.tokens(col("text"))).cast("long").as("n"),
        (col("doc_id") / 8192).cast("long").as("shard")))
    packScan(counts)
  }

  /** The distributed two-level prefix scan + boundary explode shared
    * by [[pPack]] (whitespace counts) and [[pPackBpe]] (subword
    * counts). `counts` must carry (doc_id, n, shard), pinned.
    */
  private def packScan(counts: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // intra-shard running total (parallel across shards) ...
    val wShard = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val intra = counts.withColumn("end_in_shard", sum(col("n")).over(wShard))
    // ... plus each shard's base = cumsum of prior shard totals (tiny:
    // one row per shard, single ordered window over #shards rows).
    val wBase = Window.orderBy("shard")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    val bases = counts.groupBy("shard").agg(sum(col("n")).as("shard_n"))
      .withColumn("base", coalesce(sum(col("shard_n")).over(wBase), lit(0L)))
      .select(col("shard"), col("base"))
    val spans = intra.join(broadcast(bases), "shard")
      .withColumn("end_off", col("base") + col("end_in_shard"))
      .withColumn("start_off", col("end_off") - col("n"))
      .filter(col("n") > 0)
      .select(col("start_off"), col("end_off"),
        explode(sequence(
          expr(s"start_off div $PackSeqLen"),
          expr(s"(end_off - 1) div $PackSeqLen"))).as("seq_id"))
    spans.groupBy("seq_id")
      .agg(count(lit(1)).cast("int").as("n_docs"),
        sum(least(col("end_off"), (col("seq_id") + 1) * PackSeqLen) -
          greatest(col("start_off"), col("seq_id") * PackSeqLen))
          .cast("int").as("n_tokens"))
      .select(col("seq_id").cast("int").as("seq_id"), col("n_docs"), col("n_tokens"))
      .orderBy("seq_id")
  }

  /** Oracle mirrors the SEMANTICS (global cumsum in doc_id order), not
    * the distributed two-level scan — base + intra-shard ≡ global
    * prefix sum, so the values are identical.
    */
  val pPackSql: String =
    s"""WITH t AS (SELECT doc_id, CAST(len(${Text.ToksSql}) AS BIGINT) AS n FROM documents),
       |o AS (SELECT doc_id, n,
       |  CAST(SUM(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS end_off
       |  FROM t),
       |sp AS (SELECT end_off - n AS start_off, end_off,
       |  unnest(range((end_off - n) // $PackSeqLen, (end_off - 1) // $PackSeqLen + 1)) AS seq_id
       |  FROM o WHERE n > 0)
       |SELECT CAST(seq_id AS INT) AS seq_id,
       |  CAST(COUNT(*) AS INT) AS n_docs,
       |  CAST(SUM(least(end_off, (seq_id + 1) * $PackSeqLen) -
       |    greatest(start_off, seq_id * $PackSeqLen)) AS INT) AS n_tokens
       |FROM sp GROUP BY seq_id ORDER BY seq_id""".stripMargin

  /** [[pPack]] with the budget a training run actually bills by —
    * SUBWORD counts from the learned BPE vocabulary
    * ([[TextAnalysis.tBpeEncode]]'s measurement feeding the packer):
    * per word a broadcast (word → token count) lookup, per doc one
    * aggregation, then the same distributed two-level scan and
    * boundary explode as whitespace packing. Whitespace counts
    * under-bill multi-subword tokens, so whitespace-packed sequences
    * OVERFLOW a real token budget — this is the variant whose 512 is
    * the model's actual context length. (In-query retrain of the
    * vocab is the per-query contract, as documented on tBpeEncode.)
    */
  def pPackBpe(s: SparkSession, d: String): DataFrame = {
    val perWord = TextAnalysis.bpePerWordCounts(s, d)
    val bpeN = Tables.documents(s, d)
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("word"))
      .join(broadcast(perWord), "word")
      .groupBy("doc_id").agg(sum(col("n_sub")).as("n"))
    val counts = Materialize.pin(Tables.documents(s, d).select(col("doc_id"))
      .join(bpeN, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n"), lit(0L)).as("n"),
        (col("doc_id") / 8192).cast("long").as("shard")))
    packScan(counts)
  }

  lazy val pPackBpeSql: String =
    s"""WITH ${TextAnalysis.bpeVocabCtesSql},
       |perword AS (SELECT word, CAST(len(syms) AS BIGINT) AS n_sub
       |  FROM vocab${TextAnalysis.BpeMerges}),
       |dtok AS (SELECT doc_id, unnest(${Text.ToksSql}) AS word FROM documents),
       |bc AS (SELECT doc_id, SUM(n_sub) AS n FROM dtok JOIN perword USING (word)
       |  GROUP BY 1),
       |t AS (SELECT d.doc_id, CAST(COALESCE(bc.n, 0) AS BIGINT) AS n
       |  FROM documents d LEFT JOIN bc USING (doc_id)),
       |o AS (SELECT doc_id, n,
       |  CAST(SUM(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS end_off
       |  FROM t),
       |sp AS (SELECT end_off - n AS start_off, end_off,
       |  unnest(range((end_off - n) // $PackSeqLen, (end_off - 1) // $PackSeqLen + 1)) AS seq_id
       |  FROM o WHERE n > 0)
       |SELECT CAST(seq_id AS INT) AS seq_id,
       |  CAST(COUNT(*) AS INT) AS n_docs,
       |  CAST(SUM(least(end_off, (seq_id + 1) * $PackSeqLen) -
       |    greatest(start_off, seq_id * $PackSeqLen)) AS INT) AS n_tokens
       |FROM sp GROUP BY seq_id ORDER BY seq_id""".stripMargin

  // ---------------------------------------------- curriculum ordering
  /** Curriculum schedule — the easy→hard consumption order curriculum
    * training runs: documents are staged by quality quartile (stage 0
    * = top quartile first) and shuffled WITHIN each stage by the same
    * seeded-digest permutation idiom as [[pShuffle]], so the schedule
    * is reproducible on any cluster and re-drawable per epoch by
    * reseeding. The total consumption order is (stage,
    * curriculum_key, doc_id), with no global window here.
    *
    * Scale: the quality score is a per-row map (tQuality's one-pass
    * metrics); the quartile cutoffs are ONE exact ordered-set
    * aggregate row broadcast back (at 100 TB the cutoffs come from
    * the mergeable quantile sketch instead — same shape, bounded
    * state); staging is then a pure scan-side CASE. Cutoffs are
    * rounded at 6 dp in both engines; comparisons are safe because
    * interpolated cutoffs either equal a 6-dp data value exactly or
    * sit ≥ 5e-7 away from every one — no boundary can flip on a ulp.
    */
  def pCurriculum(s: SparkSession, d: String): DataFrame = {
    // two consumers (quartile cutoffs + the staging scan) — pinned so
    // the per-row metrics lambda (regexp-heavy) runs once per doc, not
    // twice; qualityScored so neither branch inherits tQuality's
    // presentation sort
    val scored = Materialize.pin(TextAnalysis.qualityScored(s, d)
      .select(col("doc_id"), col("quality")))
    val cuts = scored.agg(
      round(expr("percentile(quality, 0.75)"), 6).as("c3"),
      round(expr("percentile(quality, 0.5)"), 6).as("c2"),
      round(expr("percentile(quality, 0.25)"), 6).as("c1"))
    scored.crossJoin(broadcast(cuts))
      .select(col("doc_id"), col("quality"),
        when(col("quality") >= col("c3"), 0)
          .when(col("quality") >= col("c2"), 1)
          .when(col("quality") >= col("c1"), 2)
          .otherwise(3).as("stage"),
        md5(concat(lit("cur1|"), col("doc_id").cast("string")).cast("binary"))
          .as("curriculum_key"))
      .orderBy("stage", "curriculum_key", "doc_id")
  }

  lazy val pCurriculumSql: String =
    s"""WITH q AS (SELECT doc_id, quality FROM (${TextAnalysis.tQualitySql})),
       |cuts AS (SELECT round(quantile_cont(quality, 0.75), 6) AS c3,
       |  round(quantile_cont(quality, 0.5), 6) AS c2,
       |  round(quantile_cont(quality, 0.25), 6) AS c1 FROM q)
       |SELECT doc_id, quality,
       |  CASE WHEN quality >= c3 THEN 0 WHEN quality >= c2 THEN 1
       |       WHEN quality >= c1 THEN 2 ELSE 3 END AS stage,
       |  md5('cur1|' || CAST(doc_id AS VARCHAR)) AS curriculum_key
       |FROM q CROSS JOIN cuts
       |ORDER BY stage, curriculum_key, doc_id""".stripMargin

  // ---------------------------------------------- weighted sampling
  /** Quality-weighted deterministic sampling: keep probability
    * proportional to document length, p = min(1, n_chars/400). The
    * acceptance test is PURE INTEGER — u = (doc_id·2654435761 + 40503)
    * mod 1000003 is a uniform integer hash both engines compute
    * identically, and `u < p·M` is tested as `400·u < n_chars·M` so no
    * float ever enters the predicate (cross-engine exact, and a pure
    * map the scan can evaluate — no shuffle, reproducible on any
    * cluster / any partitioning). The standard use: up-weight long
    * (information-dense) documents when downsampling a crawl.
    */
  def pSampleWeighted(s: SparkSession, d: String): DataFrame =
    // doc_id is reduced mod 1000003 BEFORE the multiply: same residue
    // ((d mod M)·A ≡ d·A mod M) but the product stays < 2^52 for any
    // int64 doc_id — the unreduced form overflows Long past
    // doc_id ≈ 3.5e9 (silent wrap in Spark, BIGINT error in DuckDB),
    // well inside a 100 TB corpus's id range.
    Tables.documents(s, d)
      .filter((col("doc_id") % 1000003L * 2654435761L + 40503L) % 1000003L * 400L
        < col("n_chars") * 1000003L)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .orderBy("doc_id")

  val pSampleWeightedSql: String =
    """SELECT doc_id, source, n_chars FROM documents
      |WHERE (doc_id % 1000003 * 2654435761 + 40503) % 1000003 * 400 < n_chars * 1000003
      |ORDER BY doc_id""".stripMargin

  /** Per-source epoch weights for [[pMix]]: (whole epochs, hex
    * threshold for one fractional extra copy). '80' ≈ +0.5 of an
    * epoch, '40' ≈ +0.25. Sources not listed default to 1 epoch —
    * src2 is DOWN-sampled to half an epoch (0 whole copies, keep one
    * copy for half the docs).
    */
  val MixEpochs: Seq[(String, (Int, String))] = Seq(
    "src0" -> (2, "80"), // 2.5 epochs — high-quality source, upsampled
    "src1" -> (2, "00"), // 2 epochs
    "src2" -> (0, "80"), // 0.5 epoch — low-quality source, downsampled
    "src3" -> (1, "40")) // 1.25 epochs

  // ---------------------------------------------- source mixing
  /** Source-mixture materialization — the domain-reweighting step
    * (Pile/Llama-style "epochs per source"): each document is
    * replicated `copies` times where copies = whole epochs + one
    * extra copy for the deterministic digest-fraction of docs that
    * realizes the fractional epoch. Output is the mixed corpus
    * manifest (doc_id, source, copy).
    *
    * Scale shape: a pure per-row map followed by a bounded explode
    * (≤ max epochs per row) — no shuffle, no state; the digest gate
    * is the same cross-run-stable md5 idiom as [[sample]].
    */
  def pMix(s: SparkSession, d: String): DataFrame = {
    val whole = MixEpochs.foldLeft(lit(1): org.apache.spark.sql.Column) {
      case (acc, (src, (w, _))) => when(col("source") === src, lit(w)).otherwise(acc)
    }
    val thr = MixEpochs.foldLeft(lit("00"): org.apache.spark.sql.Column) {
      case (acc, (src, (_, t))) => when(col("source") === src, lit(t)).otherwise(acc)
    }
    Tables.documents(s, d)
      .withColumn("copies", whole +
        when(substring(md5(concat(lit("mix|"), col("doc_id").cast("string"))
          .cast("binary")), 1, 2) < thr, 1).otherwise(0))
      .filter(col("copies") > 0) // sequence(1,0) is DESCENDING in Spark — never build it
      .select(col("doc_id"), col("source"),
        explode(sequence(lit(1), col("copies"))).as("copy"))
      .orderBy("doc_id", "copy")
  }

  val pMixSql: String = {
    val wCases = MixEpochs.map { case (s, (w, _)) => s"WHEN '$s' THEN $w" }.mkString(" ")
    val tCases = MixEpochs.map { case (s, (_, t)) => s"WHEN '$s' THEN '$t'" }.mkString(" ")
    s"""WITH c AS (SELECT doc_id, source,
       |  CASE source $wCases ELSE 1 END +
       |  CASE WHEN substr(md5('mix|' || CAST(doc_id AS VARCHAR)), 1, 2) <
       |    CASE source $tCases ELSE '00' END THEN 1 ELSE 0 END AS copies
       |  FROM documents)
       |SELECT doc_id, source, CAST(unnest(range(1, copies + 1)) AS INT) AS copy
       |FROM c WHERE copies > 0 ORDER BY doc_id, copy""".stripMargin
  }

  // ------------------------------------------------- dataset card
  /** Per-source dataset-card statistics — the summary table every
    * curated corpus ships with (datasheets/data-cards reporting): doc
    * counts, language coverage, exact char totals, and length
    * quantiles per source. One vocabulary-of-sources-bounded
    * aggregation; the exact-interpolation percentile is the same
    * cross-engine-stable choice as the relational `q_percentile`
    * (the t-digest sketch is engine-specific), and the mean is one
    * double division of an exact integer sum.
    */
  def pDatacard(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("n_chars")).as("total_chars"),
        // unrounded quotient — FIXTURES §C mean-tie rule: exact int sum
        // over int count divides to the bit-identical double on both
        // engines; rounding is what introduced cross-engine ties
        (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"),
        round(expr("percentile(n_chars, 0.5)"), 6).as("p50_chars"),
        round(expr("percentile(n_chars, 0.9)"), 6).as("p90_chars"))
      .orderBy("source")

  val pDatacardSql: String =
    """SELECT source, COUNT(*) AS n_docs,
      |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
      |  round(quantile_cont(n_chars, 0.5), 6) AS p50_chars,
      |  round(quantile_cont(n_chars, 0.9), 6) AS p90_chars
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------- curriculum interleave
  /** Curriculum-ordered source interleaving: rank documents within
    * each source easy→hard (ascending length, ties by doc_id), then
    * emit rank-major / source-minor — at every difficulty rank the
    * sources round-robin, the standard curriculum + mixture-stability
    * ordering for training-data writes. The interleaved order IS the
    * output sort (range-partitioned, parallel); the only other
    * machinery is one per-source row_number window — there is no
    * global single-partition window anywhere, which is what makes the
    * shape survive a corpus that doesn't fit one task.
    */
  def pInterleave(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("n_chars"), col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("rn", row_number().over(w))
      .orderBy("rn", "source", "doc_id")
  }

  val pInterleaveSql: String =
    """SELECT doc_id, source, n_chars,
      |  CAST(row_number() OVER (PARTITION BY source
      |    ORDER BY n_chars, doc_id) AS INT) AS rn
      |FROM documents ORDER BY rn, source, doc_id""".stripMargin

  // ------------------------------------------- cluster keep-best
  /** Canonical-representative selection: after near-dup detection, keep
    * exactly ONE document per duplicate group — the highest-quality one
    * — and flag the rest for dropping. The step that turns a dedup
    * signal into an actual curated corpus. Groups are the full
    * connected components of the MinHash-LSH pair graph
    * ([[Dedup.connectedComponents]] — chains collapse to one keeper,
    * not one per 1-hop label); docs in no pair are their own singleton
    * component and always kept. The keeper is argmax by
    * ([[TextAnalysis.tQuality]] score DESC, doc_id ASC).
    *
    * Scale shape: the component labeling is the audited iterative
    * min-label loop (checkpoint-truncated frontiers); quality is an
    * embarrassingly-parallel per-doc scan; the two meet in a doc_id
    * equi-join (components side is only the docs that appear in some
    * pair — tiny next to the corpus), and the keep window partitions
    * by component, whose size is bounded by duplicate-group size, not
    * corpus size. Determinism: quality is 6-dp-rounded with doc_id
    * tie-break, so the keeper never depends on partitioning.
    */
  def pKeepBest(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val comps = Dedup.connectedComponents(
      Dedup.minhashLshPairs(s, d).select(col("a"), col("b")), maxIters = 64)
    // qualityScored: the scores feed a join + keyed window — the
    // presentation sort would be a wasted corpus-grain range exchange
    val qual = TextAnalysis.qualityScored(s, d)
      .select(col("doc_id"), col("quality"))
    val w = Window.partitionBy("component")
      .orderBy(col("quality").desc, col("doc_id"))
    Tables.documents(s, d).select(col("doc_id"))
      .join(comps, col("doc_id") === col("id"), "left")
      .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("component"))
      .join(qual, "doc_id")
      .withColumn("keep",
        when(row_number().over(w) === 1, 1).otherwise(0).cast("int"))
      .select("doc_id", "component", "quality", "keep")
      .orderBy("doc_id")
  }

  val pKeepBestSql: String =
    s"""WITH comps AS (SELECT id, component FROM (${Dedup.dComponentsSql}) t),
       |q AS (SELECT doc_id, quality FROM (${TextAnalysis.tQualitySql}) t),
       |lab AS (SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
       |  FROM documents d LEFT JOIN comps c ON d.doc_id = c.id)
       |SELECT doc_id, component, quality,
       |  CAST(CASE WHEN row_number() OVER (PARTITION BY component
       |    ORDER BY quality DESC, doc_id) = 1 THEN 1 ELSE 0 END AS INT) AS keep
       |FROM lab JOIN q USING (doc_id) ORDER BY doc_id""".stripMargin

  // --------------------------------------------------- corpus merkle

  /** Hierarchical corpus digest (a 2-level Merkle tree over content
    * digests): leaf = md5 of each document's text; level 0 = per-bucket
    * md5 over the bucket's SORTED leaf digests (bucket = first leaf
    * byte); level 1 = the root, md5 over the bucket digests in bucket
    * order. The data-versioning primitive next to [[pSnapshotDiff]]:
    * two corpus snapshots are equal iff roots match, and a mismatch
    * narrows to the differing buckets WITHOUT comparing N docs — the
    * rsync/Dynamo anti-entropy shape for training-data snapshots.
    *
    * Scale shape: one scan computes leaves; the only shuffle is the
    * bucket aggregation into 256 buckets, one per first digest byte
    * (per-bucket state is the sorted digest list, N/256 × 32 hex
    * chars); the root folds those 256 rows.
    * Determinism: digests are md5 hex (engine-identical), bucket
    * concatenation is explicitly sorted, so partitioning can never
    * reach any digest.
    */
  def pMerkle(s: SparkSession, d: String): DataFrame = {
    val leaves = Tables.documents(s, d)
      .select(md5(col("text").cast("binary")).as("digest"))
      .select(col("digest"),
        org.apache.spark.sql.functions.conv(substring(col("digest"), 1, 2), 16, 10)
          .cast("int").as("bucket"))
    val lvl0 = leaves.groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        md5(concat_ws("", sort_array(collect_list(col("digest")))).cast("binary"))
          .as("digest"))
    val root = lvl0
      .select(struct(col("bucket"), col("digest")).as("bd"), col("n"))
      .agg(sum(col("n")).as("n"),
        md5(concat_ws("", transform(array_sort(collect_list(col("bd"))),
          x => x("digest"))).cast("binary")).as("digest"))
      .select(lit(1).as("level"), lit(-1).as("bucket"), col("n"), col("digest"))
    lvl0.select(lit(0).as("level"), col("bucket"), col("n"), col("digest"))
      .unionByName(root)
      .orderBy("level", "bucket")
  }

  val pMerkleSql: String =
    s"""WITH leaves AS (SELECT md5(text) AS digest,
       |    CAST(('0x' || substr(md5(text), 1, 2)) AS INT) AS bucket
       |  FROM documents),
       |lvl0 AS (SELECT bucket, COUNT(*) AS n,
       |    md5(string_agg(digest, '' ORDER BY digest)) AS digest
       |  FROM leaves GROUP BY 1),
       |root AS (SELECT 1 AS level, -1 AS bucket,
       |    CAST(SUM(n) AS BIGINT) AS n,
       |    md5(string_agg(digest, '' ORDER BY bucket)) AS digest FROM lvl0)
       |SELECT CAST(level AS INT) AS level, CAST(bucket AS INT) AS bucket, n, digest FROM (
       |  SELECT 0 AS level, bucket, n, digest FROM lvl0
       |  UNION ALL SELECT level, bucket, n, digest FROM root)
       |ORDER BY level, bucket""".stripMargin

  // ------------------------------------------------- length buckets
  /** Sequence-length planning histogram: documents bucketed by token
    * count in fixed [[LenBucketWidth]]-token buckets, with per-bucket
    * doc/token totals and the cumulative token share — the table that
    * answers "what max_seq_len captures X % of corpus tokens, and how
    * much padding does each choice waste" before committing to a
    * packing config ([[pPack]]/[[pPackBpe]] consume the decision).
    * Bucket math is pure integer arithmetic (`n − n mod W`, exact on
    * both engines); the cumulative sum runs over exact BIGINTs with
    * one final division and round. Scale: the per-doc tokenize+count
    * collapses map-side into at most corpus_len/W bucket rows; the
    * unpartitioned cumulative window touches only those bucket rows
    * (bounded, single-task by design, like [[pDatacard]]'s totals);
    * the 1-row grand total broadcasts.
    */
  val LenBucketWidth = 16

  def pLengthBuckets(s: SparkSession, d: String): DataFrame = {
    val t = Tables.documents(s, d)
      .select(size(Text.tokens(col("text"))).as("n"))
    val b = t.groupBy((col("n") - pmod(col("n"), lit(LenBucketWidth))).as("bucket_lo"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("sum_tokens"))
    val tot = t.agg(sum(col("n")).cast("double").as("total"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("bucket_lo")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    b.crossJoin(broadcast(tot))
      .select(col("bucket_lo").cast("int").as("bucket_lo"),
        col("n_docs"), col("sum_tokens"),
        round(sum(col("sum_tokens")).over(w).cast("double") / col("total"), 6)
          .as("cum_token_share"))
      .orderBy("bucket_lo")
  }

  val pLengthBucketsSql: String =
    s"""WITH t AS (SELECT len(${Text.ToksSql}) AS n FROM documents),
       |b AS (SELECT n - n % $LenBucketWidth AS bucket_lo, COUNT(*) AS n_docs,
       |    CAST(SUM(n) AS BIGINT) AS sum_tokens
       |  FROM t GROUP BY 1)
       |SELECT CAST(bucket_lo AS INT) AS bucket_lo, n_docs, sum_tokens,
       |  round(CAST(SUM(sum_tokens) OVER (ORDER BY bucket_lo
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
       |    / (SELECT CAST(SUM(n) AS DOUBLE) FROM t), 6) AS cum_token_share
       |FROM b ORDER BY bucket_lo""".stripMargin

  // ------------------------------------------- temperature sampling mix
  /** Temperature-scaled source sampling — the multilingual/multi-source
    * mixing rule (sample source i with probability ∝ tokensᵢ^α,
    * α ∈ (0,1]) that up-weights small sources relative to their natural
    * share so the head sources don't drown the tail. Emits, per source:
    * exact token count, natural share, temperature share at
    * α = [[PTempAlpha]], and the boost factor (temp/natural — > 1 means
    * the source is up-sampled). This is the PLANNING table a mixing run
    * (see [[pMix]]) consumes: p_mix applies fixed per-source epoch
    * weights; this query derives principled ones from the data.
    *
    * Scale shape: one source-bounded partial aggregation over the
    * corpus (token counting fuses into the scan stage); the two
    * normalization totals are a 1-row broadcast. Nothing else moves.
    *
    * Determinism: token counts are exact integers; the α-power weight
    * is quantized onto the 10⁻⁶ grid (round-6 then floor to micro
    * units) so the normalizing denominator is an exact ORDER-FREE
    * integer sum — the one place a naive double sum would depend on
    * partition order; shares divide exact integers and round once.
    */
  val PTempAlpha = 0.7

  def pTemperatureMix(s: SparkSession, d: String): DataFrame = {
    val perSrc = Tables.documents(s, d)
      .select(col("source"), size(Text.tokens(col("text"))).cast("long").as("toks"))
      .groupBy("source").agg(sum(col("toks")).as("tokens"))
      .select(col("source"), col("tokens"),
        floor(round(pow(col("tokens").cast("double"), lit(PTempAlpha)), 6)
          * lit(1e6)).cast("long").as("wq"))
    val tot = perSrc.agg(sum(col("tokens")).as("tot"), sum(col("wq")).as("swq"))
    perSrc.crossJoin(broadcast(tot))
      .select(col("source"), col("tokens"),
        round(col("tokens").cast("double") / col("tot"), 6).as("p_nat"),
        round(col("wq").cast("double") / col("swq"), 6).as("p_temp"),
        round(col("wq").cast("double") / col("swq") * col("tot") / col("tokens"), 6)
          .as("boost"))
      .orderBy("source")
  }

  val pTemperatureMixSql: String =
    s"""WITH t AS (SELECT source, len(${Text.ToksSql}) AS toks FROM documents),
       |src AS (SELECT source, CAST(SUM(toks) AS BIGINT) AS tokens,
       |    CAST(floor(round(pow(CAST(SUM(toks) AS DOUBLE), $PTempAlpha), 6)
       |      * 1000000.0) AS BIGINT) AS wq
       |  FROM t GROUP BY 1),
       |tot AS (SELECT CAST(SUM(tokens) AS BIGINT) AS tot,
       |    CAST(SUM(wq) AS BIGINT) AS swq FROM src)
       |SELECT source, tokens,
       |  round(CAST(tokens AS DOUBLE) / tot, 6) AS p_nat,
       |  round(CAST(wq AS DOUBLE) / swq, 6) AS p_temp,
       |  round(CAST(wq AS DOUBLE) / swq * tot / tokens, 6) AS boost
       |FROM src, tot ORDER BY source""".stripMargin

  // --------------------------------------- perplexity-decile filter
  /** Perplexity-based quality filtering report — the model-based
    * complement of [[curate]]'s surface heuristics and the filter
    * CCNet popularized: score every document with the corpus-trained
    * unigram LM ([[TextAnalysis.tUnigramLp]]'s avg log-probability),
    * mark the documents below the exact 10th-percentile score (most
    * surprising under the LM = most likely junk), and report the
    * flag impact per source: docs and flagged docs — pure counts, by
    * the FIXTURES §C mean-tie rule in its strictest form (per-doc
    * scores are unrounded bit-identical doubles, and re-quantizing
    * them for a score sum measurably ties at the decimal-cast
    * boundary — observed at sf0.001; the flag predicate and counts
    * are exact). A source whose flag share is far above 10 %
    * concentrates low-quality text and is a candidate for a smaller
    * [[pMix]] weight — the number this report exists to surface.
    *
    * The cutoff is `percentile_disc(0.1)` — an ATTAINED score value,
    * selected not interpolated. Determinism rests on the scores
    * themselves being bit-identical across engines: `avg_logp` is an
    * exact-DECIMAL log-prob sum divided by an integer count (one IEEE
    * division of two exact operands, same quotient everywhere), so
    * percentile_disc picks the same attained double on both sides and
    * the flag predicate `score <= cutoff` is exact; flagged counts
    * include boundary ties (documented contract: "at or below the
    * decile value").
    *
    * Scale shape: the LM scoring is [[TextAnalysis.tUnigramLp]]'s
    * plan (vocab-bounded count table broadcast onto the exploded
    * corpus); the cutoff is a 1-row aggregate broadcast back onto
    * the per-doc scores; the report is a source-keyed aggregation of
    * doc-count-sized rows. No global sort, no driver loop — the
    * decile selection inside percentile_disc sorts score values
    * within one aggregate over doc-count rows (fixture-fine; at
    * 100 TB swap in an exact distributed selection or accept
    * approx_percentile's rank error on a 10⁻⁴-granular cutoff).
    */
  def pQualityPpl(s: SparkSession, d: String): DataFrame = {
    // the scores feed TWO consumers (the decile aggregate and the
    // per-source report join) — pinned so the whole LM scoring plan
    // (corpus tokenize + explode + vocab join + per-doc aggregate)
    // runs once, not once per consumer; unigramScored (not tUnigramLp)
    // so neither branch inherits the presentation sort — the old form
    // ran the scoring twice with a corpus-grain range exchange + global
    // sort under the 1-row percentile aggregate
    val scored = Materialize.pin(TextAnalysis.unigramScored(s, d)
      .select(col("doc_id"), col("avg_logp")))
    val cut = scored.agg(
      expr("percentile_disc(0.1) WITHIN GROUP (ORDER BY avg_logp)").as("cut"))
    Tables.documents(s, d).select(col("doc_id"), col("source"))
      .join(scored, Seq("doc_id"))
      .crossJoin(broadcast(cut))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum((col("avg_logp") <= col("cut")).cast("long")).as("n_flagged"))
      .orderBy("source")
  }

  val pQualityPplSql: String = {
    val inner = graft.operators.TextAnalysis.tUnigramLpSql
    s"""WITH scored AS (SELECT doc_id, avg_logp FROM ($inner)),
       |cut AS (SELECT quantile_disc(avg_logp, 0.1) AS cut FROM scored)
       |SELECT d.source, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN s.avg_logp <= c.cut THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_flagged
       |FROM documents d JOIN scored s USING (doc_id) CROSS JOIN cut c
       |GROUP BY d.source ORDER BY d.source""".stripMargin
  }

  // ------------------------------------------- epoch / repeat planning
  /** Per-source repeat-factor planning — the budgeting step between
    * [[pTemperatureMix]]'s weights and an actual training run: given
    * a token budget of [[PEpochBudgetX]]× the corpus (the "how many
    * epochs can we afford" number every run plans with), each
    * source's token TARGET is budget·w/Σw and its repeat factor is
    * target/tokens — emitted in exact integer micro-units
    * (epochs_x1e6 = 1.5e6 means "this source is seen 1.5 times").
    * Down-weighted sources repeat < 1× (subsampled); up-weighted
    * small sources repeat several times — the Chinchilla-style
    * mixing table, machine-readable.
    *
    * Determinism: the α-power weights ride pTemperatureMix's
    * micro-quantized grid; target and repeat factor are integer
    * floor divisions of int64-safe products (tot·wq ≲ 10¹⁶ at
    * fixture scale; at corpus sizes where tokens·wq nears 2⁶³ the
    * product goes through DECIMAL — noted, not needed here).
    *
    * Scale shape: identical to pTemperatureMix — a source-bounded
    * aggregation fused into the scan, a 1-row totals broadcast, and
    * sources×4 output rows.
    */
  def pEpochs(s: SparkSession, d: String): DataFrame = {
    val perSrc = Tables.documents(s, d)
      .select(col("source"), size(Text.tokens(col("text"))).cast("long").as("toks"))
      .groupBy("source").agg(sum(col("toks")).as("tokens"))
      .select(col("source"), col("tokens"),
        floor(round(pow(col("tokens").cast("double"), lit(PTempAlpha)), 6)
          * lit(1e6)).cast("long").as("wq"))
    val tot = perSrc.agg(sum(col("tokens")).as("tot"), sum(col("wq")).as("swq"))
    perSrc.crossJoin(broadcast(tot))
      .select(col("source"), col("tokens"),
        expr(s"($PEpochBudgetX * tot * wq) div swq").as("target_tokens"))
      .select(col("source"), col("tokens"), col("target_tokens"),
        expr("(target_tokens * 1000000) div tokens").as("epochs_x1e6"))
      .orderBy("source")
  }

  /** Token budget as a multiple of corpus size. */
  val PEpochBudgetX = 3L

  val pEpochsSql: String =
    s"""WITH t AS (SELECT source, len(${Text.ToksSql}) AS toks FROM documents),
       |src AS (SELECT source, CAST(SUM(toks) AS BIGINT) AS tokens,
       |    CAST(floor(round(pow(CAST(SUM(toks) AS DOUBLE), $PTempAlpha), 6)
       |      * 1000000.0) AS BIGINT) AS wq
       |  FROM t GROUP BY 1),
       |tot AS (SELECT CAST(SUM(tokens) AS BIGINT) AS tot,
       |    CAST(SUM(wq) AS BIGINT) AS swq FROM src),
       |tgt AS (SELECT source, tokens,
       |    ($PEpochBudgetX * tot * wq) // swq AS target_tokens
       |  FROM src, tot)
       |SELECT source, tokens, target_tokens,
       |  (target_tokens * 1000000) // tokens AS epochs_x1e6
       |FROM tgt ORDER BY source""".stripMargin

  // ------------------------------------------------ corpus integrity
  /** Corpus integrity audit — [[Events.eDqAudit]]'s twin for the
    * documents table, one row per check: duplicate doc_ids (primary-
    * key violations), empty/whitespace-only text, a `n_chars` column
    * that disagrees with the actual codepoint length (stale derived
    * column — the classic silent-reprocessing bug), lang codes
    * outside the corpus's own observed set... checked as blank/null
    * only (the set is open), and null sources. Zero counts are the
    * passing state; every check row always emits.
    *
    * Scale shape: row-local checks fuse into one scan pass with
    * map-side conditional sums; the duplicate check is one id-keyed
    * aggregation. Counts are exact integers.
    */
  def pIntegrity(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val dups = docs.groupBy("doc_id").agg(count(lit(1)).as("c"))
      .agg(sum(when(col("c") > 1, col("c") - 1).otherwise(lit(0L)))
        .as("n_bad"), sum(col("c")).as("n_total"))
      .select(lit("duplicate_doc_id").as("check_name"),
        col("n_bad"), col("n_total"))
    val rowChecks = docs.agg(
      count(lit(1)).as("n"),
      sum(when(col("text").isNull || trim(col("text")) === "", 1L)
        .otherwise(0L)).as("empty_text"),
      sum(when(col("n_chars") =!= length(col("text")), 1L).otherwise(0L))
        .as("n_chars_mismatch"),
      sum(when(col("lang").isNull || col("lang") === "", 1L).otherwise(0L))
        .as("blank_lang"),
      sum(when(col("source").isNull || col("source") === "", 1L)
        .otherwise(0L)).as("blank_source"))
    Seq("empty_text", "n_chars_mismatch", "blank_lang", "blank_source")
      .map(c => rowChecks.select(lit(c).as("check_name"),
        col(c).as("n_bad"), col("n").as("n_total")))
      .reduce(_.unionAll(_))
      .unionAll(dups)
      .orderBy("check_name")
  }

  // --------------------------------------------- k-anonymity audit
  // ------------------------------------------------ right-to-be-forgotten
  /** Right-to-be-forgotten purge audit — the compliance artifact a
    * training-data pipeline emits when a deletion request lands: per
    * source, documents before, documents purged, documents after, and
    * an order-insensitive checksum over the SURVIVORS' ids (the value
    * an auditor recomputes later to prove the purged ids never crept
    * back in a rebuild). The forget set here is the deterministic
    * ~3 % md5 gate standing in for an external request list; the
    * production op swaps in a broadcast membership join against that
    * list (exactly [[pDecontaminate]]'s shape).
    *
    * The checksum is Σ (48-bit md5 prefix of the id) mod p over
    * surviving docs — mergeable (a plain SUM), order-free, and within
    * BIGINT headroom past 10¹² documents (each term < 10⁹+7).
    *
    * Scale shape: one map-side pass derives gate + term per row; one
    * source-keyed aggregation; counts exact.
    */
  def pForget(s: SparkSession, d: String): DataFrame = {
    val gate = substring(
      md5(concat(lit("forget|"), col("doc_id").cast("string"))), 1, 2) < "08"
    val term = pmod(
      conv(substring(md5(concat(lit("idsig|"), col("doc_id").cast("string"))),
        1, 12), 16, 10).cast("long"),
      lit(1000000007L))
    Tables.documents(s, d)
      .select(col("source"), gate.as("forget"), term.as("term"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_before"),
        sum(col("forget").cast("long")).as("n_forgotten"),
        sum((!col("forget")).cast("long")).as("n_after"),
        sum(when(!col("forget"), col("term")).otherwise(lit(0L)))
          .as("survivor_checksum"))
      .orderBy("source")
  }

  val pForgetSql: String =
    """SELECT source, COUNT(*) AS n_before,
      |  CAST(SUM(CASE WHEN forget THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_forgotten,
      |  CAST(SUM(CASE WHEN forget THEN 0 ELSE 1 END) AS BIGINT) AS n_after,
      |  CAST(SUM(CASE WHEN forget THEN 0 ELSE term END) AS BIGINT)
      |    AS survivor_checksum
      |FROM (SELECT source,
      |    substr(md5('forget|' || CAST(doc_id AS VARCHAR)), 1, 2) < '08'
      |      AS forget,
      |    CAST(('0x' || substr(md5('idsig|' || CAST(doc_id AS VARCHAR)),
      |      1, 12)) AS BIGINT) % 1000000007 AS term
      |  FROM documents)
      |GROUP BY 1 ORDER BY source""".stripMargin

  // ---------------------------------------- differentially-private release
  /** ε for the released per-source counts (sensitivity 1: one document
    * moves one source's count by one).
    */
  val DpEps = 0.5
  /** Truncation radius of the discrete-Laplace noise table; tail mass
    * beyond ±K collapses onto ±K (≈ alpha^K/(1+alpha) ≈ 2·10⁻⁵ per
    * side at ε=0.5) — the standard bounded-noise variant.
    */
  val DpK = 20

  /** Inverse-CDF breakpoints of the two-sided geometric (discrete
    * Laplace) distribution P(Z=k) ∝ e^{-ε|k|}, k ∈ [-K, K], encoded as
    * 13-hex-digit cumulative thresholds. The noise draw for a uniform
    * hex string u is |{b : b ≤ u}| − K — a pure STRING comparison, so
    * both engines sample the identical integer with zero cross-engine
    * float math (the table is computed once here and embedded as
    * literals in both plans; 13 hex digits = 52 bits, exact in the
    * double arithmetic that builds the table).
    */
  private[graft] val dpBreaks: Seq[String] = {
    val alpha = math.exp(-DpEps)
    val p0 = (1 - alpha) / (1 + alpha)
    val probs = (-DpK to DpK).map(k => p0 * math.pow(alpha, math.abs(k)))
    val cums = probs.scanLeft(0.0)(_ + _).tail
    cums.dropRight(1).map { c =>
      val v = math.floor(c * math.pow(16.0, 13.0)).toLong
      f"$v%013x"
    }
  }

  /** Differentially-private released per-source document counts — the
    * publishable datacard row when the corpus's source mix is itself
    * sensitive (licensing negotiations, crawl-partner NDAs). Adds
    * discrete-Laplace noise (ε = [[DpEps]], sensitivity 1) to each
    * source's count via the geometric mechanism, then clamps at 0
    * (post-processing preserves DP). The noise draw is derived from
    * md5 of the source name against the [[dpBreaks]] inverse-CDF
    * table, so the release is deterministic per source AND
    * bit-identical cross-engine — a seeded mechanism, the standard
    * trick for reproducible DP pipelines (the seed, not the noise, is
    * the secret).
    *
    * Scale shape: one map-side-combined groupBy(source) — source-count
    * rows thereafter; the noise fold is a 40-element literal-array
    * filter per SOURCE row, not per document. Counts exact before
    * noising.
    */
  def pDpRelease(s: SparkSession, d: String): DataFrame = {
    val u = substring(md5(concat(lit("dp|"), col("source"))), 1, 13)
    val noise = (size(filter(
      array(dpBreaks.map(lit(_)): _*), b => u >= b)) - lit(DpK)).cast("long")
    Tables.documents(s, d)
      .groupBy("source").agg(count(lit(1)).as("n"))
      .select(col("source"),
        greatest(lit(0L), col("n") + noise).as("n_released"))
      .orderBy("source")
  }

  val pDpReleaseSql: String = {
    val arr = dpBreaks.map(b => s"'$b'").mkString(", ")
    s"""WITH c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY 1),
       |z AS (SELECT source, n,
       |    len(list_filter([$arr],
       |      b -> b <= substr(md5('dp|' || source), 1, 13))) - $DpK AS noise
       |  FROM c)
       |SELECT source, CAST(greatest(0, n + noise) AS BIGINT) AS n_released
       |FROM z ORDER BY source""".stripMargin
  }

  /** k-anonymity release audit over the corpus's quasi-identifiers —
    * the privacy check run before a dataset ships: group documents by
    * the attribute combination an adversary could link on (language ×
    * source × length bucket of 100 chars) and report, per k-threshold
    * (k ∈ {2, 5, 10}), how many equivalence classes fall below k and
    * how many documents sit in those re-identifiable classes. A class
    * of size 1 is a unique fingerprint; classes ≥ k are the safe
    * crowd. Generalize (coarser buckets, dropped attributes) until
    * the at-risk counts are acceptable — this table is the loop's
    * measurement.
    *
    * Scale shape: one groupBy on the quasi-identifier tuple (map-side
    * partial counts), then a 3-row threshold sweep over the
    * class-size table — class-count rows, never documents. Counts
    * exact.
    */
  def pKanon(s: SparkSession, d: String): DataFrame = {
    val classes = Tables.documents(s, d)
      .groupBy(col("lang"), col("source"),
        expr("n_chars div 100").as("len_bucket"))
      .agg(count(lit(1)).as("csize"))
    val ks = Seq(2, 5, 10)
    ks.map(k =>
      classes.agg(
        lit(k).as("k"),
        count(lit(1)).as("n_classes"),
        sum(when(col("csize") < k, 1L).otherwise(0L)).as("classes_at_risk"),
        sum(when(col("csize") < k, col("csize")).otherwise(lit(0L)))
          .as("docs_at_risk"),
        sum(col("csize")).as("n_docs")))
      .reduce(_.unionAll(_))
      .orderBy("k")
  }

  val pKanonSql: String = {
    val arm = (k: Int) =>
      s"""SELECT $k AS k, COUNT(*) AS n_classes,
         |  CAST(SUM(CASE WHEN csize < $k THEN 1 ELSE 0 END) AS BIGINT)
         |    AS classes_at_risk,
         |  CAST(SUM(CASE WHEN csize < $k THEN csize ELSE 0 END) AS BIGINT)
         |    AS docs_at_risk,
         |  CAST(SUM(csize) AS BIGINT) AS n_docs
         |FROM classes""".stripMargin
    s"""WITH classes AS (SELECT lang, source, n_chars // 100 AS len_bucket,
       |    COUNT(*) AS csize
       |  FROM documents GROUP BY 1, 2, 3)
       |${Seq(2, 5, 10).map(arm).mkString("\nUNION ALL\n")}
       |ORDER BY k""".stripMargin
  }

  val pIntegritySql: String =
    """WITH rowc AS (SELECT COUNT(*) AS n,
      |    CAST(SUM(CASE WHEN text IS NULL OR trim(text) = ''
      |      THEN 1 ELSE 0 END) AS BIGINT) AS empty_text,
      |    CAST(SUM(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_chars_mismatch,
      |    CAST(SUM(CASE WHEN lang IS NULL OR lang = '' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS blank_lang,
      |    CAST(SUM(CASE WHEN source IS NULL OR source = ''
      |      THEN 1 ELSE 0 END) AS BIGINT) AS blank_source
      |  FROM documents),
      |dups AS (SELECT 'duplicate_doc_id' AS check_name,
      |    CAST(SUM(CASE WHEN c > 1 THEN c - 1 ELSE 0 END) AS BIGINT)
      |      AS n_bad,
      |    CAST(SUM(c) AS BIGINT) AS n_total
      |  FROM (SELECT doc_id, COUNT(*) AS c FROM documents GROUP BY 1))
      |SELECT * FROM (
      |  SELECT 'empty_text' AS check_name, empty_text AS n_bad, n AS n_total
      |    FROM rowc
      |  UNION ALL SELECT 'n_chars_mismatch', n_chars_mismatch, n FROM rowc
      |  UNION ALL SELECT 'blank_lang', blank_lang, n FROM rowc
      |  UNION ALL SELECT 'blank_source', blank_source, n FROM rowc
      |  UNION ALL SELECT * FROM dups)
      |ORDER BY check_name""".stripMargin

  // --------------------------------------- embedding domain shift
  /** Per-source embedding-centroid shift — PSI's sibling in embedding
    * space: for each document source, the cosine between that source's
    * mean embedding and the global mean. A source whose centroid sits
    * far off the corpus mix (low cosine) is the domain to investigate
    * before it skews a training run — the semantic drift check that
    * token-level monitors ([[graft.operators.Events.ePsi]], t_divergence)
    * can't see, because two sources can share a vocabulary and still
    * embed differently.
    *
    * Scale shape: ONE pass over the joined (source, embedding) rows —
    * per-(source, dim) exact-decimal component sums collapse map-side
    * to |sources|·64 rows, the global mean derives from regrouping
    * those same sums (no second corpus pass), and the cosine runs on
    * the ≤|sources|+1 tiny mean frames (broadcast join). Determinism:
    * the lloydStep mean idiom — DECIMAL(20,8) sums, one double
    * division per component, index-ordered double folds for dot/norm
    * (identical on both engines), rounded once at 6 dp.
    */
  def pDomainShift(s: SparkSession, d: String): DataFrame = {
    val joined = Tables.documents(s, d).select(col("doc_id"), col("source"))
      .join(Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
        col("doc_id") === col("vec_id"))
      .select(col("source"), posexplode(col("embedding")).as(Seq("pos", "v")))
    // per-(source, dim) exact sums — reused (regrouped, not rescanned)
    // for the global mean
    val sums = Materialize.pin(joined.groupBy("source", "pos")
      .agg(sum(col("v").cast("decimal(20,8)")).as("sv"),
        count(lit(1)).as("n")))
    def meanVec(df: DataFrame, key: Seq[Column], out: String): DataFrame =
      df.groupBy(key: _*)
        .agg(array_sort(collect_list(struct(col("pos"),
          (col("sv").cast("double") / col("n")).as("mv")))).as("pm"),
          max(col("n")).as("n_docs"))
        .withColumn(out, transform(col("pm"), p => p.getField("mv")))
        .drop("pm")
    val bySource = meanVec(sums, Seq(col("source")), "m_src")
    val global = meanVec(
      sums.groupBy("pos").agg(sum(col("sv")).as("sv"), sum(col("n")).as("n")),
      Seq(), "m_all").select(col("m_all"))
    def dotd(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    def nrm(a: Column): Column =
      sqrt(aggregate(transform(a, x => x * x), lit(0.0), (acc, x) => acc + x))
    bySource.crossJoin(broadcast(global))
      .select(col("source"), col("n_docs"),
        round(dotd(col("m_src"), col("m_all"))
          / (nrm(col("m_src")) * nrm(col("m_all"))), 6).as("cos_to_global"))
      .orderBy("source")
  }

  val pDomainShiftSql: String =
    """WITH j AS (SELECT d.source, e.embedding
      |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
      |x AS (SELECT source, i AS pos, CAST(embedding[i] AS DOUBLE) AS v
      |  FROM j CROSS JOIN range(1, 65) t(i)),
      |sums AS (SELECT source, pos, SUM(CAST(v AS DECIMAL(20,8))) AS sv,
      |    COUNT(*) AS n FROM x GROUP BY 1, 2),
      |ms AS (SELECT source, MAX(n) AS n_docs,
      |    list(CAST(sv AS DOUBLE) / n ORDER BY pos) AS m_src
      |  FROM sums GROUP BY 1),
      |gsum AS (SELECT pos, SUM(sv) AS sv, SUM(n) AS n FROM sums GROUP BY 1),
      |mg AS (SELECT list(CAST(sv AS DOUBLE) / n ORDER BY pos) AS m_all
      |  FROM gsum)
      |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
      |  round(list_reduce(list_transform(range(1, 65),
      |      i -> m_src[i] * m_all[i]), (a, b) -> a + b)
      |    / (sqrt(list_reduce(list_transform(m_src, x -> x * x),
      |        (a, b) -> a + b))
      |      * sqrt(list_reduce(list_transform(m_all, x -> x * x),
      |        (a, b) -> a + b))), 6) AS cos_to_global
      |FROM ms CROSS JOIN mg ORDER BY source""".stripMargin

  val queries: Map[String, ((SparkSession, String) => DataFrame, String)] = Map(
    "p_domain_shift" -> (pDomainShift _, pDomainShiftSql),
    "p_integrity"   -> (pIntegrity _, pIntegritySql),
    "p_kanon"       -> (pKanon _, pKanonSql),
    "p_dp_release"  -> (pDpRelease _, pDpReleaseSql),
    "p_forget"      -> (pForget _, pForgetSql),
    "p_epochs"      -> (pEpochs _, pEpochsSql),
    "p_quality_ppl" -> (pQualityPpl _, pQualityPplSql),
    "p_temperature_mix" -> (pTemperatureMix _, pTemperatureMixSql),
    "p_length_buckets" -> (pLengthBuckets _, pLengthBucketsSql),
    "p_keep_best" -> (pKeepBest _, pKeepBestSql),
    "p_merkle" -> (pMerkle _, pMerkleSql),
    "p_curate" -> (curate _, curateSql),
    "p_interleave" -> (pInterleave _, pInterleaveSql),
    "p_datacard" -> (pDatacard _, pDatacardSql),
    "p_decontaminate" -> (pDecontaminate _, pDecontaminateSql),
    "p_mix" -> (pMix _, pMixSql),
    "p_pack" -> (pPack _, pPackSql),
    "p_pack_bpe" -> (pPackBpe _, pPackBpeSql),
    "p_curriculum" -> (pCurriculum _, pCurriculumSql),
    "p_sample" -> (sample _, sampleSql),
    "p_shuffle" -> (pShuffle _, pShuffleSql),
    "p_triplets" -> (pTriplets _, pTripletsSql),
    "p_snapshot_diff" -> (pSnapshotDiff _, pSnapshotDiffSql),
    "p_sample_stratified" -> (sampleStratified _, sampleStratifiedSql),
    "p_sample_weighted" -> (pSampleWeighted _, pSampleWeightedSql),
    "p_split" -> (pSplit _, pSplitSql),
    "p_split_leakage" -> (pSplitLeakage _, pSplitLeakageSql),
  )
}
