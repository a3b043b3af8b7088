package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Vectors
import graft.sources.IndexStore

/** Similarity search over the `embeddings` fixture (ArrayType(FloatType),
  * dim 64): brute-force cosine top-k as the exact baseline, and an
  * IVF-style two-probe ANN as the scale path. Both oracle-checked.
  *
  * Scale design (100 TB of vectors):
  *  - Brute force is O(|Q|·N) with the query side BROADCAST — the big
  *    vector table is scanned once, never shuffled; ranking shuffles only
  *    (q, candidate, score) triples, not vectors.
  *  - IVF: K centroids fitted by deterministic k-medoids iterations
  *    (seeded from vec_id < K, refined by [[lloydStep]]). Cell
  *    assignment is a broadcast map-side cross (K·N rows, collapses to
  *    one row per vector via min-by-rank), so the inverted index is
  *    produced with ZERO shuffles of the vector data; probing joins the
  *    query's nProbe cells only — the pair join touches ~nProbe/K of the
  *    corpus instead of all of it.
  *
  * Determinism: cosines are bit-identical across engines (sequential
  * double folds, see graft.functions.Vectors); ranking always orders by
  * (rounded cosine DESC, id ASC) so ties never depend on partitioning.
  */
object Similarity {

  val NumQueries = 10   // query set: vec_id < NumQueries
  val TopK = 5
  val IvfK = 16         // centroids: k-means K (seeded from vec_id < K)
  val NumProbes = 2
  // Deterministic medoid refinements of the seeds. One iteration: the
  // fit was measured to reach its fixed point after a single step on
  // the fixtures (assignments from cent1 == assignments from cent2,
  // moved=0 of 500 — see docs/PLANS.md), so a second inline iteration
  // would recompute identical centroids at full assignment cost. At
  // real scale the fit iterates to convergence OUTSIDE the query and
  // persists centroids (see lloydStep scaladoc).
  val LloydIters = 1

  /** embeddings + norm behind a vec_id exchange. What the exchange
    * actually buys (verified in final adaptive plans): consumers whose
    * subplans stay structurally identical read it as a ReusedExchange,
    * so the scan+shuffle runs once; consumers the optimizer transforms
    * differently (pushed filters, pruned columns) re-derive their copy,
    * and Catalyst pushes the norm projection above the exchange in any
    * case — re-running that per-row float fold per consumer is cheap
    * and accepted; the exchange's other job is spreading the
    * single-split fixture scan across cores before CPU-heavy work.
    */
  private def withNorm(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).select(
      col("vec_id"), col("embedding"),
      Vectors.norm(col("embedding")).as("nrm"))
      .repartition(s.sparkContext.defaultParallelism, col("vec_id"))

  // --------------------------------------------------- brute-force top-k
  /** Shared exact shortlist: broadcast query set × corpus scan, rounded
    * cosine, ranked (cos desc, n_id), kept to `k` per query. The ONE
    * place the brute-force retrieval idiom lives — sCosineTopK emits
    * it directly, sMmr re-ranks it (keepVecs carries the candidate
    * embeddings through for the pairwise penalty sims).
    */
  private def cosineShortlist(s: SparkSession, d: String, k: Int,
      keepVecs: Boolean): DataFrame = {
    val base = withNorm(s, d)
    val q = base.toDF("q_id", "q_emb", "q_nrm").filter(col("q_id") < NumQueries)
    val cos = round(
      Vectors.cosineWithNorms(Vectors.dot(col("q_emb"), col("embedding")),
        col("q_nrm"), col("nrm")), 6)
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
    val extra = if (keepVecs)
      Seq(col("embedding").as("emb"), col("nrm").as("cnrm")) else Seq.empty
    broadcast(q).crossJoin(base)
      .filter(col("q_id") =!= col("vec_id"))
      .select(Seq(col("q_id"), col("vec_id").as("n_id"), cos.as("cos")) ++ extra: _*)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
  }

  def sCosineTopK(s: SparkSession, d: String): DataFrame =
    cosineShortlist(s, d, TopK, keepVecs = false)
      .select("q_id", "n_id", "rnk", "cos")
      .orderBy("q_id", "rnk")

  /** DuckDB fragment: cosine between tables aliased a (query) and b. */
  private def cosSql(a: String, b: String): String =
    s"""round(list_reduce(list_transform(range(1, 65),
       |      i -> CAST($a.embedding[i] AS DOUBLE) * CAST($b.embedding[i] AS DOUBLE)),
       |      (x, y) -> x + y) / ($a.nrm * $b.nrm), 6)""".stripMargin

  private val NORM_CTE =
    """n AS (SELECT vec_id, embedding,
      |  sqrt(list_reduce(list_transform(embedding,
      |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, x) -> a + x)) AS nrm
      |FROM embeddings)""".stripMargin

  val sCosineTopKSql: String =
    s"""WITH $NORM_CTE,
       |scored AS (
       |  SELECT q.vec_id AS q_id, b.vec_id AS n_id, ${cosSql("q", "b")} AS cos
       |  FROM n q JOIN n b ON q.vec_id < $NumQueries AND q.vec_id <> b.vec_id),
       |ranked AS (SELECT q_id, n_id, cos,
       |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS INT) AS rnk
       |  FROM scored)
       |SELECT q_id, n_id, rnk, cos FROM ranked WHERE rnk <= $TopK
       |ORDER BY q_id, rnk""".stripMargin

  // ----------------------------------------------------------- IVF ANN

  /** One deterministic k-medoids (Lloyd-style) step: assign every
    * vector to its nearest (max-cosine) centroid, compute each cell's
    * mean, then pick the MEMBER vector closest to that mean as the new
    * centroid. Component means go through EXACT DECIMAL sums
    * (order-independent) with one double division at the end, so the
    * fit is bit-identical across engines and partitionings; keeping
    * centroids as actual member vectors (medoids, not means) preserves
    * the sharp angular Voronoi structure that drives ANN recall —
    * measured on the uniform synthetic fixture, mean-centroids smooth
    * recall 0.92→0.84 while medoids hold it (see docs/PLANS.md).
    *
    * Scale shape: assignment is a broadcast K-row cross (map-side, no
    * vector shuffle); the mean aggregation explodes components but
    * partial aggregation reduces each task's output to ≤ K·dim rows
    * before the (tiny) shuffle — the standard distributed k-means
    * step. At real scale the fit would be persisted once, not inlined
    * per query; here it is inlined to stay a pure DataFrame.
    */
  private def lloydStep(base: DataFrame, cent: DataFrame): DataFrame = {
    val ccos = round(
      Vectors.cosineWithNorms(Vectors.dot(col("embedding"), col("c_emb")),
        col("nrm"), col("c_nrm")), 6)
    // argmax as a partial-aggregable argMinDL(-ccos, c_id): picks max
    // ccos, ties by LOWEST c_id — identical selection to the previous
    // max(struct)/rank-1 window forms (IEEE negation inverts double
    // order exactly), but the (double, long) buffer is MUTABLE, so the
    // aggregate plans as whole-stage-codegen'd HashAggregate instead of
    // the SortAggregate a struct-typed buffer forces (profiled: ~1/3 of
    // executor CPU across the similarity suite was SortAggregateExec).
    // embedding/nrm ride as grouping keys (group-constant per vec_id)
    // so no array-buffered first() drags the aggregate back to sort.
    val assigned = base.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("embedding"), col("nrm"), col("c_id"), ccos.as("ccos"))
      .groupBy("vec_id", "embedding", "nrm")
      .agg(org.apache.spark.sql.graft.GraftSql
        .argMinDL(-col("ccos"), col("c_id")).as("m"))
      .select(col("m.v").as("cell"), col("vec_id"), col("embedding"), col("nrm"))
    val means = assigned
      .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("cell", "pos")
      .agg((sum(col("v").cast("decimal(20,8)")).cast("double") / count(lit(1))).as("mv"))
    val meanVec = means
      .groupBy("cell")
      .agg(array_sort(collect_list(struct(col("pos"), col("mv")))).as("pm"))
      .select(col("cell"), transform(col("pm"), p => p.getField("mv")).as("m_emb"))
    // medoid update: the member closest (max cosine) to the cell mean,
    // ties by vec_id — centroids stay actual data vectors
    val mdot = Vectors.dot(col("embedding"), col("m_emb"))
    val mnrm = sqrt(aggregate(transform(col("m_emb"), x => x * x),
      lit(0.0), (a, x) => a + x))
    val mcos = round(mdot / (col("nrm") * mnrm), 6)
    // medoid pick: same argmax (max mcos, ties by lowest vec_id) via
    // the hash-aggregable argMinDL; the winner's embedding/nrm are
    // recovered by a K-row broadcast join back to base (vec_id is
    // unique there, so the payload is exactly the winning row's) —
    // carrying arrays inside a max(struct) payload forced the whole
    // aggregate into SortAggregate
    val winners = assigned.join(meanVec, "cell")
      .select(col("cell"), col("vec_id"), col("embedding"), col("nrm"),
        mcos.as("mcos"))
      .groupBy("cell")
      .agg(org.apache.spark.sql.graft.GraftSql
        .argMinDL(-col("mcos"), col("vec_id")).as("m"))
      .select(col("cell").as("c_id"), col("m.v").as("w_id"))
    base.select(col("vec_id").as("w_id"), col("embedding").as("c_emb"),
        col("nrm").as("c_nrm"))
      .join(broadcast(winners), "w_id")
      .select(col("c_id"), col("c_emb"), col("c_nrm"))
  }

  def sAnnIvf(s: SparkSession, d: String): DataFrame = annIvf(s, d, LloydIters)

  /** IVF ANN with `iters` Lloyd refinements (0 = raw seeds; exposed so
    * the recall test can show the fit beats the seeds).
    */
  private def fittedCentroids(base: DataFrame, iters: Int): DataFrame = {
    val seeds = base.toDF("c_id", "c_emb", "c_nrm").filter(col("c_id") < IvfK)
    // pin the fitted K-row frame: its consumers (assignment + query
    // probes in annIvf, assignment in dSemdedup) are specialized
    // branches no reuse mechanism dedupes, so an unpinned fit re-runs
    // the full Lloyd chain per consumer. K rows — free to materialize
    // at any scale.
    Materialize.pin((1 to iters).foldLeft(seeds)((c, _) => lloydStep(base, c)))
  }

  /** Inverted index over already-built base/centroid frames: every
    * vector → nearest fitted centroid (1 row via rank). The query path
    * passes its own frames so the (expensive) fit subplan is referenced
    * once, not re-derived per consumer (ReuseExchange does not fire
    * across lambda-bearing subplans).
    */
  private def ivfAssignment(base: DataFrame, cent: DataFrame): DataFrame = {
    val centCos = round(
      Vectors.cosineWithNorms(Vectors.dot(col("embedding"), col("c_emb")),
        col("nrm"), col("c_nrm")), 6)
    // same hash-aggregable argmax as lloydStep: n rows shuffle instead
    // of n·K, no per-vector sort, and no SortAggregate (mutable
    // argMinDL buffer + payload-as-grouping-keys; semantics pinned
    // equal to the old forms by the fit's unchanged oracle hashes)
    base.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("embedding"), col("nrm"), col("c_id"), centCos.as("ccos"))
      .groupBy("vec_id", "embedding", "nrm")
      .agg(org.apache.spark.sql.graft.GraftSql
        .argMinDL(-col("ccos"), col("c_id")).as("m"))
      .select(col("vec_id"), col("embedding"), col("nrm"), col("m.v").as("cell"))
  }

  def annIvf(s: SparkSession, d: String, iters: Int,
      nProbe: Int = NumProbes): DataFrame = {
    val base = withNorm(s, d)
    val cent = fittedCentroids(base, iters)
    annIvfFrom(base, cent, ivfAssignment(base, cent), nProbe)
  }

  /** IVF search over ALREADY-BUILT index frames — callers that sweep a
    * parameter ([[sProbeCurve]]'s nProbe arms) pass pinned cent/assign
    * so the fit and the corpus assignment run once, not once per arm.
    */
  private def annIvfFrom(base: DataFrame, cent: DataFrame,
      assign: DataFrame, nProbe: Int): DataFrame =
    annIvfServe(base.filter(col("vec_id") < NumQueries)
      .toDF("q_id", "q_emb", "q_nrm"), cent, assign, nProbe)

  /** Serve IVF queries from in-session index frames: `queries`
    * carries (q_id, q_emb, q_nrm). Only probed cells' postings join
    * the queries — the same probe rule [[annIvfPqServe]] uses.
    */
  def annIvfServe(queries: DataFrame, cent: DataFrame,
      assign: DataFrame, nProbe: Int = NumProbes): DataFrame = {
    // query probes: top nProbe centroids per query
    val wProbe = Window.partitionBy("q_id").orderBy(col("ccos").desc, col("c_id"))
    val probes = queries
      .crossJoin(broadcast(cent))
      .select(col("q_id"), col("q_emb"), col("q_nrm"), col("c_id"),
        round(Vectors.cosineWithNorms(Vectors.dot(col("q_emb"), col("c_emb")),
          col("q_nrm"), col("c_nrm")), 6).as("ccos"))
      .withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= nProbe)
      .select(col("q_id"), col("q_emb"), col("q_nrm"), col("c_id").as("cell"))

    // search only the probed cells: probes is |Q|·nProbe rows ALWAYS,
    // broadcast for the pairing join on cell, which keeps only the
    // postings of probed cells
    val cos = round(
      Vectors.cosineWithNorms(Vectors.dot(col("q_emb"), col("embedding")),
        col("q_nrm"), col("nrm")), 6)
    val wRank = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
    assign.join(broadcast(probes), "cell")
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("n_id"), cos.as("cos"))
      .withColumn("rnk", row_number().over(wRank))
      .filter(col("rnk") <= TopK)
      .select("q_id", "n_id", "rnk", "cos")
      .orderBy("q_id", "rnk")
  }

  /** k-medoids step CTEs mirroring [[lloydStep]]: assignment by max
    * rounded cosine (ties by c_id), exact-decimal component means, new
    * centroid = member with max rounded cosine to the mean (ties by
    * vec_id) — the member's original embedding/nrm carry over.
    */
  private def lloydSql(prev: String, nx: String): String =
    s"""${nx}_assign AS (SELECT cell, vec_id, embedding, nrm FROM (
       |  SELECT c.c_id AS cell, v.vec_id, v.embedding, v.nrm,
       |    row_number() OVER (PARTITION BY v.vec_id
       |      ORDER BY ${cosSql("v", "c")} DESC, c.c_id) AS arn
       |  FROM n v CROSS JOIN $prev c) WHERE arn = 1),
       |${nx}_means AS (SELECT cell, i AS pos,
       |    CAST(SUM(CAST(embedding[i] AS DECIMAL(20,8))) AS DOUBLE) / COUNT(*) AS mv
       |  FROM ${nx}_assign CROSS JOIN range(1, 65) t(i)
       |  GROUP BY cell, i),
       |${nx}_mean AS (SELECT cell, list(mv ORDER BY pos) AS m_emb
       |  FROM ${nx}_means GROUP BY cell),
       |$nx AS (SELECT cell AS c_id, embedding, nrm FROM (
       |  SELECT a.cell, a.vec_id, a.embedding, a.nrm,
       |    row_number() OVER (PARTITION BY a.cell ORDER BY
       |      round(list_reduce(list_transform(range(1, 65),
       |          i -> CAST(a.embedding[i] AS DOUBLE) * m.m_emb[i]), (x, y) -> x + y)
       |        / (a.nrm * sqrt(list_reduce(list_transform(m.m_emb,
       |            x -> x * x), (p, q) -> p + q))), 6) DESC,
       |      a.vec_id) AS mrn
       |  FROM ${nx}_assign a JOIN ${nx}_mean m ON a.cell = m.cell) WHERE mrn = 1)""".stripMargin

  /** The oracle's IVF centroid fit as a `WITH` list: `n` ([[NORM_CTE]]),
    * the seed centroids `cent0`, then one [[lloydSql]] step per
    * iteration, ending in `cent$LloydIters`. Joined here, outside any
    * margin-stripped literal: an empty step list inlined before a
    * margin pipe would leave a stray "|" in the generated SQL.
    */
  private def ivfCtes: String =
    (Seq(NORM_CTE,
      s"cent0 AS (SELECT vec_id AS c_id, embedding, nrm FROM n WHERE vec_id < $IvfK)") ++
      (1 to LloydIters).map(t => lloydSql(s"cent${t - 1}", s"cent$t"))).mkString(",\n")

  val sAnnIvfSql: String = annIvfSqlFor(NumProbes)

  /** [[sAnnIvfSql]] parametrized by probe count (the s_probe_curve
    * oracle re-instantiates the whole verified chain per level).
    */
  def annIvfSqlFor(nProbe: Int): String =
    s"""WITH $ivfCtes,
       |assign AS (SELECT vec_id, embedding, nrm, c_id AS cell FROM (
       |  SELECT v.vec_id, v.embedding, v.nrm, c.c_id,
       |    row_number() OVER (PARTITION BY v.vec_id
       |      ORDER BY ${cosSql("v", "c")} DESC, c.c_id) AS arn
       |  FROM n v CROSS JOIN cent$LloydIters c) WHERE arn = 1),
       |probes AS (SELECT q_id, embedding, nrm, c_id AS cell FROM (
       |  SELECT q.vec_id AS q_id, q.embedding, q.nrm, c.c_id,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY ${cosSql("q", "c")} DESC, c.c_id) AS prn
       |  FROM n q CROSS JOIN cent$LloydIters c WHERE q.vec_id < $NumQueries) WHERE prn <= $nProbe),
       |scored AS (
       |  SELECT p.q_id, a.vec_id AS n_id, ${cosSql("p", "a")} AS cos
       |  FROM probes p JOIN assign a ON p.cell = a.cell AND p.q_id <> a.vec_id),
       |ranked AS (SELECT q_id, n_id, cos,
       |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS INT) AS rnk
       |  FROM scored)
       |SELECT q_id, n_id, rnk, cos FROM ranked WHERE rnk <= $TopK
       |ORDER BY q_id, rnk""".stripMargin

  // ------------------------------------------------- LSH-bucketed ANN
  val LshPlanes = 8     // sign-random-projection hyperplanes
  val LshBands = 2      // 2 bands × 4 bits → 16 buckets per band

  /** Signed projection of `embedding` onto deterministic ±1 hyperplane
    * j — the weights come from pure integer arithmetic (a Knuth-style
    * multiplicative mix mod 97), so both engines derive bit-identical
    * planes with no lookup table and no crypto in the per-row loop.
    */
  private def planeDotSql(j: Int): String =
    s"""list_reduce(list_transform(range(1, 65), i ->
       |        CAST(embedding[i] AS DOUBLE) *
       |        (CASE WHEN ((i * 2654435761 + ${j * 40503}) % 97) % 2 = 0
       |              THEN 1.0 ELSE -1.0 END)), (a, b) -> a + b)""".stripMargin

  private def bandBucketSql(b: Int): String =
    (4 * b until 4 * b + 4).map(j =>
      s"(CASE WHEN ${planeDotSql(j)} >= 0 THEN '1' ELSE '0' END)").mkString(" || ")

  /** ANN via sign-random-projection LSH: vectors agreeing with the
    * query on all 4 sign bits of either band are candidates; exact
    * cosine ranks them. Scale shape: signatures are a pure per-row map
    * (8 interpreted 64-term folds, no joins); the banded QUERY side is
    * broadcast, so candidate generation is a map-side join — the corpus
    * is scanned once and never shuffled, and only (q, n, cos) triples
    * reach the top-k window. Complements [[sAnnIvf]]: no fit step, and
    * adding bands/planes trades recall for candidates without touching
    * the plan shape.
    */
  /** One row per (vector, band) with that band's 4-bit sign bucket —
    * the shared candidate-blocking projection of [[sAnnLsh]] and
    * [[sKnnGraph]].
    */
  private def banded(df: DataFrame): DataFrame =
    // native one-pass signature (graft.plans.SignBands): all 8 signed
    // projections ride one codegen'd loop per vector, vs interpreting
    // planes×dim lambda steps per REFERENCE of the HOF fold (this
    // subplan sits on both sides of the k-NN self-join).
    // SimilaritySpec pins bucket equality against the HOF form.
    df.select(col("vec_id"), col("embedding"), col("nrm"),
      posexplode(org.apache.spark.sql.graft.GraftSql.signBands(
        col("embedding"), LshPlanes, LshBands, 64)).as(Seq("band", "bucket")))

  def sAnnLsh(s: SparkSession, d: String): DataFrame = {
    val base = withNorm(s, d)
    val qs = banded(base.filter(col("vec_id") < NumQueries))
      .toDF("q_id", "q_emb", "q_nrm", "band", "bucket")
    val cos = round(
      Vectors.cosineWithNorms(Vectors.dot(col("q_emb"), col("embedding")),
        col("q_nrm"), col("nrm")), 6)
    val wRank = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
    banded(base).join(broadcast(qs), Seq("band", "bucket"))
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("n_id"), cos.as("cos"))
      .distinct()
      .withColumn("rnk", row_number().over(wRank))
      .filter(col("rnk") <= TopK)
      .select("q_id", "n_id", "rnk", "cos")
      .orderBy("q_id", "rnk")
  }

  val sAnnLshSql: String = {
    val bandSelects = (0 until LshBands).map(b =>
      s"SELECT vec_id, embedding, nrm, $b AS band, ${bandBucketSql(b)} AS bucket FROM n")
      .mkString("\n  UNION ALL ")
    s"""WITH $NORM_CTE,
       |banded AS (
       |  $bandSelects),
       |cand AS (SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS n_id,
       |    ${cosSql("q", "c")} AS cos
       |  FROM banded q JOIN banded c ON q.band = c.band AND q.bucket = c.bucket
       |    AND q.vec_id < $NumQueries AND q.vec_id <> c.vec_id),
       |ranked AS (SELECT q_id, n_id, cos,
       |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS INT) AS rnk
       |  FROM cand)
       |SELECT q_id, n_id, rnk, cos FROM ranked WHERE rnk <= $TopK
       |ORDER BY q_id, rnk""".stripMargin
  }

  // ----------------------------------------------- multi-probe LSH ANN
  /** Multi-probe LSH (the VLDB'07 technique): instead of buying recall
    * with more hash tables (more bands = more index copies at 100 TB),
    * each query ALSO probes the buckets one sign-bit away from its own
    * — the buckets a near-boundary neighbor most likely fell into.
    * Same index, (1 + bits-per-band)× the probe keys, strictly more
    * candidates: per-query recall can only rise vs [[sAnnLsh]]
    * (superset of candidates + exact re-scoring ⇒ monotone recall —
    * anything that displaces a true top-k member from the shortlist is
    * itself a true top-k member; SimilaritySpec pins the inequality).
    *
    * The bucket is a '0'/'1' sign STRING (see [[graft.plans.SignBands]]),
    * so probe generation is a per-row char flip — no new index, no new
    * expression, a pure map on the broadcast query side. Scale shape
    * identical to sAnnLsh: corpus scanned once, never shuffled; only
    * the probe-key fan-out (|Q|·bands·(width+1) rows, still tiny)
    * grows.
    */
  def sAnnLshMp(s: SparkSession, d: String): DataFrame = {
    val width = LshPlanes / LshBands
    val base = withNorm(s, d)
    val qb = banded(base.filter(col("vec_id") < NumQueries))
      .toDF("q_id", "q_emb", "q_nrm", "band", "bucket")
    val probes = qb
      .select(col("q_id"), col("q_emb"), col("q_nrm"), col("band"), col("bucket"),
        explode(array((-1 until width).map(lit(_)): _*)).as("flip"))
      .select(col("q_id"), col("q_emb"), col("q_nrm"), col("band"),
        when(col("flip") === -1, col("bucket")).otherwise(expr(
          """concat(substr(bucket, 1, flip),
            |  CASE WHEN substr(bucket, flip + 1, 1) = '1' THEN '0' ELSE '1' END,
            |  substr(bucket, flip + 2))""".stripMargin)).as("bucket"))
    val cos = round(
      Vectors.cosineWithNorms(Vectors.dot(col("q_emb"), col("embedding")),
        col("q_nrm"), col("nrm")), 6)
    val wRank = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
    banded(base).join(broadcast(probes), Seq("band", "bucket"))
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("n_id"), cos.as("cos"))
      .distinct()
      .withColumn("rnk", row_number().over(wRank))
      .filter(col("rnk") <= TopK)
      .select("q_id", "n_id", "rnk", "cos")
      .orderBy("q_id", "rnk")
  }

  val sAnnLshMpSql: String = {
    val width = LshPlanes / LshBands
    val bandSelects = (0 until LshBands).map(b =>
      s"SELECT vec_id, embedding, nrm, $b AS band, ${bandBucketSql(b)} AS bucket FROM n")
      .mkString("\n  UNION ALL ")
    // single-line concat expressions: the surrounding stripMargin
    // would otherwise eat the leading pipe of a line-initial `||`
    val flipSelects = (0 until width).map { f =>
      val flipped = s"substr(bucket, 1, $f) || (CASE WHEN " +
        s"substr(bucket, ${f + 1}, 1) = '1' THEN '0' ELSE '1' END) || " +
        s"substr(bucket, ${f + 2})"
      s"SELECT vec_id, embedding, nrm, band, $flipped AS bucket FROM qb"
    }.mkString("\n  UNION ALL ")
    s"""WITH $NORM_CTE,
       |banded AS (
       |  $bandSelects),
       |qb AS (SELECT * FROM banded WHERE vec_id < $NumQueries),
       |probes AS (
       |  SELECT vec_id, embedding, nrm, band, bucket FROM qb
       |  UNION ALL $flipSelects),
       |cand AS (SELECT DISTINCT p.vec_id AS q_id, c.vec_id AS n_id,
       |    ${cosSql("p", "c")} AS cos
       |  FROM probes p JOIN banded c ON c.band = p.band AND c.bucket = p.bucket
       |    AND p.vec_id <> c.vec_id),
       |ranked AS (SELECT q_id, n_id, cos,
       |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS INT) AS rnk
       |  FROM cand)
       |SELECT q_id, n_id, rnk, cos FROM ranked WHERE rnk <= $TopK
       |ORDER BY q_id, rnk""".stripMargin
  }

  // --------------------------------------------------- radius search
  val RangeTau = 0.3   // cosine radius (this corpus's ~top-1% band)

  /** Radius (range) similarity search: ALL corpus vectors within
    * cosine ≥ [[RangeTau]] of each query — the retrieval contract when
    * the caller wants "everything at least this similar" (dedup
    * candidate pull, contamination sweeps, recall-oriented RAG), not a
    * fixed k. Candidates come from the same sign-LSH band index as
    * [[sAnnLsh]]; exact cosine then applies the threshold, so the
    * emitted set is exactly {LSH candidate ∧ cos ≥ τ} — deterministic,
    * and sized by the data (possibly empty per query), never padded.
    *
    * Scale shape: identical to [[sAnnLsh]] — banded queries broadcast,
    * corpus scanned once and never shuffled, only over-threshold
    * (q, n, cos) triples leave the scan (no window/top-k at all, so
    * radius search is CHEAPER than top-k at the same candidate count:
    * the threshold is a map-side filter). The rounded-cosine compare
    * against the exact double τ is boundary-deterministic cross-engine
    * (6-dp rounding, FIXTURES §C).
    */
  def sRangeSearch(s: SparkSession, d: String): DataFrame = {
    val base = withNorm(s, d)
    val qs = banded(base.filter(col("vec_id") < NumQueries))
      .toDF("q_id", "q_emb", "q_nrm", "band", "bucket")
    val cos = round(
      Vectors.cosineWithNorms(Vectors.dot(col("q_emb"), col("embedding")),
        col("q_nrm"), col("nrm")), 6)
    banded(base).join(broadcast(qs), Seq("band", "bucket"))
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("n_id"), cos.as("cos"))
      .distinct()
      .filter(col("cos") >= RangeTau)
      .orderBy("q_id", "n_id")
  }

  val sRangeSearchSql: String = {
    val bandSelects = (0 until LshBands).map(b =>
      s"SELECT vec_id, embedding, nrm, $b AS band, ${bandBucketSql(b)} AS bucket FROM n")
      .mkString("\n  UNION ALL ")
    s"""WITH $NORM_CTE,
       |banded AS (
       |  $bandSelects),
       |cand AS (SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS n_id,
       |    ${cosSql("q", "c")} AS cos
       |  FROM banded q JOIN banded c ON q.band = c.band AND q.bucket = c.bucket
       |    AND q.vec_id < $NumQueries AND q.vec_id <> c.vec_id)
       |SELECT q_id, n_id, cos FROM cand WHERE cos >= $RangeTau
       |ORDER BY q_id, n_id""".stripMargin
  }

  // ------------------------------------------------------ k-NN graph
  /** Approximate k-NN GRAPH: top-[[KnnK]] cosine neighbors for EVERY
    * vector (not just a query set) among candidates sharing an LSH
    * band bucket — the all-pairs primitive behind semantic-dedup
    * clustering, graph-based label propagation, and kNN-classifier
    * features. Differs from [[sAnnLsh]] in that there is no broadcast
    * query side: candidate generation is a bucket-keyed SELF-join
    * (shuffle both sides on (band, bucket)), and every vector ranks
    * its own neighbor list.
    *
    * Scale shape: per-bucket candidate pairs are quadratic in bucket
    * size — the knob is the number of sign planes: buckets per band =
    * 2^4 here, and growing planes with log₂(N) holds expected bucket
    * size (N/2^bits) — and so per-task cost — constant; the plan
    * (bucket-keyed exchange + window top-k) is unchanged. Recall is
    * approximate by construction (a true neighbor in neither shared
    * band is missed) — [[sRecall]] quantifies the same trade for the
    * query-set path.
    */
  val KnnK = 3

  def sKnnGraph(s: SparkSession, d: String): DataFrame = {
    val base = withNorm(s, d)
    val b = banded(base).toDF("n_id", "n_emb", "n_nrm", "band", "bucket")
    val cos = round(
      Vectors.cosineWithNorms(Vectors.dot(col("embedding"), col("n_emb")),
        col("nrm"), col("n_nrm")), 6)
    val w = Window.partitionBy("vec_id").orderBy(col("cos").desc, col("n_id"))
    banded(base).join(b, Seq("band", "bucket"))
      .filter(col("vec_id") =!= col("n_id"))
      .select(col("vec_id"), col("n_id"), cos.as("cos"))
      .distinct()
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= KnnK)
      .orderBy("vec_id", "rnk")
  }

  val sKnnGraphSql: String = {
    val bandSelects = (0 until LshBands).map(b =>
      s"SELECT vec_id, embedding, nrm, $b AS band, ${bandBucketSql(b)} AS bucket FROM n")
      .mkString("\n  UNION ALL ")
    s"""WITH $NORM_CTE,
       |banded AS (
       |  $bandSelects),
       |cand AS (SELECT DISTINCT a.vec_id AS vec_id, c.vec_id AS n_id,
       |    ${cosSql("a", "c")} AS cos
       |  FROM banded a JOIN banded c ON a.band = c.band AND a.bucket = c.bucket
       |    AND a.vec_id <> c.vec_id),
       |ranked AS (SELECT vec_id, n_id, cos,
       |  CAST(row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, n_id) AS INT) AS rnk
       |  FROM cand)
       |SELECT vec_id, n_id, cos, rnk FROM ranked WHERE rnk <= $KnnK
       |ORDER BY vec_id, rnk""".stripMargin
  }

  // ------------------------------------------------ int8 quantization
  /** Per-vector affine int8 quantization — the storage-scale path for
    * 100 TB of embeddings (4× smaller than float32, cheap SIMD dot):
    * scale = (max−min)/255, q_i = floor((x_i−min)/scale + 0.5). Emits
    * the dequantization params plus two integrity checks (sum of codes
    * and a position-weighted checksum) rather than 64 code columns.
    * Every step is closed-form double arithmetic — identical on both
    * engines, no rounding mode ambiguity (floor(x+0.5) is explicit
    * half-up). Pure per-row map, no shuffle.
    */
  def sQuantize(s: SparkSession, d: String): DataFrame = {
    val xs = transform(col("embedding"), x => x.cast("double"))
    // let-bind (min, max) in a single-element transform and emit the
    // result struct through a Generate — otherwise CollapseProject
    // re-inlines the array_min/array_max folds into every downstream
    // reference (4 output columns × 64 lambda elements)
    val qrow = element_at(transform(
      array(struct(array_min(xs).as("mn"), array_max(xs).as("mx"))), m => {
        val mn = m.getField("mn")
        val sc = greatest((m.getField("mx") - mn) / 255.0, lit(1e-12))
        val codes = transform(col("embedding"), x =>
          floor((x.cast("double") - mn) / sc + 0.5).cast("int"))
        struct(
          round(mn, 6).as("q_min"),
          round(sc, 9).as("q_scale"),
          aggregate(codes, lit(0L), (a, q) => a + q).as("q_sum"),
          aggregate(zip_with(codes, sequence(lit(1), lit(64)),
            (q, i) => q.cast("long") * i), lit(0L), (a, x) => a + x).as("q_check"))
      }), 1)
    Tables.embeddings(s, d)
      .select(col("vec_id"), explode(array(qrow)).as("q"))
      .select(col("vec_id"), col("q.q_min"), col("q.q_scale"),
        col("q.q_sum"), col("q.q_check"))
      .orderBy("vec_id")
  }

  val sQuantizeSql: String =
    """WITH q AS (SELECT vec_id,
      |  list_min(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS mn,
      |  GREATEST((list_max(list_transform(embedding, x -> CAST(x AS DOUBLE)))
      |    - list_min(list_transform(embedding, x -> CAST(x AS DOUBLE)))) / 255.0,
      |    1e-12) AS scale,
      |  embedding FROM embeddings)
      |SELECT vec_id, round(mn, 6) AS q_min, round(scale, 9) AS q_scale,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(embedding,
      |    x -> CAST(floor((CAST(x AS DOUBLE) - mn) / scale + 0.5) AS BIGINT))),
      |    (a, b) -> a + b) AS q_sum,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(1, 65),
      |    i -> CAST(floor((CAST(embedding[i] AS DOUBLE) - mn) / scale + 0.5) AS BIGINT) * i)),
      |    (a, b) -> a + b) AS q_check
      |FROM q ORDER BY vec_id""".stripMargin

  // ------------------------------------------------ product quantization
  val PqM = 4        // subspaces
  val PqSub = 16     // dims per subspace (PqM * PqSub = 64)
  val PqK = 8        // codebook entries per subspace (seeded vec_id < K)

  /** Product quantization — the codebook compression behind IVF-PQ,
    * the standard way 100 TB of vectors fits a search tier: split each
    * vector into [[PqM]] subvectors, learn a tiny per-subspace
    * codebook (here [[PqK]] entries via one deterministic Lloyd step
    * on squared-L2: seed from vec_id < K, assign, recompute means),
    * store each vector as M code ids — M bytes instead of 4·dim,
    * a 64× compression at these constants — plus the reconstruction
    * error the codes carry.
    *
    * Scale shape: subspaces are processed LONG-FORM (vec_id, m, sub)
    * in one plan, not M cloned branches; codebooks are M·K rows —
    * broadcast — so assignment is map-side over the corpus with ZERO
    * vector shuffles (same contract as the IVF fit); the means
    * aggregation explodes components but partial aggregation bounds
    * the shuffle at M·K·dim rows. At real scale the codebook is
    * trained on a sample and persisted; inlined here to stay a pure
    * (session, dir) query.
    *
    * Determinism: distances are left-to-right double folds of
    * (x−c)², rounded at 6 dp before ranking (ties by centroid id);
    * means go through exact DECIMAL(20,8) sums (order-free; the
    * double→decimal cast is half-away-from-zero in BOTH engines —
    * probed, including the representable 1/512 tie) with one double
    * division; the per-vector error is the fixed-order sum of the M
    * rounded subspace distances, rounded once.
    */
  // native codegen'd double-array squared L2 (bit-identical to the HOF
  // form it replaced — VectorExprSpec pins the equality)
  private val pqDist = (a: Column, b: Column) => round(Vectors.sqDist(a, b), 6)

  /** Long form (vec_id, m, sub double[PqSub]): one row per subspace.
    * Frame-based so the serve path can derive QUERY subvectors from a
    * live query frame with the exact same slicing expressions.
    */
  private def pqSubOf(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), explode(array((0 until PqM).map(m =>
        struct(lit(m).as("m"),
          transform(slice(col("embedding"), m * PqSub + 1, PqSub),
            x => x.cast("double")).as("sub"))): _*)).as("p"))
      .select(col("vec_id"), col("p.m"), col("p.sub"))

  private def pqSub(s: SparkSession, d: String): DataFrame =
    pqSubOf(Tables.embeddings(s, d).select(col("vec_id"), col("embedding")))

  /** The fitted model: codebook (m, cell, c_emb) — M·K rows, pinned —
    * and per-vector codes (m, vec_id, cell, d) long-form. Shared by
    * [[sPq]] (emits codes) and [[sAnnPq]] (searches on them).
    */
  private def pqModel(s: SparkSession, d: String): (DataFrame, DataFrame) =
    pqModelOf(pqSub(s, d))

  /** The same fit over ANY long-form (vec_id, m, sub) frame — raw
    * subvectors for the classic model, IVF residuals for
    * [[sPqResidual]]'s production formulation.
    */
  private def pqModelOf(sub: DataFrame): (DataFrame, DataFrame) = {
    val seeds = sub.filter(col("vec_id") < PqK)
      .select(col("m"), col("vec_id").as("c_id"), col("sub").as("c_sub"))
    // argmin as a hash-aggregable argMinDL(d, id) — identical tie rule
    // to the old rank-1 window (smallest d, then smallest id), but
    // map-side combinable AND HashAggregate-plannable: the |n|·M·K
    // candidate rows reduce before any exchange where the window
    // shuffled and sorted them all, and the mutable (double, long)
    // buffer keeps whole-stage codegen (a struct-typed min() fell back
    // to SortAggregateExec). `sub` is functionally determined by
    // (m, vec_id) — it rides as a grouping key rather than through an
    // array-buffered first(), which would force the sort fallback back.
    val assign0 = sub.join(broadcast(seeds), "m")
      .groupBy("m", "vec_id", "sub")
      .agg(org.apache.spark.sql.graft.GraftSql
        .argMinDL(pqDist(col("sub"), col("c_sub")), col("c_id")).as("b"))
      .select(col("m"), col("vec_id"), col("sub"), col("b.v").as("cell"))
    // codebook update: exact-decimal component means per (m, cell)
    val means = assign0
      .select(col("m"), col("cell"), posexplode(col("sub")).as(Seq("pos", "v")))
      .groupBy("m", "cell", "pos")
      .agg((sum(col("v").cast("decimal(20,8)")).cast("double") / count(lit(1))).as("mv"))
    val codebook = Materialize.pin(means.groupBy("m", "cell")
      .agg(array_sort(collect_list(struct(col("pos"), col("mv")))).as("pm"))
      .select(col("m"), col("cell"),
        transform(col("pm"), p => p.getField("mv")).as("c_emb")))
    val codes = sub.join(broadcast(codebook), "m")
      .groupBy("m", "vec_id")
      .agg(org.apache.spark.sql.graft.GraftSql
        .argMinDL(pqDist(col("sub"), col("c_emb")), col("cell")).as("b"))
      .select(col("m"), col("vec_id"), col("b.v").as("cell"), col("b.k").as("d"))
    (codebook, codes)
  }

  def sPq(s: SparkSession, d: String): DataFrame = {
    val (_, coded) = pqModel(s, d)
    coded.groupBy("vec_id")
      .agg(
        max(when(col("m") === 0, col("cell"))).cast("int").as("c0"),
        max(when(col("m") === 1, col("cell"))).cast("int").as("c1"),
        max(when(col("m") === 2, col("cell"))).cast("int").as("c2"),
        max(when(col("m") === 3, col("cell"))).cast("int").as("c3"),
        round(max(when(col("m") === 0, col("d"))) + max(when(col("m") === 1, col("d")))
          + max(when(col("m") === 2, col("d"))) + max(when(col("m") === 3, col("d"))), 6)
          .as("err"))
      .orderBy("vec_id")
  }

  private def pqDistSql(sub: String, cb: String): String =
    s"""round(list_reduce(list_transform(range(1, ${PqSub + 1}),
       |      i -> ($sub[i] - $cb[i]) * ($sub[i] - $cb[i])),
       |      (x, y) -> x + y), 6)""".stripMargin

  /** The PQ fit CTE chain over ANY long-form (vec_id, m, sub) CTE —
    * seed → assign → means → codebook → fin (per-vector codes +
    * distances). `pfx` namespaces the chain so raw and residual fits
    * coexist in one query ([[sPqResidualSql]]).
    */
  private def pqFitCtes(sub: String, pfx: String): String =
    s"""${pfx}seed AS (SELECT m, vec_id AS c_id, sub AS c_sub FROM $sub WHERE vec_id < $PqK),
       |${pfx}a0 AS (SELECT m, vec_id, sub, cell FROM (
       |  SELECT s.m, s.vec_id, s.sub, c.c_id AS cell,
       |    row_number() OVER (PARTITION BY s.m, s.vec_id
       |      ORDER BY ${pqDistSql("s.sub", "c.c_sub")} ASC, c.c_id) AS rn
       |  FROM $sub s JOIN ${pfx}seed c USING (m)) WHERE rn = 1),
       |${pfx}mm AS (SELECT m, cell, i AS pos,
       |    CAST(SUM(CAST(sub[i] AS DECIMAL(20,8))) AS DOUBLE) / COUNT(*) AS mv
       |  FROM ${pfx}a0 CROSS JOIN range(1, ${PqSub + 1}) t(i) GROUP BY 1, 2, 3),
       |${pfx}cb AS (SELECT m, cell, list(mv ORDER BY pos) AS c_emb FROM ${pfx}mm GROUP BY 1, 2),
       |${pfx}fin AS (SELECT m, vec_id, cell, d FROM (
       |  SELECT q.m, q.vec_id, q.cell, q.d,
       |    row_number() OVER (PARTITION BY q.m, q.vec_id
       |      ORDER BY q.d ASC, q.cell) AS rn
       |  FROM (SELECT s.m, s.vec_id, c.cell,
       |      ${pqDistSql("s.sub", "c.c_emb")} AS d
       |    FROM $sub s JOIN ${pfx}cb c USING (m)) q) WHERE rn = 1)"""

  /** Shared oracle CTE chain mirroring [[pqModel]]: sub → seed → a0 →
    * mm → cb (codebook) → fin (per-vector codes + distances).
    */
  private lazy val pqCtesSql: String =
    s"""sub AS (SELECT vec_id, m,
       |    list_transform(range(1, ${PqSub + 1}),
       |      i -> CAST(embedding[m * $PqSub + i] AS DOUBLE)) AS sub
       |  FROM embeddings CROSS JOIN range(0, $PqM) t(m)),
       |${pqFitCtes("sub", "")}""".stripMargin

  lazy val sPqSql: String =
    s"""WITH $pqCtesSql
       |SELECT vec_id,
       |  CAST(MAX(CASE WHEN m = 0 THEN cell END) AS INT) AS c0,
       |  CAST(MAX(CASE WHEN m = 1 THEN cell END) AS INT) AS c1,
       |  CAST(MAX(CASE WHEN m = 2 THEN cell END) AS INT) AS c2,
       |  CAST(MAX(CASE WHEN m = 3 THEN cell END) AS INT) AS c3,
       |  round(MAX(CASE WHEN m = 0 THEN d END) + MAX(CASE WHEN m = 1 THEN d END)
       |    + MAX(CASE WHEN m = 2 THEN d END) + MAX(CASE WHEN m = 3 THEN d END), 6) AS err
       |FROM fin GROUP BY vec_id ORDER BY vec_id""".stripMargin

  /** ANN search ON the PQ codes — asymmetric distance computation
    * (ADC), the query path IVF-PQ actually runs at 100 TB: per query,
    * distances to all M·K codebook entries form a tiny lookup table
    * ([[NumQueries]]·[[PqM]]·[[PqK]] rows — broadcast); a candidate's
    * approximate distance is then the SUM of M table lookups on its
    * codes — the corpus is scanned as codes only (M small ints per
    * vector), never as vectors. That asymmetry (full-precision query,
    * compressed corpus) is what makes exhaustive scan over billions of
    * codes feasible where float vectors would not even fit.
    *
    * Scale shape: codes long-form join the broadcast table map-side —
    * zero corpus shuffles; ranking shuffles (q, id, dist) triples.
    * Determinism: table entries are 6-dp-rounded folds; the M-term sum
    * goes through exact DECIMAL(16,6) (order-free); rank ties by n_id.
    */
  def sAnnPq(s: SparkSession, d: String): DataFrame = {
    val (codebook, codes) = pqModel(s, d)
    val queries = pqSub(s, d).filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("m"), col("sub"))
    val dtab = queries.join(codebook, "m")
      .select(col("q_id"), col("m"), col("cell"),
        pqDist(col("sub"), col("c_emb")).as("dq"))
    val wR = Window.partitionBy("q_id").orderBy(col("adist").asc, col("n_id"))
    codes.join(broadcast(dtab), Seq("m", "cell"))
      .filter(col("q_id") =!= col("vec_id"))
      .groupBy(col("q_id"), col("vec_id").as("n_id"))
      .agg(sum(col("dq").cast("decimal(16,6)")).cast("double").as("adist"))
      .withColumn("rnk", row_number().over(wR).cast("int"))
      .filter(col("rnk") <= TopK)
      .select("q_id", "n_id", "rnk", "adist")
      .orderBy("q_id", "rnk")
  }

  lazy val sAnnPqSql: String =
    s"""WITH $pqCtesSql,
       |qd AS (SELECT s.vec_id AS q_id, s.m, c.cell,
       |    ${pqDistSql("s.sub", "c.c_emb")} AS dq
       |  FROM sub s JOIN cb c USING (m) WHERE s.vec_id < $NumQueries),
       |adc AS (SELECT q.q_id, f.vec_id AS n_id,
       |    CAST(SUM(CAST(q.dq AS DECIMAL(16,6))) AS DOUBLE) AS adist
       |  FROM fin f JOIN qd q ON q.m = f.m AND q.cell = f.cell
       |    AND q.q_id <> f.vec_id
       |  GROUP BY 1, 2),
       |r AS (SELECT q_id, n_id, adist,
       |  CAST(row_number() OVER (PARTITION BY q_id
       |    ORDER BY adist ASC, n_id) AS INT) AS rnk FROM adc)
       |SELECT q_id, n_id, rnk, adist FROM r WHERE rnk <= $TopK
       |ORDER BY q_id, rnk""".stripMargin

  /** Shortlist size for the two-stage retrieval: stage-1 ADC keeps
    * this many candidates per query; stage 2 re-ranks only these.
    */
  val RerankR = 25

  // ------------------------------------------ two-stage retrieve + re-rank
  /** Two-stage retrieval — the deployment shape wrapped around every
    * compressed index: a CHEAP stage-1 shortlist from PQ codes (ADC,
    * [[sAnnPq]]'s machinery, [[RerankR]] candidates per query), then
    * an EXACT cosine re-rank of the shortlist alone, emitting the
    * final top-[[TopK]]. Quantization error decides only which ~R
    * candidates surface; the order users see is full-precision —
    * which is why services re-rank instead of shipping raw ADC ranks.
    *
    * Scale shape: stage 1 scans the corpus as codes only (M small
    * ints per vector — never floats) with the |Q|·M·K ADC table
    * broadcast; stage 2 touches full vectors for just |Q|·R rows —
    * the tiny shortlist broadcasts onto the vector store and the
    * fetch is a broadcast hash join (at production layout, a
    * point-lookup into the by-id vector files). Full-precision floats
    * never shuffle corpus-wide in either stage.
    *
    * Determinism: the shortlist is exact-DECIMAL ADC sums (ties by
    * n_id); the re-rank is the cosineShortlist contract (6-dp cosine,
    * ties by n_id).
    */
  def sRerank(s: SparkSession, d: String): DataFrame = {
    val (codebook, codes) = pqModel(s, d)
    val dtab = pqSub(s, d).filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("m"), col("sub"))
      .join(codebook, "m")
      .select(col("q_id"), col("m"), col("cell"),
        pqDist(col("sub"), col("c_emb")).as("dq"))
    val wS = Window.partitionBy("q_id").orderBy(col("adist").asc, col("n_id"))
    val shortlist = codes.join(broadcast(dtab), Seq("m", "cell"))
      .filter(col("q_id") =!= col("vec_id"))
      .groupBy(col("q_id"), col("vec_id").as("n_id"))
      .agg(sum(col("dq").cast("decimal(16,6)")).cast("double").as("adist"))
      .withColumn("srn", row_number().over(wS))
      .filter(col("srn") <= RerankR)
      .select("q_id", "n_id")
    val base = withNorm(s, d)
    val q = base.toDF("q_id", "q_emb", "q_nrm").filter(col("q_id") < NumQueries)
    val cos = round(
      Vectors.cosineWithNorms(Vectors.dot(col("q_emb"), col("embedding")),
        col("q_nrm"), col("nrm")), 6)
    val wR = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
    base.join(broadcast(shortlist), col("vec_id") === col("n_id"))
      .join(broadcast(q), "q_id")
      .select(col("q_id"), col("n_id"), cos.as("cos"))
      .withColumn("rnk", row_number().over(wR).cast("int"))
      .filter(col("rnk") <= TopK)
      .select("q_id", "n_id", "rnk", "cos")
      .orderBy("q_id", "rnk")
  }

  lazy val sRerankSql: String =
    s"""WITH $pqCtesSql,
       |qd AS (SELECT s.vec_id AS q_id, s.m, c.cell,
       |    ${pqDistSql("s.sub", "c.c_emb")} AS dq
       |  FROM sub s JOIN cb c USING (m) WHERE s.vec_id < $NumQueries),
       |adc AS (SELECT q.q_id, f.vec_id AS n_id,
       |    CAST(SUM(CAST(q.dq AS DECIMAL(16,6))) AS DOUBLE) AS adist
       |  FROM fin f JOIN qd q ON q.m = f.m AND q.cell = f.cell
       |    AND q.q_id <> f.vec_id
       |  GROUP BY 1, 2),
       |short AS (SELECT q_id, n_id FROM (
       |  SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
       |    ORDER BY adist ASC, n_id) AS srn FROM adc) WHERE srn <= $RerankR),
       |$NORM_CTE,
       |rr AS (SELECT sh.q_id, sh.n_id, ${cosSql("q", "b")} AS cos
       |  FROM short sh
       |  JOIN n q ON q.vec_id = sh.q_id
       |  JOIN n b ON b.vec_id = sh.n_id)
       |SELECT q_id, n_id, rnk, cos FROM (
       |  SELECT q_id, n_id, cos, CAST(row_number() OVER (PARTITION BY q_id
       |    ORDER BY cos DESC, n_id) AS INT) AS rnk FROM rr)
       |WHERE rnk <= $TopK ORDER BY q_id, rnk""".stripMargin

  /** Composed IVF-PQ — the production ANN query at 100 TB: IVF cells
    * cut CANDIDATES (search only the query's [[NumProbes]] probed
    * cells, ~nProbe/K of the corpus), PQ codes cut BYTES (candidates
    * are scored by ADC table lookups on M small ints, never on float
    * vectors). This is the composition FAISS/ScaNN-class systems
    * deploy; both halves are the separately-verified [[sAnnIvf]] and
    * [[sAnnPq]] machinery, so this query is their join, not new math.
    *
    * Scale shape: at production layout the code table is partitioned
    * BY IVF CELL (the inverted lists), so probing is partition
    * pruning — only nProbe/K of the code files are read; here the
    * same restriction is the candidates⋈codes join. The ADC table is
    * |Q|·M·K rows, broadcast. Ranking shuffles (q, id, dist) triples
    * of the probed minority only.
    */
  /** Build the servable composed IVF-PQ index: the fitted IVF centroid
    * frame, the pinned PQ codebook (M·K rows), and the corpus AS CODES
    * — (vec_id, m, cell, ivf_cell), no raw vectors anywhere — the
    * frames [[graft.sources.IndexStore.saveIvfPq]] persists and
    * [[annIvfPqServe]] serves from. This is the production compressed
    * index: storage is M small ints + one list id per vector.
    */
  def buildIvfPqIndex(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val base = withNorm(s, d)
    val cent = fittedCentroids(base, LloydIters)
    val ivf = ivfAssignment(base, cent)
      .select(col("vec_id"), col("cell").as("ivf_cell"))
    val (codebook, codes) = pqModel(s, d)
    (cent, codebook,
      codes.select(col("vec_id"), col("m"), col("cell")).join(ivf, "vec_id"))
  }

  /** Serve IVF-PQ queries from index frames (in-session or reloaded):
    * `queries` carries (q_id, q_emb, q_nrm); probes and the |Q|·M·K
    * ADC table derive from it live (queries are never part of the
    * persisted index), the corpus participates as codes only.
    */
  def annIvfPqServe(queries: DataFrame, cent: DataFrame,
      codebook: DataFrame, codes: DataFrame,
      nProbe: Int = NumProbes): DataFrame = {
    val wProbe = Window.partitionBy("q_id").orderBy(col("ccos").desc, col("c_id"))
    val probes = queries
      .crossJoin(broadcast(cent))
      .select(col("q_id"), col("c_id"),
        round(Vectors.cosineWithNorms(Vectors.dot(col("q_emb"), col("c_emb")),
          col("q_nrm"), col("c_nrm")), 6).as("ccos"))
      .withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= nProbe)
      .select(col("q_id"), col("c_id").as("ivf_cell"))
    // probes is |Q|·nProbe rows ALWAYS — hint it broadcast (the
    // window-filtered frame has no size estimate, so the planner would
    // otherwise stage a shuffle join of the corpus-sized codes), and
    // plant the probed cells as a STATIC literal partition filter on
    // the codes side: ≤ K values collected once driver-side (bounded
    // by the index), pruning a cell-partitioned codes store at file
    // listing. DPP cannot do this here — its broadcast-reuse match
    // fails against window-derived build sides and degrades to
    // dynamicpruningexpression(true), reading all K lists.
    val probedCells = probes.select("ivf_cell").distinct()
      .collect().map(_.get(0)).toSeq
    val dtab = pqSubOf(queries.select(col("q_id").as("vec_id"),
        col("q_emb").as("embedding")))
      .select(col("vec_id").as("q_id"), col("m"), col("sub"))
      .join(codebook, "m")
      .select(col("q_id"), col("m"), col("cell"),
        pqDist(col("sub"), col("c_emb")).as("dq"))
    val wR = Window.partitionBy("q_id").orderBy(col("adist").asc, col("n_id"))
    codes.filter(col("ivf_cell").isin(probedCells: _*))
      .join(broadcast(probes), "ivf_cell")
      .filter(col("q_id") =!= col("vec_id"))
      .join(broadcast(dtab), Seq("q_id", "m", "cell"))
      .groupBy(col("q_id"), col("vec_id").as("n_id"))
      .agg(sum(col("dq").cast("decimal(16,6)")).cast("double").as("adist"))
      .withColumn("rnk", row_number().over(wR).cast("int"))
      .filter(col("rnk") <= TopK)
      .select("q_id", "n_id", "rnk", "adist")
      .orderBy("q_id", "rnk")
  }

  // ------------------------------------------------ residual PQ audit
  /** Residual product quantization vs raw PQ, per inverted list — the
    * formulation production IVF-PQ actually trains (FAISS's
    * `IndexIVFPQ`): quantize x − c(x) (the vector's offset from its
    * IVF centroid) instead of x itself, because residuals concentrate
    * near the origin once the coarse quantizer has soaked up the
    * between-cell variance, so the SAME codebook budget (M·K entries)
    * spends its resolution on a much smaller ball. This audit runs
    * both fits with identical budgets and reports, per IVF cell, the
    * mean per-vector reconstruction error of each — the measurement
    * that justifies (or refutes) the residual step before a 100 TB
    * index build commits to it, and the per-list view that flags
    * cells where the coarse fit is doing so little that residual ≈
    * raw. On the synthetic fixture the audit REFUTES it — residual
    * mean error ≈ 1.7× raw in every cell — for a structural reason
    * worth reading off the numbers: this IVF assigns by COSINE, so
    * the subtracted centroid is angle-near but not L2-near, and on
    * clusterless vectors x − c carries MORE L2 energy than x; FAISS
    * pairs residual PQ with an L2 coarse quantizer on genuinely
    * clustered data, where the sign flips. That a calibration query
    * can return "don't" is the point of running it.
    *
    * Scale shape: one IVF fit + assignment (broadcast argmax), the
    * residual map is zip_with over assigned rows (no shuffle), and
    * each PQ fit is the [[pqModel]] shape — broadcast codebooks, long
    * -form subspaces, zero vector shuffles; the output is K rows.
    * Determinism: residual components are exact float−float double
    * subtractions; both fits inherit pqModel's decimal-mean /
    * rounded-distance discipline; per-vector errors are decimal sums
    * of rounded subspace distances; cell means divide decimal sums
    * once.
    */
  def sPqResidual(s: SparkSession, d: String): DataFrame = {
    val base = withNorm(s, d)
    val cent = fittedCentroids(base, LloydIters)
    // pin the assignment: it feeds the residual map (which pqModelOf
    // consumes TWICE — seed assignment and final coding) and the final
    // per-cell rollup; unpinned, the n·K broadcast-argmax subplan
    // re-ran three times (no reuse fires across lambda-bearing
    // subplans). n rows — free to materialize at any scale.
    val assign = Materialize.pin(ivfAssignment(base, cent))
    val resid = assign.join(broadcast(cent), col("cell") === col("c_id"))
      .select(col("vec_id"),
        zip_with(col("embedding"), col("c_emb"),
          (x, c) => x.cast("double") - c.cast("double")).as("embedding"))
    val (_, codesRaw) = pqModel(s, d)
    val (_, codesRes) = pqModelOf(pqSubOf(resid))
    def perVec(codes: DataFrame, name: String) = codes.groupBy("vec_id")
      .agg(round(sum(col("d").cast("decimal(16,6)")).cast("double"), 6)
        .as(name))
    def meanOf(c: Column) =
      round(sum(c.cast("decimal(16,6)")).cast("double") / count(lit(1)), 6)
    perVec(codesRaw, "err_raw")
      .join(perVec(codesRes, "err_res"), "vec_id")
      .join(assign.select(col("vec_id"), col("cell").as("ivf_cell")), "vec_id")
      .groupBy("ivf_cell")
      .agg(count(lit(1)).as("n_vecs"),
        meanOf(col("err_raw")).as("mean_err_raw"),
        meanOf(col("err_res")).as("mean_err_res"))
      .orderBy("ivf_cell")
  }

  lazy val sPqResidualSql: String = {
    def errCte(name: String, fin: String) =
      s"""$name AS (SELECT vec_id,
         |  round(CAST(SUM(CAST(d AS DECIMAL(16,6))) AS DOUBLE), 6) AS err
         |FROM $fin GROUP BY 1)""".stripMargin
    def meanSql(c: String) =
      s"round(CAST(SUM(CAST($c AS DECIMAL(16,6))) AS DOUBLE) / COUNT(*), 6)"
    s"""WITH $ivfCtes,
       |assign AS (SELECT vec_id, ivf_cell FROM (
       |  SELECT v.vec_id, c.c_id AS ivf_cell,
       |    row_number() OVER (PARTITION BY v.vec_id
       |      ORDER BY ${cosSql("v", "c")} DESC, c.c_id) AS arn
       |  FROM n v CROSS JOIN cent$LloydIters c) WHERE arn = 1),
       |resid AS (SELECT a.vec_id, a.ivf_cell,
       |    list_transform(range(1, 65),
       |      i -> CAST(e.embedding[i] AS DOUBLE)
       |         - CAST(c.embedding[i] AS DOUBLE)) AS remb
       |  FROM assign a
       |  JOIN embeddings e ON e.vec_id = a.vec_id
       |  JOIN cent$LloydIters c ON c.c_id = a.ivf_cell),
       |$pqCtesSql,
       |rsub AS (SELECT vec_id, m,
       |    list_transform(range(1, ${PqSub + 1}),
       |      i -> remb[m * $PqSub + i]) AS sub
       |  FROM resid CROSS JOIN range(0, $PqM) t(m)),
       |${pqFitCtes("rsub", "r")},
       |${errCte("eraw", "fin")},
       |${errCte("eres", "rfin")}
       |SELECT CAST(a.ivf_cell AS BIGINT) AS ivf_cell,
       |  CAST(COUNT(*) AS BIGINT) AS n_vecs,
       |  ${meanSql("w.err")} AS mean_err_raw,
       |  ${meanSql("z.err")} AS mean_err_res
       |FROM assign a
       |JOIN eraw w ON w.vec_id = a.vec_id
       |JOIN eres z ON z.vec_id = a.vec_id
       |GROUP BY 1 ORDER BY ivf_cell""".stripMargin
  }

  def sIvfPq(s: SparkSession, d: String): DataFrame = {
    val (cent, codebook, codes) = buildIvfPqIndex(s, d)
    val queries = withNorm(s, d).filter(col("vec_id") < NumQueries)
      .toDF("q_id", "q_emb", "q_nrm")
    annIvfPqServe(queries, cent, codebook, codes)
  }

  /** Driver-gated persistence proof: [[sIvfPq]]'s exact pipeline, but
    * the index frames ROUND-TRIP THROUGH PARQUET between build and
    * serve — [[graft.sources.IndexStore.saveIvfPq]] to a deterministic
    * scratch dir ([[graft.sources.TmpStores.dir]]; published through
    * the store's manifest swap, like any index rebuild), then `loadIvfPq`,
    * then [[annIvfPqServe]] over the RELOADED frames only. The oracle
    * is byte-for-byte [[sIvfPqSql]] — the round-trip is lossless by
    * construction — so the DuckDB hash gate now certifies the
    * persisted path end-to-end every round: a silent write-path drift
    * (schema reorder, the partitionBy column-order restoration at
    * IndexStore.loadIvfPq, codes truncation) flips the hash instead of
    * waiting for a ScalaTest run to notice. This is the
    * materialize-then-reread design point the reference itself makes
    * (ComputeWordScore.java:170-176,190-191 — SequenceFile
    * intermediate written by job 1, reread by job 2) at index grade.
    *
    * Scale shape: identical to the serve path — two distributed
    * parquet writes (codes partitioned by ivf_cell), two reads, DPP on
    * the probed cells of the loaded codes scan (spec-pinned in
    * IndexStoreSpec). The save cost is the index BUILD cost any
    * build-once/serve-many deployment pays offline, measured here so
    * the bench carries it honestly.
    */
  def sIvfPqServed(s: SparkSession, d: String): DataFrame = {
    val (cent, codebook, codes) = buildIvfPqIndex(s, d)
    val dir = graft.sources.TmpStores.dir(s, "ivfpq", d)
    IndexStore.saveIvfPq(dir, cent, codebook, codes)
    val (lCent, lCodebook, lCodes) = IndexStore.loadIvfPq(s, dir)
    val queries = withNorm(s, d).filter(col("vec_id") < NumQueries)
      .toDF("q_id", "q_emb", "q_nrm")
    annIvfPqServe(queries, lCent, lCodebook, lCodes)
  }

  lazy val sIvfPqSql: String =
    s"""WITH $ivfCtes,
       |assign AS (SELECT vec_id, c_id AS ivf_cell FROM (
       |  SELECT v.vec_id, c.c_id,
       |    row_number() OVER (PARTITION BY v.vec_id
       |      ORDER BY ${cosSql("v", "c")} DESC, c.c_id) AS arn
       |  FROM n v CROSS JOIN cent$LloydIters c) WHERE arn = 1),
       |probes AS (SELECT q_id, ivf_cell FROM (
       |  SELECT q.vec_id AS q_id, c.c_id AS ivf_cell,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY ${cosSql("q", "c")} DESC, c.c_id) AS prn
       |  FROM n q CROSS JOIN cent$LloydIters c WHERE q.vec_id < $NumQueries)
       |  WHERE prn <= $NumProbes),
       |cand AS (SELECT p.q_id, a.vec_id
       |  FROM probes p JOIN assign a USING (ivf_cell)
       |  WHERE p.q_id <> a.vec_id),
       |$pqCtesSql,
       |qd AS (SELECT s.vec_id AS q_id, s.m, c.cell,
       |    ${pqDistSql("s.sub", "c.c_emb")} AS dq
       |  FROM sub s JOIN cb c USING (m) WHERE s.vec_id < $NumQueries),
       |adc AS (SELECT cd.q_id, cd.vec_id AS n_id,
       |    CAST(SUM(CAST(q.dq AS DECIMAL(16,6))) AS DOUBLE) AS adist
       |  FROM cand cd
       |  JOIN fin f ON f.vec_id = cd.vec_id
       |  JOIN qd q ON q.q_id = cd.q_id AND q.m = f.m AND q.cell = f.cell
       |  GROUP BY 1, 2),
       |r AS (SELECT q_id, n_id, adist,
       |  CAST(row_number() OVER (PARTITION BY q_id
       |    ORDER BY adist ASC, n_id) AS INT) AS rnk FROM adc)
       |SELECT q_id, n_id, rnk, adist FROM r WHERE rnk <= $TopK
       |ORDER BY q_id, rnk""".stripMargin

  // ----------------------------------------------- filtered vector search
  /** Metadata-FILTERED exact top-k: per query, the k nearest corpus
    * vectors sharing the query's `label` — the filtered-vector-search
    * shape every production ANN service exposes (tenant / language /
    * source filters). The predicate turns the brute-force cross into
    * an EQUI-JOIN on the filter key: Spark hash-joins query-side
    * (broadcast) against the corpus scan on `label`, so selectivity
    * cuts compute BEFORE any distance math — pre-filtering, not the
    * post-filter-and-hope k-overshoot an index-only service does. At
    * production layout the corpus is partitioned by the filter key
    * and the join becomes partition pruning; classes with < k members
    * simply return fewer rows (exactly what the oracle does too).
    * Determinism: the cosineShortlist contract — 6-dp cosine, rank
    * ties by n_id.
    */
  def sFiltered(s: SparkSession, d: String): DataFrame = {
    val base = Tables.embeddings(s, d).select(
      col("vec_id"), col("label"), col("embedding"),
      Vectors.norm(col("embedding")).as("nrm"))
      .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
    val q = base.toDF("q_id", "label", "q_emb", "q_nrm")
      .filter(col("q_id") < NumQueries)
    val cos = round(
      Vectors.cosineWithNorms(Vectors.dot(col("q_emb"), col("embedding")),
        col("q_nrm"), col("nrm")), 6)
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
    broadcast(q).join(base, "label")
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("label"), col("vec_id").as("n_id"), cos.as("cos"))
      .withColumn("rnk", row_number().over(w).cast("int"))
      .filter(col("rnk") <= TopK)
      .orderBy("q_id", "rnk")
  }

  val sFilteredSql: String =
    s"""WITH n AS (SELECT vec_id, label, embedding,
       |  sqrt(list_reduce(list_transform(embedding,
       |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, x) -> a + x)) AS nrm
       |FROM embeddings),
       |scored AS (
       |  SELECT q.vec_id AS q_id, q.label, b.vec_id AS n_id,
       |    ${cosSql("q", "b")} AS cos
       |  FROM n q JOIN n b ON q.label = b.label
       |    AND q.vec_id < $NumQueries AND q.vec_id <> b.vec_id),
       |ranked AS (SELECT q_id, label, n_id, cos,
       |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS INT) AS rnk
       |  FROM scored)
       |SELECT q_id, label, n_id, cos, rnk FROM ranked WHERE rnk <= $TopK
       |ORDER BY q_id, rnk""".stripMargin

  // ------------------------------------------------ per-label centroids
  /** Per-label mean embedding (class centroids, dim-major rows) — the
    * aggregation behind cluster summaries, classifier prototypes, and
    * embedding-drift monitoring. Cross-row double sums are
    * order-dependent, so components are first quantized onto the
    * 2⁻²⁴ integer grid (`floor(x·2²⁴)` — exact for every float in
    * range, and floor-of-identical-double is engine-identical, unlike
    * raw double→int casts, which truncate in Spark but round in
    * DuckDB); the per-(label, dim) sum is then an exact BIGINT
    * aggregation, order-free on any partitioning, and one double
    * division + round finishes. Scale: posexplode inflates rows ×dim
    * but they collapse map-side into (labels × dim) partial-agg
    * states — the vector table itself never shuffles.
    */
  def sCentroids(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("label", "pos")
      .agg(sum(floor(col("v").cast("double") * lit(16777216.0)).cast("long")).as("sq"),
           count(lit(1)).as("n"))
      .select(col("label"), (col("pos") + 1).cast("int").as("dim"),
        round(col("sq").cast("double") / (col("n") * lit(16777216.0)), 6).as("centroid"))
      .orderBy("label", "dim")

  val sCentroidsSql: String =
    """WITH e AS (
      |  SELECT label, i AS dim,
      |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 16777216) AS BIGINT) AS q
      |  FROM embeddings, range(1, 65) t(i))
      |SELECT label, CAST(dim AS INT) AS dim,
      |  round(CAST(SUM(q) AS DOUBLE) / (COUNT(*) * 16777216.0), 6) AS centroid
      |FROM e GROUP BY label, dim ORDER BY label, dim""".stripMargin

  // ------------------------------------------- PQ subspace allocation
  /** PQ subspace-allocation design report — the OPQ-family question
    * ("is variance spread evenly across subspaces?") answered without
    * a rotation: per-dimension variances (exact integer-grid moments,
    * [[sCentroids]]'s 2^24 quantization) are allocated to the
    * [[PqM]] subspaces two ways — the naive CONTIGUOUS slicing
    * [[sPq]] uses, and the BALANCED snake allocation (dims ranked by
    * variance, dealt 0..M-1,M-1..0,…) that equalizes per-subspace
    * energy, the standard cheap stand-in for OPQ's learned rotation
    * when a permutation is all the index format allows. One row per
    * (layout, subspace) with its variance share plus the layout's
    * imbalance (max share · M — 1.0 is perfect balance); a contiguous
    * imbalance far above the balanced one says permute before
    * training codebooks.
    *
    * Determinism: per-dim variance numerators are exact integers
    * (n·Σq²−(Σq)² on the 2^24 grid, DECIMAL(38,0)/HUGEINT); the rank
    * is an exact-integer sort; shares are one double division of
    * exact operands. Scale shape: ONE corpus pass into a 64-row
    * moment table; everything after is 64-row planning. The snake
    * window runs on 64 rows — never corpus data.
    */
  def sPqLayout(s: SparkSession, d: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val grid = Tables.embeddings(s, d)
      .select(posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("pos"),
        floor(col("v").cast("double") * lit(16777216.0)).cast("long").as("q"))
    val mom = grid.groupBy("pos").agg(
        count(lit(1)).cast(d38).as("n"),
        sum(col("q")).cast(d38).as("sq"),
        sum((col("q") * col("q")).cast(d38)).as("sqq"))
      .select(col("pos"),
        (col("n") * col("sqq") - col("sq") * col("sq")).as("varn"))
    val wR = Window.orderBy(col("varn").desc, col("pos"))
    val assigned = mom.withColumn("rk", row_number().over(wR))
      .withColumn("sn", (col("rk") - 1) % (2 * PqM))
      .withColumn("m_bal", when(col("sn") < PqM, col("sn"))
        .otherwise(lit(2 * PqM - 1) - col("sn")).cast("int"))
      .withColumn("m_contig", expr(s"pos div $PqSub").cast("int"))
    val tot = broadcast(assigned.agg(sum(col("varn")).as("tv")))
    def shares(mcol: String, name: String): DataFrame =
      assigned.groupBy(col(mcol).as("m"))
        .agg(sum(col("varn")).as("mv"), count(lit(1)).cast("int").as("n_dims"))
        .crossJoin(tot)
        .select(lit(name).as("layout"), col("m"), col("n_dims"),
          (col("mv").cast("double") / col("tv").cast("double")).as("var_share"))
    val wL = Window.partitionBy("layout")
    shares("m_contig", "contiguous").unionAll(shares("m_bal", "balanced"))
      .withColumn("layout_imbalance",
        max(col("var_share")).over(wL) * lit(PqM.toDouble))
      .orderBy("layout", "m")
  }

  val sPqLayoutSql: String =
    s"""WITH g AS (SELECT i - 1 AS pos,
       |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 16777216) AS BIGINT) AS q
       |  FROM embeddings, range(1, 65) t(i)),
       |mom AS (SELECT pos, CAST(COUNT(*) AS HUGEINT) AS n,
       |    CAST(SUM(q) AS HUGEINT) AS sq,
       |    SUM(CAST(q AS HUGEINT) * q) AS sqq
       |  FROM g GROUP BY 1),
       |v AS (SELECT pos, n * sqq - sq * sq AS varn FROM mom),
       |r AS (SELECT pos, varn,
       |    row_number() OVER (ORDER BY varn DESC, pos) AS rk FROM v),
       |a AS (SELECT pos, varn,
       |    CAST(pos // $PqSub AS INT) AS m_contig,
       |    CAST(CASE WHEN (rk - 1) % ${2 * PqM} < $PqM THEN (rk - 1) % ${2 * PqM}
       |      ELSE ${2 * PqM - 1} - (rk - 1) % ${2 * PqM} END AS INT) AS m_bal
       |  FROM r),
       |tot AS (SELECT SUM(varn) AS tv FROM a),
       |u AS (
       |  SELECT 'contiguous' AS layout, m_contig AS m,
       |    CAST(COUNT(*) AS INT) AS n_dims,
       |    CAST(SUM(varn) AS DOUBLE) / CAST(MAX(tv) AS DOUBLE) AS var_share
       |  FROM a, tot GROUP BY 1, 2
       |  UNION ALL
       |  SELECT 'balanced', m_bal, CAST(COUNT(*) AS INT),
       |    CAST(SUM(varn) AS DOUBLE) / CAST(MAX(tv) AS DOUBLE)
       |  FROM a, tot GROUP BY 1, 2)
       |SELECT layout, m, n_dims, var_share,
       |  MAX(var_share) OVER (PARTITION BY layout) * $PqM AS layout_imbalance
       |FROM u ORDER BY layout, m""".stripMargin

  // ------------------------------------------- centroid classification
  /** Nearest-centroid classification eval: assign every vector to the
    * class whose mean centroid ([[sCentroids]]'s exact-grid means) is
    * nearest by cosine, and report per-true-label accuracy — the
    * cheap prototype-classifier health check run over embedding
    * columns (label quality, embedding drift, class separability)
    * before anyone trains a real probe. On the near-uniform synthetic
    * fixture accuracy sits near chance BY CONSTRUCTION — the
    * semantics, not the number, are the product.
    *
    * Scale shape: centroids are a labels×dim grid (tiny, rebuilt as
    * ordered arrays and BROADCAST); assignment is the IVF map-side
    * argmax cross — the corpus never shuffles, and the accuracy
    * aggregation is labels-bounded. Determinism: centroid components
    * are 6-dp grid means; the dot folds dims in fixed order on both
    * engines; argmax ties break by label.
    */
  def sClassify(s: SparkSession, d: String): DataFrame = {
    val cents = sCentroids(s, d)
      .groupBy(col("label").as("c_label"))
      .agg(array_sort(collect_list(struct(col("dim"), col("centroid")))).as("cs"))
      .select(col("c_label"), transform(col("cs"), x => x("centroid")).as("c_emb"))
      .select(col("c_label"), col("c_emb"),
        sqrt(aggregate(col("c_emb"), lit(0.0), (a, x) => a + x * x)).as("c_nrm"))
    val base = withNorm(s, d)
    val cos = round(Vectors.dot(col("embedding"), col("c_emb"))
      / (col("nrm") * col("c_nrm")), 6)
    val wA = Window.partitionBy("vec_id").orderBy(col("ccos").desc, col("c_label"))
    val pred = base
      .join(Tables.embeddings(s, d).select(col("vec_id"), col("label")), "vec_id")
      .crossJoin(broadcast(cents))
      .select(col("vec_id"), col("label"), col("c_label"), cos.as("ccos"))
      .withColumn("arn", row_number().over(wA))
      .filter(col("arn") === 1)
    pred.groupBy("label")
      .agg(count(lit(1)).as("n"),
        sum(when(col("c_label") === col("label"), 1L).otherwise(0L)).as("correct"))
      .select(col("label"), col("n"), col("correct"),
        round(col("correct").cast("double") / col("n"), 6).as("accuracy"))
      .orderBy("label")
  }

  val sClassifySql: String =
    s"""WITH cg AS (${sCentroidsSql.replace("ORDER BY label, dim", "")}),
       |cents AS (SELECT label AS c_label,
       |    list(centroid ORDER BY dim) AS c_emb FROM cg GROUP BY 1),
       |cn AS (SELECT c_label, c_emb,
       |    sqrt(list_reduce(list_transform(c_emb, x -> x * x), (a, x) -> a + x)) AS c_nrm
       |  FROM cents),
       |n AS (SELECT vec_id, label, embedding,
       |  sqrt(list_reduce(list_transform(embedding,
       |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, x) -> a + x)) AS nrm
       |FROM embeddings),
       |scored AS (SELECT v.vec_id, v.label, c.c_label,
       |    round(list_reduce(list_transform(range(1, 65),
       |        i -> CAST(v.embedding[i] AS DOUBLE) * c.c_emb[i]),
       |      (x, y) -> x + y) / (v.nrm * c.c_nrm), 6) AS ccos
       |  FROM n v CROSS JOIN cn c),
       |pred AS (SELECT vec_id, label, c_label FROM (
       |  SELECT vec_id, label, c_label,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY ccos DESC, c_label) AS arn FROM scored) WHERE arn = 1)
       |SELECT label, COUNT(*) AS n,
       |  CAST(SUM(CASE WHEN c_label = label THEN 1 ELSE 0 END) AS BIGINT) AS correct,
       |  round(CAST(SUM(CASE WHEN c_label = label THEN 1 ELSE 0 END) AS DOUBLE)
       |    / COUNT(*), 6) AS accuracy
       |FROM pred GROUP BY label ORDER BY label""".stripMargin

  // ------------------------------------------------- semantic dedup
  /** SemDeDup-shaped semantic dedup: cluster the corpus (the
    * [[sAnnIvf]] k-medoids fit), generate pairs ONLY within a cluster,
    * and mark the higher vec_id of every pair whose cosine meets the
    * threshold as a duplicate — output is one row per vector with its
    * cell and a keep flag (victims are the non-minimal members of
    * within-cell similarity neighborhoods). This is the
    * embedding-space answer to template spam that lexical dedup can't
    * see: paraphrases land in one cell and one representative
    * survives.
    *
    * Scale shape: the fit is the broadcast-K assignment (no vector
    * shuffle); within-cell pair generation is quadratic per cell — the
    * SemDeDup reality — but rides [[Dedup.blockPairs]], so a
    * degenerate hot cell is salt-split and per-task state stays
    * ~2·[[Dedup.BlockCap]] members; the victims frame shuffles only
    * (vec_id) rows. The fixture threshold (0.25) matches
    * [[Dedup.dEmbeddingNearDup]]'s — the synthetic embeddings are
    * near-uniform, so production-style 0.95+ would mark nothing;
    * semantics are threshold-independent.
    */
  val SemdedupCos = 0.25

  def dSemdedup(s: SparkSession, d: String): DataFrame = {
    val base = withNorm(s, d)
    val cent = fittedCentroids(base, LloydIters)
    // the assignment feeds BOTH the pair generation and the final
    // keep-flag join; the copies are optimizer-specialized and never
    // dedupe, but with cent pinned each re-evaluation is only the
    // broadcast argmax — a map pass, cheaper to recompute than to
    // materialize a corpus-sized frame (measured: pinning assign moved
    // nothing at sf0.1).
    val assign = ivfAssignment(base, cent)
    val pairs = Dedup.blockPairs(assign.select(col("cell").as("blk"),
      struct(col("vec_id").as("doc_id"), col("embedding"), col("nrm")).as("v")))
    val cos = round(
      Vectors.cosineWithNorms(Vectors.dot(col("x.embedding"), col("y.embedding")),
        col("x.nrm"), col("y.nrm")), 6)
    val victims = pairs
      .select(greatest(col("x.doc_id"), col("y.doc_id")).as("vec_id"), cos.as("cos"))
      .filter(col("cos") >= SemdedupCos)
      .select("vec_id").distinct()
    assign.select(col("vec_id"), col("cell"))
      .join(victims.withColumn("hit", lit(1)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        when(col("hit").isNotNull, 0).otherwise(1).as("keep"))
      .orderBy("vec_id")
  }

  val dSemdedupSql: String =
    s"""WITH $ivfCtes,
       |assign AS (SELECT vec_id, embedding, nrm, c_id AS cell FROM (
       |  SELECT v.vec_id, v.embedding, v.nrm, c.c_id,
       |    row_number() OVER (PARTITION BY v.vec_id
       |      ORDER BY ${cosSql("v", "c")} DESC, c.c_id) AS arn
       |  FROM n v CROSS JOIN cent$LloydIters c) WHERE arn = 1),
       |victims AS (SELECT DISTINCT b.vec_id
       |  FROM assign a JOIN assign b
       |    ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  WHERE ${cosSql("a", "b")} >= $SemdedupCos)
       |SELECT s.vec_id, s.cell,
       |  CASE WHEN v.vec_id IS NULL THEN 1 ELSE 0 END AS keep
       |FROM assign s LEFT JOIN victims v ON s.vec_id = v.vec_id
       |ORDER BY s.vec_id""".stripMargin

  // ------------------------------------------------- recall evaluation
  /** ANN recall@k — the evaluation every approximate-index deployment
    * runs before trusting it: per query, |exact top-k ∩ IVF top-k| / k,
    * composing the two verified paths ([[sCosineTopK]] ground truth,
    * [[sAnnIvf]] approximate). Left join so a query whose probed cells
    * miss everything still reports recall 0.0 rather than vanishing.
    *
    * Scale shape: both sides are per-query top-k sets (NumQueries·k
    * rows — evaluation-sized, not corpus-sized); the join and the
    * per-query aggregation are trivial. The expensive inputs reuse the
    * operators' own scale design (broadcast query side, pinned
    * centroid fit).
    */
  def sRecall(s: SparkSession, d: String): DataFrame = {
    val exact = sCosineTopK(s, d).select(col("q_id"), col("n_id"))
    val approx = sAnnIvf(s, d)
      .select(col("q_id"), col("n_id"), lit(1).as("hit"))
    exact.join(approx, Seq("q_id", "n_id"), "left")
      .groupBy("q_id")
      .agg(count(lit(1)).cast("int").as("k"),
        sum(coalesce(col("hit"), lit(0))).cast("int").as("n_match"),
        round(sum(coalesce(col("hit"), lit(0))).cast("double") / count(lit(1)), 6)
          .as("recall"))
      .orderBy("q_id")
  }

  /** Oracle composes the two existing verified chains as subqueries
    * (each keeps its own WITH scope).
    */
  val sRecallSql: String =
    s"""SELECT ex.q_id, CAST(COUNT(*) AS INT) AS k,
       |  CAST(SUM(CASE WHEN ap.n_id IS NULL THEN 0 ELSE 1 END) AS INT) AS n_match,
       |  round(CAST(SUM(CASE WHEN ap.n_id IS NULL THEN 0 ELSE 1 END) AS DOUBLE)
       |    / COUNT(*), 6) AS recall
       |FROM ($sCosineTopKSql) ex
       |LEFT JOIN ($sAnnIvfSql) ap
       |  ON ex.q_id = ap.q_id AND ex.n_id = ap.n_id
       |GROUP BY ex.q_id ORDER BY ex.q_id""".stripMargin

  /** Recall@k of the PQ/ADC path against the exact squared-L2 ground
    * truth (PQ quantizes L2, so L2 — not cosine — is its ground
    * truth). Same evaluation-sized shape as [[sRecall]]: both inputs
    * are per-query top-k sets; the expensive parts reuse each
    * operator's own scale design (broadcast lookup tables, codes-only
    * corpus scan on the ADC side; broadcast query side on the exact
    * side). The ADC recall is structurally LOSSY (M·K codebook cells
    * can't preserve all neighborhoods) — this query is how a
    * deployment measures whether the loss is acceptable before
    * trusting the compressed index. Measured on the fixtures: mean
    * recall@5 ≈ 0.24 at sf0.01 — the UNIFORM random fixture is PQ's
    * hardest case (no cluster structure for 4×8 codebook cells to
    * exploit; 4 bytes per vector is a 64× compression), which is
    * precisely why the evaluation query exists: the compression knob
    * (M, K) is tuned against THIS number on real, clustered data.
    */
  def sRecallPq(s: SparkSession, d: String): DataFrame = {
    val base = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val q = base.toDF("q_id", "q_emb").filter(col("q_id") < NumQueries)
    // native codegen'd squared L2 — bit-identical to the HOF form
    // (VectorExprSpec pins it), fuses into the crossJoin's codegen stage
    val l2 = round(Vectors.sqDist(col("q_emb"), col("embedding")), 6)
    val w = Window.partitionBy("q_id").orderBy(col("dist").asc, col("n_id"))
    val exact = broadcast(q).crossJoin(base)
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("n_id"), l2.as("dist"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= TopK)
      .select("q_id", "n_id")
    val approx = sAnnPq(s, d)
      .select(col("q_id"), col("n_id"), lit(1).as("hit"))
    exact.join(approx, Seq("q_id", "n_id"), "left")
      .groupBy("q_id")
      .agg(count(lit(1)).cast("int").as("k"),
        sum(coalesce(col("hit"), lit(0))).cast("int").as("n_match"),
        round(sum(coalesce(col("hit"), lit(0))).cast("double") / count(lit(1)), 6)
          .as("recall"))
      .orderBy("q_id")
  }

  lazy val sRecallPqSql: String = {
    val l2Sql =
      s"""round(list_reduce(list_transform(range(1, ${PqM * PqSub + 1}),
         |      i -> (CAST(q.embedding[i] AS DOUBLE) - CAST(b.embedding[i] AS DOUBLE))
         |         * (CAST(q.embedding[i] AS DOUBLE) - CAST(b.embedding[i] AS DOUBLE))),
         |      (x, y) -> x + y), 6)""".stripMargin
    s"""SELECT ex.q_id, CAST(COUNT(*) AS INT) AS k,
       |  CAST(SUM(CASE WHEN ap.n_id IS NULL THEN 0 ELSE 1 END) AS INT) AS n_match,
       |  round(CAST(SUM(CASE WHEN ap.n_id IS NULL THEN 0 ELSE 1 END) AS DOUBLE)
       |    / COUNT(*), 6) AS recall
       |FROM (SELECT q_id, n_id FROM (
       |    SELECT q.vec_id AS q_id, b.vec_id AS n_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY $l2Sql ASC, b.vec_id) AS rnk
       |    FROM embeddings q JOIN embeddings b
       |      ON q.vec_id < $NumQueries AND q.vec_id <> b.vec_id)
       |  WHERE rnk <= $TopK) ex
       |LEFT JOIN ($sAnnPqSql) ap
       |  ON ex.q_id = ap.q_id AND ex.n_id = ap.n_id
       |GROUP BY ex.q_id ORDER BY ex.q_id""".stripMargin
  }

  // --------------------------------------------------- MMR re-ranking
  /** Maximal-marginal-relevance diversified top-k: greedily pick the
    * candidate maximizing λ·cos(q,c) − (1−λ)·max_{s∈selected} sim(c,s)
    * — the standard de-duplicating re-ranker over a retrieval shortlist
    * (Carbonell & Goldstein). The greedy loop is SEQUENTIAL by
    * definition, but k is a small constant, so the steps are UNROLLED:
    * each is one ranked window over the (query, candidate) frame —
    * which also makes the whole thing SQL-expressible, unlike a loop.
    *
    * Scale: the shortlist is [[MmrCand]] per query (the expensive part
    * is the retrieval, delegated to the verified top-k machinery);
    * candidate-pair sims are |Q|·C² rows, all bounded by construction.
    * Scores rank on values rounded to 6 dp (cos and sim already are),
    * ties by candidate id — deterministic on both engines.
    */
  val MmrLambda = 0.5
  val MmrCand = 8
  def sMmr(s: SparkSession, d: String): DataFrame = {
    // the shortlist (a corpus cross-join + window) fans out to BOTH
    // self-join sides of `pairs`, to c0, and transitively to every
    // rank's scoring branch — unpinned it re-executed ~6x in the final
    // plan (30 corpus scans). Both frames are query-grain-bounded
    // (queries×cand and queries×cand² rows), so the pins are cheap and
    // the corpus pass runs once. Pin `pairs` too: it feeds the rank-2
    // branch once and the rank-3 branch twice.
    val cand = Materialize.pin(cosineShortlist(s, d, MmrCand, keepVecs = true))
    val ccos = round(
      Vectors.cosineWithNorms(Vectors.dot(col("a_emb"), col("b_emb")),
        col("a_nrm"), col("b_nrm")), 6)
    val pairs = Materialize.pin(cand
      .select(col("q_id"), col("n_id").as("a"), col("emb").as("a_emb"), col("cnrm").as("a_nrm"))
      .join(cand.select(col("q_id"), col("n_id").as("b"),
        col("emb").as("b_emb"), col("cnrm").as("b_nrm")), "q_id")
      .filter(col("a") =!= col("b"))
      .select(col("q_id"), col("a"), col("b"), ccos.as("sim")))
    val c0 = cand.select("q_id", "n_id", "cos")
    def pick(scored: DataFrame, scoreCol: String): DataFrame = {
      val w = Window.partitionBy("q_id").orderBy(col(scoreCol).desc, col("n_id"))
      scored.withColumn("r", row_number().over(w)).filter(col("r") === 1)
    }
    // Scores round at 7 dp, NOT 6: λ = ½ times a 6-dp value is an
    // EXACT 7-digit decimal, so 7-dp rounding has no ties to resolve
    // and both engines recover the identical decimal — while at 6 dp
    // every odd-last-digit cosine lands on a .…5 tie where Spark
    // (HALF_UP over the shortest decimal string) and DuckDB
    // (std::round(x·1e6)/1e6) measurably disagree (~1 % of ties —
    // caught in review; the three SFs had been green by luck).
    // rank 1: pure relevance — rank on the cosine itself (rounding a
    // derived score could collapse two distinct cosines into a tie and
    // let the id tie-break pick the lower-relevance one)
    val sel1 = pick(c0, "cos")
      .select(col("q_id"), col("n_id").as("s1"),
        round(lit(MmrLambda) * col("cos"), 7).as("score1"))
    // rank 2: penalized by similarity to the rank-1 pick
    val sc2 = c0.join(sel1.select("q_id", "s1"), "q_id")
      .filter(col("n_id") =!= col("s1"))
      .join(pairs.select(col("q_id"), col("a").as("n_id"),
        col("b").as("s1"), col("sim")), Seq("q_id", "n_id", "s1"))
      .withColumn("score", round(
        lit(MmrLambda) * col("cos") - lit(1 - MmrLambda) * col("sim"), 7))
    val sel2 = pick(sc2, "score")
      .select(col("q_id"), col("n_id").as("s2"), col("score").as("score2"))
    // rank 3: penalized by the max similarity to either pick
    val sc3 = c0
      .join(sel1.select("q_id", "s1"), "q_id")
      .join(sel2.select("q_id", "s2"), "q_id")
      .filter(col("n_id") =!= col("s1") && col("n_id") =!= col("s2"))
      .join(pairs.select(col("q_id"), col("a").as("n_id"),
        col("b").as("s1"), col("sim").as("sim1")), Seq("q_id", "n_id", "s1"))
      .join(pairs.select(col("q_id"), col("a").as("n_id"),
        col("b").as("s2"), col("sim").as("sim2")), Seq("q_id", "n_id", "s2"))
      .withColumn("score", round(lit(MmrLambda) * col("cos")
        - lit(1 - MmrLambda) * greatest(col("sim1"), col("sim2")), 7))
    val sel3 = pick(sc3, "score")
      .select(col("q_id"), col("n_id").as("s3"), col("score").as("score3"))
    sel1.select(col("q_id"), lit(1).as("rank"), col("s1").as("n_id"), col("score1").as("score"))
      .union(sel2.select(col("q_id"), lit(2).as("rank"), col("s2").as("n_id"), col("score2").as("score")))
      .union(sel3.select(col("q_id"), lit(3).as("rank"), col("s3").as("n_id"), col("score3").as("score")))
      .orderBy("q_id", "rank")
  }

  val sMmrSql: String = {
    val lam = MmrLambda
    s"""WITH $NORM_CTE,
       |scored AS (
       |  SELECT q.vec_id AS q_id, b.vec_id AS n_id, ${cosSql("q", "b")} AS cos,
       |    b.embedding AS emb, b.nrm AS cnrm
       |  FROM n q JOIN n b ON q.vec_id < $NumQueries AND q.vec_id <> b.vec_id),
       |cand AS (SELECT * FROM (SELECT q_id, n_id, cos, emb, cnrm,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
       |  FROM scored) WHERE rnk <= $MmrCand),
       |pairs AS (SELECT x.q_id, x.n_id AS a, y.n_id AS b,
       |    round(list_reduce(list_transform(range(1, 65),
       |      i -> CAST(x.emb[i] AS DOUBLE) * CAST(y.emb[i] AS DOUBLE)),
       |      (u, v) -> u + v) / (x.cnrm * y.cnrm), 6) AS sim
       |  FROM cand x JOIN cand y ON x.q_id = y.q_id AND x.n_id <> y.n_id),
       |sel1 AS (SELECT q_id, n_id AS s1, round($lam * cos, 7) AS score1 FROM (
       |  SELECT q_id, n_id, cos,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY cos DESC, n_id) AS r
       |  FROM cand) WHERE r = 1),
       |sc2 AS (SELECT c.q_id, c.n_id,
       |    round($lam * c.cos - ${1 - lam} * p.sim, 7) AS score
       |  FROM cand c JOIN sel1 ON c.q_id = sel1.q_id AND c.n_id <> sel1.s1
       |  JOIN pairs p ON p.q_id = c.q_id AND p.a = c.n_id AND p.b = sel1.s1),
       |sel2 AS (SELECT q_id, n_id AS s2, score AS score2 FROM (
       |  SELECT q_id, n_id, score,
       |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, n_id) AS r
       |  FROM sc2) WHERE r = 1),
       |sc3 AS (SELECT c.q_id, c.n_id,
       |    round($lam * c.cos - ${1 - lam} * greatest(p1.sim, p2.sim), 7) AS score
       |  FROM cand c
       |  JOIN sel1 ON c.q_id = sel1.q_id AND c.n_id <> sel1.s1
       |  JOIN sel2 ON c.q_id = sel2.q_id AND c.n_id <> sel2.s2
       |  JOIN pairs p1 ON p1.q_id = c.q_id AND p1.a = c.n_id AND p1.b = sel1.s1
       |  JOIN pairs p2 ON p2.q_id = c.q_id AND p2.a = c.n_id AND p2.b = sel2.s2),
       |sel3 AS (SELECT q_id, n_id AS s3, score AS score3 FROM (
       |  SELECT q_id, n_id, score,
       |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, n_id) AS r
       |  FROM sc3) WHERE r = 1)
       |SELECT q_id, CAST(1 AS INT) AS rank, s1 AS n_id, score1 AS score FROM sel1
       |UNION ALL
       |SELECT q_id, CAST(2 AS INT) AS rank, s2 AS n_id, score2 AS score FROM sel2
       |UNION ALL
       |SELECT q_id, CAST(3 AS INT) AS rank, s3 AS n_id, score3 AS score FROM sel3
       |ORDER BY q_id, rank""".stripMargin
  }

  // ------------------------------------------- sparse TF-IDF cosine
  /** Rare-feature blocking for sparse-vector candidates: a pair is
    * scored only if it shares a word 3-gram with 2 ≤ df ≤ cap.
    * Blocking feature (distinctive gram) ≠ scoring feature (word
    * vector) is the standard record-linkage split. Per-gram pair
    * fanout is ≤ cap², so candidate volume is linear in the number of
    * rare-gram postings — and the long tail IS most of the gram
    * space, which is why the blocking key shuffles (gram-keyed join),
    * never broadcasts. Single words don't block here: the fixture's
    * (and any small-vocab corpus') word dfs are all corpus-scale,
    * carrying zero blocking power.
    */
  val SparseDfCap = 10
  val SparseGramN = 3
  /** Report pairs at/above this exact cosine. */
  val SparseCosT = 0.90

  /** Document similarity WITHOUT embeddings: exact TF-IDF cosine over
    * the token space, candidates from rare-gram blocking. The weighted
    * complement of `d_jaccard` (set overlap) and the sparse complement
    * of `s_cosine_topk` (dense vectors) — the classic
    * inverted-index-join shape real search engines use.
    *
    * Determinism across engines: weights are the exact `t_tfidf`
    * formula rounded to 6 dp (ln parity holds at that precision);
    * every SUM term (norms, dot products) is computed on the EXACT
    * decimal path — cast the 6-dp weight to DECIMAL(18,6) (an exact
    * recovery in both engines), multiply exactly at scale 12, round
    * the exact product to 9 dp HALF_UP — so reduction order AND
    * double-representation ties at the 10th digit (real for products
    * of 6-dp decimals) cannot change a bit. sqrt/÷ are IEEE
    * correctly-rounded on identical inputs.
    *
    * Scale: tokenize runs once into the pinned tf table; tf and the
    * weight table shuffle (id, word, value) triples only, never text.
    * The candidate self-join is gram-keyed with df ≤ cap bounding
    * per-key fanout; the dot-product join touches candidates' shared
    * words only. Recall is bounded by the blocking contract (pairs
    * sharing NO rare gram are not scored) — stated in the semantics,
    * like `d_jaccard`'s min-shingle blocking.
    */
  def sSparseCosine(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val tf = Materialize.pin(
      Tables.documents(s, d)
        .select(col("doc_id"), explode(graft.functions.Text.tokens(col("text"))).as("word"))
        .groupBy("doc_id", "word").agg(count(lit(1)).as("tf")))
    val dfw = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val n = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
    // df is vocab-bounded (aggregated) → broadcast to keep tf unshuffled
    val w = Materialize.pin(tf.join(broadcast(dfw), "word").crossJoin(broadcast(n))
      .select(col("doc_id"), col("word"),
        round(col("tf") * (log((col("n_docs") + lit(1.0)) / (col("df") + lit(1.0))) + lit(1.0)), 6)
          .as("w")))
    // exact decimal quantization (the a24c5dd oracle-pairing rule):
    // w IS a 6-dp decimal (round(·,6) upstream), so the DECIMAL(18,6)
    // cast recovers it exactly in both engines; the square is exact
    // decimal at scale 12 and the 9-dp round happens on THAT — no
    // double-representation tie can diverge cross-engine, unlike
    // rounding the double product (a 12-dp product of 6-dp decimals
    // can sit exactly on a .5 boundary at the 10th digit)
    val w6 = col("w").cast(DecimalType(18, 6))
    // native ShingleSet == array_distinct(shingles(…)) in one codegen'd
    // loop (exact-equality tested in VectorExprSpec); this subplan is
    // evaluated for the gdf aggregate and the self-join, whose two
    // identical branches collapse into a ReusedExchange (pinning was
    // A/B'd and lost — docs/PLANS.md round-5)
    val grams = Tables.documents(s, d)
      .select(col("doc_id"), explode(org.apache.spark.sql.graft.GraftSql
        .shingleSet(graft.functions.Text.tokens(col("text")), SparseGramN)).as("gram"))
    val gdf = grams.groupBy("gram").agg(count(lit(1)).as("gdf"))
    val post = grams.join(
      gdf.filter(col("gdf").between(2, SparseDfCap)).select("gram"), "gram")
    val cand = post.select(col("doc_id").as("a"), col("gram"))
      .join(post.select(col("doc_id").as("b"), col("gram")), "gram")
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
    // pair scoring: one codegen'd merge-walk per candidate over the two
    // docs' SORTED weight vectors (graft.plans.SparseDotProduct) —
    // decimal-exact twin of SUM(round(w6a * w6b, 9)) over the exploded
    // shared-word join, without pushing
    // |pairs|·|shared words| (~13M at sf0.1) rows through two hash
    // joins and a regroup. An `aggregate`-HOF fold was also A/B'd and
    // rejected — interpreted lambdas run 3–5× slower once unrelated
    // queries pollute the evaluator's dispatch profile (PLANS.md
    // round-5); a native Expression with doGenCode is immune.
    val gs = org.apache.spark.sql.graft.GraftSql
    // ONE per-doc aggregate carries both the sorted weight vector and
    // the norm: previously norms and wlist were two separate groupBys
    // over w, and the candidate set paid FOUR alternating-key joins
    // (wv by a, wv by b, nrm by a, nrm by b — each its own exchange,
    // the keys alternate so no partitioning is reused). Same values,
    // identical exact-decimal norm arithmetic, half the candidate-side
    // shuffles.
    val wlist = w.groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("word"), col("w")))).as("wv"),
        sqrt(sum(round(w6 * w6, 9)).cast("double")).as("nrm"))
    cand
      .join(wlist.select(col("doc_id").as("a"),
        col("wv").as("va"), col("nrm").as("na")), "a")
      .join(wlist.select(col("doc_id").as("b"),
        col("wv").as("vb"), col("nrm").as("nb")), "b")
      .select(col("a"), col("b"),
        round(gs.sparseDot(col("va"), col("vb"))
          / (col("na") * col("nb")), 6).as("cos"))
      .filter(col("cos") >= SparseCosT)
      .orderBy("a", "b")
  }

  val sSparseCosineSql: String = {
    val toks = graft.functions.Text.ToksSql
    s"""WITH toks AS (SELECT doc_id, unnest($toks) AS word FROM documents),
       |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
       |dft AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY 1),
       |n AS (SELECT COUNT(*) AS n_docs FROM documents),
       |w AS (SELECT doc_id, word,
       |    round(tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0), 6) AS w
       |  FROM tf JOIN dft USING (word) CROSS JOIN n),
       |norms AS (SELECT doc_id,
       |    sqrt(CAST(SUM(round(CAST(w AS DECIMAL(18,6)) * CAST(w AS DECIMAL(18,6)), 9))
       |         AS DOUBLE)) AS nrm
       |  FROM w GROUP BY 1),
       |t2 AS (SELECT doc_id, $toks AS toks FROM documents),
       |gi AS (SELECT doc_id, toks,
       |  unnest(range(1, len(toks) - ${SparseGramN - 2})) AS pos FROM t2),
       |g AS (SELECT DISTINCT doc_id,
       |  ${graft.functions.Text.gramConcatSql("toks", "pos", SparseGramN)} AS gram FROM gi),
       |gdf AS (SELECT gram, COUNT(*) AS gdf FROM g GROUP BY 1),
       |rare AS (SELECT gram FROM gdf WHERE gdf BETWEEN 2 AND $SparseDfCap),
       |cand AS (SELECT DISTINCT ga.doc_id AS a, gb.doc_id AS b
       |  FROM g ga JOIN rare USING (gram) JOIN g gb USING (gram)
       |  WHERE ga.doc_id < gb.doc_id),
       |dot AS (SELECT c.a, c.b,
       |    CAST(SUM(round(CAST(wa.w AS DECIMAL(18,6)) * CAST(wb.w AS DECIMAL(18,6)), 9))
       |         AS DOUBLE) AS dp
       |  FROM cand c
       |  JOIN w wa ON wa.doc_id = c.a
       |  JOIN w wb ON wb.doc_id = c.b AND wb.word = wa.word
       |  GROUP BY 1, 2)
       |SELECT a, b, round(dp / (na.nrm * nb.nrm), 6) AS cos
       |FROM dot JOIN norms na ON na.doc_id = a JOIN norms nb ON nb.doc_id = b
       |WHERE round(dp / (na.nrm * nb.nrm), 6) >= $SparseCosT
       |ORDER BY a, b""".stripMargin
  }

  // ------------------------------------------- hybrid retrieval fusion
  val RrfK = 60   // the standard RRF dampening constant (Cormack et al.)

  /** Reciprocal-rank fusion of the DENSE ranking (exact cosine top-k
    * over `embeddings`, [[sCosineTopK]]) and the SPARSE ranking (BM25
    * top-k over `documents`, [[TextAnalysis.tBm25]]) — the standard
    * hybrid-retrieval combiner: rrf(q,d) = Σ_lists 1/([[RrfK]]+rank),
    * absent-from-a-list contributes 0. Ids are aligned across the two
    * fixtures (doc_id ↔ vec_id); each list ranks within its own corpus,
    * fusion runs over the union — exactly how production hybrid search
    * fuses an ANN index with an inverted index that may cover different
    * subsets.
    *
    * Scale shape: both inputs are already top-k lists — |Q|·k rows each
    * — so the fusion itself (full-outer join + window) is trivially
    * small no matter the corpus size; ALL the heavy lifting happens
    * inside the two upstream retrievals, each already shaped for 100 TB
    * (see their scaladocs). Determinism: the two reciprocal terms are
    * summed in fixed written order (coalesce(a,0)+coalesce(b,0), plain
    * doubles, no reordering possible in a 2-term expression), rounded
    * once; final ranking ties break by id.
    */
  def sRrf(s: SparkSession, d: String): DataFrame = {
    val sparse = TextAnalysis.tBm25(s, d)
      .select(col("q_id"), col("doc_id").as("id"), col("rnk").as("srnk"))
    val dense = sCosineTopK(s, d)
      .select(col("q_id"), col("n_id").as("id"), col("rnk").as("drnk"))
    val wF = Window.partitionBy("q_id").orderBy(col("rrf").desc, col("id"))
    sparse.join(dense, Seq("q_id", "id"), "full_outer")
      .select(col("q_id"), col("id"),
        round(coalesce(lit(1.0) / (lit(RrfK) + col("srnk")), lit(0.0))
          + coalesce(lit(1.0) / (lit(RrfK) + col("drnk")), lit(0.0)), 6).as("rrf"),
        coalesce(col("srnk"), lit(0)).as("srnk"),
        coalesce(col("drnk"), lit(0)).as("drnk"))
      .withColumn("rnk", row_number().over(wF).cast("int"))
      .orderBy("q_id", "rnk")
  }

  val sRrfSql: String =
    s"""WITH sp AS (SELECT q_id, doc_id AS id, rnk AS srnk
       |  FROM (${graft.operators.TextAnalysis.tBm25Sql}) t),
       |de AS (SELECT q_id, n_id AS id, rnk AS drnk
       |  FROM (${sCosineTopKSql}) t),
       |f AS (SELECT COALESCE(sp.q_id, de.q_id) AS q_id,
       |    COALESCE(sp.id, de.id) AS id,
       |    round(COALESCE(1.0 / ($RrfK + sp.srnk), 0.0)
       |      + COALESCE(1.0 / ($RrfK + de.drnk), 0.0), 6) AS rrf,
       |    COALESCE(sp.srnk, 0) AS srnk, COALESCE(de.drnk, 0) AS drnk
       |  FROM sp FULL OUTER JOIN de
       |    ON sp.q_id = de.q_id AND sp.id = de.id)
       |SELECT q_id, id, rrf, srnk, drnk,
       |  CAST(row_number() OVER (PARTITION BY q_id
       |    ORDER BY rrf DESC, id) AS INT) AS rnk
       |FROM f ORDER BY q_id, rnk""".stripMargin

  // ------------------------------------------------- corpus diversity
  /** Corpus embedding diversity: the mean pairwise cosine over ALL
    * (n choose 2) vector pairs — the mode-collapse / duplication
    * health metric for an embedding corpus (a diverse corpus sits
    * near 0, a collapsed one near 1) — computed WITHOUT pairing via
    * the moment identity Σ_{i≠j} v̂ᵢ·v̂ⱼ = ‖Σv̂‖² − Σ‖v̂‖². One pass:
    * each vector normalizes and quantizes onto the exact 2⁻²⁴ grid
    * (the [[sCentroids]] determinism recipe — grid coordinates are
    * exact BIGINTs, so the corpus-wide sums are order-free), the
    * per-dim sum vector and the total squared norm accumulate as
    * BIGINT/DECIMAL(38,0), and the final ‖S‖² fold walks the 64
    * bounded dims in fixed order. The emitted statistic is the exact
    * mean pairwise cosine OF THE GRID-NORMALIZED vectors (quantization
    * ≤ 2⁻²⁴ per coordinate — far below the 6-dp output rounding).
    * Scale: a map + one dim-bounded partial aggregation; no vector
    * ever pairs with another, no corpus shuffle at any width — the
    * O(n²) semantic at O(n) cost is the entire point.
    */
  def sDiversity(s: SparkSession, d: String): DataFrame = {
    // let-bind the norm (referenced by all 64 lambda elements) through
    // a single-element transform — the sQuantize Generate idiom
    val qArr = element_at(transform(
      array(sqrt(aggregate(col("embedding"), lit(0.0),
        (a, x) => a + x.cast("double") * x.cast("double")))), nrm =>
        transform(col("embedding"), x =>
          floor(x.cast("double") / nrm * lit(16777216.0)).cast("long"))), 1)
    // explode to (pos, q) and collapse map-side into the 64-row moment grid
    val grid = Tables.embeddings(s, d)
      .filter(aggregate(col("embedding"), lit(0.0),
        (a, x) => a + x.cast("double") * x.cast("double")) > 0.0)
      .select(posexplode(qArr).as(Seq("pos", "qv")))
      .groupBy("pos")
      .agg(sum(col("qv")).as("sq"),
        sum((col("qv") * col("qv")).cast("decimal(38,0)")).as("sqq"),
        count(lit(1)).as("n"))
    grid
      .agg(array_sort(collect_list(struct(col("pos"), col("sq")))).as("a"),
        sum(col("sqq")).as("tq"), max(col("n")).as("n"))
      .select(col("n").as("n_vecs"),
        round((aggregate(transform(col("a"), x => {
            val c = x.getField("sq").cast("double") / lit(16777216.0); c * c
          }), lit(0.0), (acc, t) => acc + t) -
            col("tq").cast("double") / lit(281474976710656.0)) /
          (col("n").cast("double") * (col("n") - 1).cast("double")), 6)
          .as("mean_pairwise_cos"))
  }

  val sDiversitySql: String = {
    val norm = "sqrt(list_reduce(list_prepend(0.0, list_transform(embedding, " +
      "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b))"
    s"""WITH nv AS (SELECT
       |    list_transform(range(1, 65), i -> CAST(floor(
       |      CAST(embedding[i] AS DOUBLE) / $norm * 16777216.0) AS BIGINT)) AS q
       |  FROM embeddings WHERE list_reduce(list_prepend(0.0,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
       |    (a, b) -> a + b) > 0.0),
       |g AS (SELECT i AS pos, CAST(SUM(q[i]) AS BIGINT) AS sq,
       |    SUM(q[i] * q[i]) AS sqq, COUNT(*) AS n
       |  FROM nv, range(1, 65) t(i) GROUP BY 1),
       |a AS (SELECT list(CAST(sq AS DOUBLE) / 16777216.0 ORDER BY pos) AS svec,
       |    CAST(SUM(sqq) AS DOUBLE) AS tq, MAX(n) AS n FROM g)
       |SELECT n AS n_vecs,
       |  round((list_reduce(list_prepend(0.0, list_transform(svec, c -> c * c)),
       |      (acc, t) -> acc + t) - tq / 281474976710656.0) /
       |    (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)), 6) AS mean_pairwise_cos
       |FROM a""".stripMargin
  }

  // ------------------------------------------------ outlier detection
  /** Embedding-space outlier detection: the [[OutlierTopK]] vectors
    * farthest (L2) from the corpus centroid, each with its distance
    * and the distance-to-corpus-mean ratio — the cheap OOD / mislabeled
    * / corrupt-embedding sweep run before any clustering or dedup
    * trusts the space. Determinism is the [[sCentroids]] recipe end to
    * end: centroid components are exact 2⁻²⁴-grid means rounded to
    * 6 dp, the per-vector squared-deviation fold walks dims in fixed
    * order on both engines, distances round once, and the corpus mean
    * distance is an exact integer sum of 10⁻⁶-floored distances with
    * one final division chain. Scale: the centroid grid is a
    * dim-bounded aggregation with map-side partial collapse; the
    * centroid array (1 row) broadcasts; distance is a pure map over
    * the corpus; the stats row is another 1-row broadcast; and the
    * top-k is a TakeOrdered — the corpus vectors never shuffle.
    */
  val OutlierTopK = 50

  def sOutlier(s: SparkSession, d: String): DataFrame = {
    val cent = Tables.embeddings(s, d)
      .select(posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("pos")
      .agg(sum(floor(col("v").cast("double") * lit(16777216.0)).cast("long")).as("sq"),
        count(lit(1)).as("n"))
      .select(col("pos"),
        round(col("sq").cast("double") / (col("n") * lit(16777216.0)), 6).as("mu"))
    val centArr = cent
      .agg(array_sort(collect_list(struct(col("pos"), col("mu")))).as("cs"))
      .select(transform(col("cs"), x => x("mu")).as("mu"))
    val dists = Tables.embeddings(s, d).crossJoin(broadcast(centArr))
      .select(col("vec_id"), col("label"),
        round(sqrt(Vectors.sqDist(col("embedding"), col("mu"))), 6).as("dist"))
    val stats = dists.agg(
      sum(floor(col("dist") * lit(1e6)).cast("long")).as("sdm"),
      count(lit(1)).as("n"))
    dists.crossJoin(broadcast(stats))
      .select(col("vec_id"), col("label"), col("dist"),
        round(col("dist") / (col("sdm").cast("double") / lit(1e6) / col("n")), 6)
          .as("rel_dist"))
      .orderBy(col("dist").desc, col("vec_id"))
      .limit(OutlierTopK)
  }

  val sOutlierSql: String =
    s"""WITH cent AS (SELECT i AS pos,
       |    round(CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 16777216.0)
       |      AS BIGINT)) AS DOUBLE) / (COUNT(*) * 16777216.0), 6) AS mu
       |  FROM embeddings, range(1, 65) t(i) GROUP BY 1),
       |m AS (SELECT list(mu ORDER BY pos) AS mu FROM cent),
       |dists AS (SELECT vec_id, label,
       |    round(sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, 65),
       |      i -> (CAST(embedding[i] AS DOUBLE) - mu[i]) *
       |           (CAST(embedding[i] AS DOUBLE) - mu[i]))),
       |      (a, b) -> a + b)), 6) AS dist
       |  FROM embeddings, m),
       |stats AS (SELECT CAST(SUM(CAST(floor(dist * 1000000.0) AS BIGINT)) AS BIGINT)
       |    AS sdm, COUNT(*) AS n FROM dists)
       |SELECT vec_id, label, dist,
       |  round(dist / (CAST(sdm AS DOUBLE) / 1000000.0 / n), 6) AS rel_dist
       |FROM dists CROSS JOIN stats
       |ORDER BY dist DESC, vec_id LIMIT $OutlierTopK""".stripMargin

  // ------------------------------------------------ silhouette score
  /** Mean silhouette per IVF cell — the standard "are these clusters
    * real?" diagnostic run before any per-cell operator (SemDeDup,
    * IVF probing) trusts the partition: for each vector, a = mean
    * squared L2 distance to its own cell's other members, b = the
    * smallest mean squared distance to any other cell, silhouette
    * = (b−a)/max(a,b) ∈ [−1, 1]; emitted as the per-cell mean.
    *
    * The pairwise definition is computed WITHOUT pairs via the moment
    * identity Σ_y‖x−y‖² = n·‖x‖² − 2·x·S + Q per cell (S = Σy,
    * Q = Σ‖y‖²) — the same algebraic elimination as [[sDiversity]],
    * here per (vector, cell). What would be an O(n²) petabyte
    * self-join is one corpus pass against a broadcast K-row moment
    * table.
    *
    * Scale shape: the fit is the shared broadcast-K assignment; cell
    * moments are a K·dim-bounded partial aggregation (component sums
    * exact DECIMAL, squared norms on the exact 10⁻⁶ grid — both
    * order-free); the per-vector a/b pass is map-side against the
    * broadcast moments; the final roll-up is K rows. Vectors never
    * shuffle. Determinism: every per-vector quantity is one fixed
    * double expression over exact aggregates; silhouettes round at
    * 6 dp, then the cell mean goes through the exact micro-integer
    * sum. Singleton cells score 0 by the standard convention.
    */
  def sSilhouette(s: SparkSession, d: String): DataFrame = {
    val base = withNorm(s, d)
    val cent = fittedCentroids(base, LloydIters)
    val assign = ivfAssignment(base, cent)
    val sqOf = (e: Column) => aggregate(transform(e, x => x.cast("double") * x.cast("double")),
      lit(0.0), (a, x) => a + x)
    val compSums = assign
      .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("cell", "pos")
      .agg(sum(col("v").cast("decimal(20,8)")).cast("double").as("sv"))
      .groupBy("cell")
      .agg(array_sort(collect_list(struct(col("pos"), col("sv")))).as("ps"))
      .select(col("cell").as("c2"), transform(col("ps"), p => p.getField("sv")).as("sVec"))
    val cellStats = assign.groupBy(col("cell").as("c2"))
      .agg(count(lit(1)).as("cn"),
        (sum(floor(sqOf(col("embedding")) * lit(1e6)).cast("long")).cast("double")
          / lit(1e6)).as("cq"))
    val cells = compSums.join(cellStats, "c2")
    val m2 = col("cn") * col("sqx") -
      lit(2.0) * Vectors.dot(col("embedding"), col("sVec")) + col("cq")
    val perVC = assign
      .withColumn("sqx", sqOf(col("embedding")))
      .crossJoin(broadcast(cells))
      .select(col("vec_id"), col("cell"), col("c2"), col("cn"), m2.as("m2"))
    val perV = perVC.groupBy("vec_id", "cell")
      .agg(max(when(col("c2") === col("cell"), col("cn"))).as("nOwn"),
        max(when(col("c2") === col("cell"),
          col("m2") / (col("cn") - lit(1)).cast("double"))).as("a"),
        min(when(col("c2") =!= col("cell"), col("m2") / col("cn"))).as("b"))
      .select(col("cell"),
        when(col("nOwn") === 1 || greatest(col("a"), col("b")) <= 0.0, lit(0.0))
          .otherwise(round((col("b") - col("a")) / greatest(col("a"), col("b")), 6))
          .as("sil"))
    perV.groupBy("cell")
      .agg(count(lit(1)).as("n"),
        round(sum(floor(col("sil") * lit(1e6)).cast("long")).cast("double")
          / lit(1e6) / count(lit(1)), 6).as("mean_sil"))
      .orderBy("cell")
  }

  val sSilhouetteSql: String = {
    val sqx = """list_reduce(list_prepend(0.0, list_transform(embedding,
                |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)""".stripMargin
    s"""WITH $ivfCtes,
       |assign AS (SELECT vec_id, embedding, nrm, c_id AS cell FROM (
       |  SELECT v.vec_id, v.embedding, v.nrm, c.c_id,
       |    row_number() OVER (PARTITION BY v.vec_id
       |      ORDER BY ${cosSql("v", "c")} DESC, c.c_id) AS arn
       |  FROM n v CROSS JOIN cent$LloydIters c) WHERE arn = 1),
       |comp AS (SELECT cell, i AS pos,
       |    CAST(SUM(CAST(embedding[i] AS DECIMAL(20,8))) AS DOUBLE) AS sv
       |  FROM assign CROSS JOIN range(1, 65) t(i) GROUP BY 1, 2),
       |svec AS (SELECT cell AS c2, list(sv ORDER BY pos) AS s FROM comp GROUP BY 1),
       |cstat AS (SELECT cell AS c2, COUNT(*) AS cn,
       |    CAST(SUM(CAST(floor(($sqx) * 1000000.0) AS BIGINT)) AS DOUBLE)
       |      / 1000000.0 AS cq
       |  FROM assign GROUP BY 1),
       |cells AS (SELECT sv.c2, cn, s, cq FROM svec sv JOIN cstat cs ON sv.c2 = cs.c2),
       |pvc AS (SELECT a.vec_id, a.cell, c.c2, c.cn,
       |    c.cn * ($sqx)
       |      - 2.0 * list_reduce(list_prepend(0.0, list_transform(range(1, 65),
       |          i -> CAST(a.embedding[i] AS DOUBLE) * c.s[i])), (x, y) -> x + y)
       |      + c.cq AS m2
       |  FROM assign a CROSS JOIN cells c),
       |perv AS (SELECT vec_id, cell,
       |    MAX(CASE WHEN c2 = cell THEN cn END) AS n_own,
       |    MAX(CASE WHEN c2 = cell THEN m2 / CAST(cn - 1 AS DOUBLE) END) AS a,
       |    MIN(CASE WHEN c2 <> cell THEN m2 / cn END) AS b
       |  FROM pvc GROUP BY 1, 2),
       |sil AS (SELECT cell,
       |    CASE WHEN n_own = 1 OR GREATEST(a, b) <= 0.0 THEN 0.0
       |         ELSE round((b - a) / GREATEST(a, b), 6) END AS sil
       |  FROM perv)
       |SELECT cell, COUNT(*) AS n,
       |  round(CAST(SUM(CAST(floor(sil * 1000000.0) AS BIGINT)) AS DOUBLE)
       |    / 1000000.0 / COUNT(*), 6) AS mean_sil
       |FROM sil GROUP BY cell ORDER BY cell""".stripMargin
  }

  // ------------------------------------------------ binary sign search
  /** Binary (sign-bit) signatures + Hamming top-k — the cheapest
    * search tier over 100 TB of embeddings: one bit per dimension
    * (here 64 dims → 8 bytes, a 32× shrink over float32) packed into
    * two 32-bit halves, ranked by Hamming distance to each query's
    * signature. Sign-random-projection theory (Charikar's SimHash for
    * vectors) says Hamming distance over sign bits is monotone in
    * angular distance in expectation, so this is the standard shortlist
    * tier in front of an exact or PQ re-rank.
    *
    * Scale shape: packing is a pure per-row map (the only thing the
    * corpus scan materializes is two longs per vector — at production
    * layout the signatures are a persisted 8-byte column and the float
    * vectors are never read); the [[NumQueries]]-row query side is
    * BROADCAST, so ranking shuffles only (query, candidate, distance)
    * triples. XOR+popcount is exactly the SIMD-friendly kernel real
    * binary-ANN tiers run.
    *
    * Determinism: the signature is a sum of distinct powers of two
    * gated on the EXACT float comparison x > 0 (no arithmetic on the
    * dims at all), and Hamming is an integer — no rounding anywhere.
    * Ties rank by candidate id. Halves are packed 32-and-32 so neither
    * engine ever shifts into a BIGINT sign bit.
    */
  def sHamming(s: SparkSession, d: String): DataFrame = {
    def pack(start: Int): Column = {
      val bits = array((0 until 32).map(i => lit(1L << i)): _*)
      aggregate(zip_with(slice(col("embedding"), start, 32), bits,
        (x, b) => when(x > lit(0f), b).otherwise(lit(0L))),
        lit(0L), (a, v) => a + v)
    }
    val sigs = Tables.embeddings(s, d)
      .select(col("vec_id"), pack(1).as("lo"), pack(33).as("hi"))
    val qs = sigs.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("lo").as("q_lo"), col("hi").as("q_hi"))
    val w = Window.partitionBy("vec_id").orderBy(col("hamming"), col("n_id"))
    sigs.join(broadcast(qs), col("vec_id") =!= col("q_id"))
      .select(col("q_id").as("vec_id"), col("vec_id").as("n_id"),
        (bit_count(col("q_lo").bitwiseXOR(col("lo"))) +
         bit_count(col("q_hi").bitwiseXOR(col("hi")))).cast("int").as("hamming"))
      .withColumn("rnk", row_number().over(w).cast("int"))
      .filter(col("rnk") <= TopK)
      .orderBy("vec_id", "rnk")
  }

  val sHammingSql: String = {
    def packSql(lohi: String, off: Int): String =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(${off + 1}, ${off + 33}),
         |    i -> CASE WHEN embedding[i] > 0 THEN (CAST(1 AS BIGINT) << (i - ${off + 1}))
         |         ELSE CAST(0 AS BIGINT) END)), (a, b) -> a + b) AS $lohi""".stripMargin
    s"""WITH sig AS (SELECT vec_id,
       |  ${packSql("lo", 0)},
       |  ${packSql("hi", 32)}
       |  FROM embeddings),
       |cand AS (SELECT q.vec_id AS vec_id, c.vec_id AS n_id,
       |    CAST(bit_count(xor(q.lo, c.lo)) + bit_count(xor(q.hi, c.hi)) AS INT) AS hamming
       |  FROM sig q JOIN sig c ON c.vec_id <> q.vec_id
       |  WHERE q.vec_id < $NumQueries),
       |ranked AS (SELECT vec_id, n_id, hamming,
       |  CAST(row_number() OVER (PARTITION BY vec_id ORDER BY hamming, n_id) AS INT) AS rnk
       |  FROM cand)
       |SELECT vec_id, n_id, hamming, rnk FROM ranked WHERE rnk <= $TopK
       |ORDER BY vec_id, rnk""".stripMargin
  }

  // --------------------------------------- embedding-distribution drift
  /** Embedding-space drift detection — the monitor a production
    * vector pipeline runs between ingestion batches (encoder upgrade,
    * corpus shift, silent preprocessing change): split the corpus
    * into two deterministic cohorts (vec_id parity — the fixture's
    * stand-in for yesterday/today), compute each cohort's per-
    * dimension mean through exact decimal sums, and report the 5
    * dimensions with the largest absolute mean shift. A healthy
    * re-ingest shows shifts near the sampling noise floor; a drifted
    * encoder shows a few dimensions jumping orders of magnitude above
    * the rest — which dimensions move is the debugging signal.
    *
    * Scale shape: one posexplode → (cohort, dim) aggregation with
    * map-side partial collapse — the shuffled state is 2·64 rows per
    * partition regardless of corpus size — then a 64-row pivot and a
    * top-5. Determinism: means are exact DECIMAL(20,8) sums with one
    * double division; the ranking orders by the ROUNDED shift with
    * dim as tiebreak, so both engines rank identical values.
    */
  def sDrift(s: SparkSession, d: String): DataFrame = {
    val ex = Tables.embeddings(s, d)
      .select((col("vec_id") % 2).cast("int").as("cohort"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
    val means = ex.groupBy("cohort", "dim")
      .agg((sum(col("x").cast("decimal(20,8)")).cast("double")
        / count(lit(1))).as("m"))
    means.groupBy("dim")
      .agg(max(when(col("cohort") === 0, col("m"))).as("ma"),
        max(when(col("cohort") === 1, col("m"))).as("mb"))
      .select(col("dim"), round(col("ma"), 6).as("mean_a"),
        round(col("mb"), 6).as("mean_b"),
        round(abs(col("ma") - col("mb")), 6).as("abs_shift"))
      .orderBy(col("abs_shift").desc, col("dim"))
      .limit(5)
  }

  val sDriftSql: String =
    """WITH ex AS (SELECT CAST(vec_id % 2 AS INT) AS cohort,
      |    generate_subscripts(embedding, 1) - 1 AS dim,
      |    unnest(embedding) AS x FROM embeddings),
      |means AS (SELECT cohort, dim,
      |    CAST(SUM(CAST(x AS DECIMAL(20,8))) AS DOUBLE) / COUNT(*) AS m
      |  FROM ex GROUP BY 1, 2),
      |wide AS (SELECT dim,
      |    MAX(CASE WHEN cohort = 0 THEN m END) AS ma,
      |    MAX(CASE WHEN cohort = 1 THEN m END) AS mb
      |  FROM means GROUP BY 1)
      |SELECT CAST(dim AS INT) AS dim, round(ma, 6) AS mean_a,
      |  round(mb, 6) AS mean_b, round(abs(ma - mb), 6) AS abs_shift
      |FROM wide ORDER BY abs_shift DESC, dim LIMIT 5""".stripMargin

  // ------------------------------------------------ PCA (power iteration)
  /** Top principal component of the embedding corpus by COVARIANCE-FREE
    * power iteration — the distributed-linear-algebra primitive behind
    * whitening, anisotropy diagnosis ("is one direction eating the
    * embedding space?"), and spectral outlier screens. The 64×64
    * covariance is never materialized: each iteration computes
    * C·v = Σ_vecs (x−μ)·((x−μ)ᵀv) as two corpus passes — a per-vector
    * scalar s = (x−μ)ᵀv, then per-dimension sums of s·(x−μ) — which is
    * exactly the shape that scales (at 100 TB each pass is one scan +
    * one vec-keyed and one 64-row dim-keyed aggregation; no 4096·n
    * outer-product blowup, no driver linear algebra). Three iterations
    * from the uniform unit vector; output is the top-8 loadings by
    * magnitude plus the Rayleigh estimate's share of total variance
    * (λ/trace — scale factors cancel, so the 1/(n−1) normalization is
    * omitted throughout).
    *
    * Determinism: every cross-engine sum is EXACT — each double term
    * is cast to DECIMAL (the half-away-from-zero double→decimal cast
    * matches across engines, see the sQuantize note) and summed
    * order-free; doubles appear only in per-row arithmetic (identical
    * IEEE ops) and the final divisions. The centered table is pinned:
    * seven consumers (trace + 3×(s, r)) would each re-explode the
    * corpus otherwise.
    */
  def sPca(s: SparkSession, d: String): DataFrame = {
    // Array-native power iteration (r13, guide §2.4 remove shuffles /
    // §1.2 algorithm first). The previous shape exploded the corpus to
    // (vec_id, dim, x) grain — n·64 rows — pinned THAT, and each of the
    // three power steps ran TWO corpus-grain joins (c ⋈ v by dim, then
    // c ⋈ sv by vec_id — a full shuffle of the exploded matrix per
    // step). Here the centered matrix stays one 64-double array per
    // vector (n rows pinned), v rides as a ONE-ROW array frame
    // (crossJoin(broadcast) — no key, no shuffle), sv is an in-row
    // zip_with fold, and the only per-step aggregate is the 64-group
    // (pos) partial-aggregating sum — each step is ONE map-side corpus
    // pass. Exactness is unchanged term-for-term: every per-term
    // DECIMAL cast is identical and decimal addition is exact and
    // order-free, so regrouping the same terms (by row instead of by
    // (vec,dim) cell) cannot change any sum; the oracle SQL is
    // untouched. 10 corpus passes → 4 (pin, trace, 3 steps share the
    // pin), 26 jobs → ~14, no corpus-grain join anywhere.
    val ex = Tables.embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("vec_id"), col("dim"), col("x").cast("double").as("x"))
    val mu = ex.groupBy("dim")
      .agg((sum(col("x").cast("decimal(20,8)")).cast("double")
        / count(lit(1))).as("mu"))
    // one-row (dim-ordered) array form of a 64-row (dim, v) frame
    def asArr(f: DataFrame, vc: String): DataFrame = f
      .agg(array_sort(collect_list(struct(col("dim"), col(vc)))).as("p"))
      .select(transform(col("p"), x => x.getField(vc)).as("varr"))
    val muArr = asArr(mu, "mu")
    val c = graft.operators.Materialize.pin(
      Tables.embeddings(s, d).crossJoin(broadcast(muArr))
        .select(col("vec_id"),
          zip_with(col("embedding"), col("varr"),
            (x, m) => x.cast("double") - m).as("xc")))
    val trace = c
      .select(explode(col("xc")).as("xcv"))
      .agg(sum((col("xcv") * col("xcv")).cast("decimal(30,15)")).cast("double")
        .as("trace"))
    // one power-iteration step: v (one-row array) -> (dim, rv) 64 rows;
    // sv = Σ_dim DECIMAL(30,15)(xc·v) folds in-row (decimal-exact, so
    // regrouping the old per-(vec)-group sum into a per-row fold is
    // value-identical), rv = Σ_vec DECIMAL(30,15)(sv·xc) partial-
    // aggregates map-side into 64 groups
    def step(vArr: DataFrame): DataFrame = {
      // fold accumulator: decimal(31,15) with an explicit same-scale
      // cast per merge. Add(dec(31,15), dec(30,15)) = dec(32,15) —
      // inside the 38 cap, so the add is EXACT at scale 15, and the
      // cast back to (31,15) only drops precision headroom (16 integer
      // digits remain — unreachable at these magnitudes), never a
      // digit. A wider accumulator would be WRONG: Add(dec(38,15), x)
      // overflows the cap and Spark re-scales the result to 14 —
      // silently truncating the 15th decimal the oracle's
      // SUM(DECIMAL(30,15)) keeps.
      val sv = aggregate(
        zip_with(col("xc"), col("varr"), (x, vv) => (x * vv).cast("decimal(30,15)")),
        lit(java.math.BigDecimal.ZERO).cast("decimal(31,15)"),
        (a, x) => (a + x).cast("decimal(31,15)")).cast("double")
      // sv MUST be a plain attribute before the explode: a generator
      // select plans the other expressions in the Project ABOVE
      // Generate, re-running the 64-term fold once per EXPLODED row
      // (64x per vector — measured +19% instead of a win). Computing it
      // in the Generate's child evaluates it once per vector and the
      // explode replicates the value.
      c.crossJoin(broadcast(vArr))
        .select(col("xc"), sv.as("sv"))
        .select(posexplode(col("xc")).as(Seq("dim", "xcv")), col("sv"))
        .groupBy("dim")
        .agg(sum((col("sv") * col("xcv")).cast("decimal(30,15)")).cast("double")
          .as("rv"))
    }
    def normalize(r: DataFrame): DataFrame = {
      val nm = r.agg(
        sqrt(sum((col("rv") * col("rv")).cast("decimal(38,12)")).cast("double"))
          .as("nm"))
      r.crossJoin(broadcast(nm)).select(col("dim"),
        (col("rv") / col("nm")).as("v"), col("nm"))
    }
    val v0 = muArr.select(transform(col("varr"), _ => lit(0.125)).as("varr"))
    val v1 = asArr(normalize(step(v0)), "v")
    val v2 = asArr(normalize(step(v1)), "v")
    val v3 = normalize(step(v2))
    val w = Window.orderBy(abs(col("v")).desc, col("dim"))
    v3.crossJoin(broadcast(trace))
      .select(col("dim"), col("v"), col("nm"), col("trace"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 8)
      .select(col("rnk"), col("dim"), round(col("v"), 6).as("loading"),
        round(col("nm") / col("trace"), 6).as("explained_ratio"))
      .orderBy("rnk")
  }

  val sPcaSql: String = {
    def stepSql(i: Int, vPrev: String): String =
      s"""s$i AS (SELECT vec_id,
         |    CAST(SUM(CAST(c.xc * $vPrev.v AS DECIMAL(30,15))) AS DOUBLE) AS sv
         |  FROM c JOIN $vPrev USING (dim) GROUP BY vec_id),
         |r$i AS (SELECT dim,
         |    CAST(SUM(CAST(s$i.sv * c.xc AS DECIMAL(30,15))) AS DOUBLE) AS rv
         |  FROM c JOIN s$i USING (vec_id) GROUP BY dim),
         |n$i AS (SELECT sqrt(CAST(SUM(CAST(rv * rv AS DECIMAL(38,12)))
         |    AS DOUBLE)) AS nm FROM r$i),
         |v$i AS (SELECT dim, rv / nm AS v FROM r$i, n$i)""".stripMargin
    s"""WITH ex AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
       |    CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
       |mu AS (SELECT dim, CAST(SUM(CAST(x AS DECIMAL(20,8))) AS DOUBLE)
       |    / COUNT(*) AS mu FROM ex GROUP BY 1),
       |c AS (SELECT vec_id, dim, x - mu AS xc FROM ex JOIN mu USING (dim)),
       |tr AS (SELECT CAST(SUM(CAST(xc * xc AS DECIMAL(30,15))) AS DOUBLE)
       |    AS trace FROM c),
       |v0 AS (SELECT dim, CAST(0.125 AS DOUBLE) AS v FROM mu),
       |${stepSql(1, "v0")},
       |${stepSql(2, "v1")},
       |${stepSql(3, "v2")},
       |ranked AS (SELECT CAST(row_number() OVER (ORDER BY abs(v) DESC, dim)
       |      AS INT) AS rnk, CAST(dim AS INT) AS dim,
       |    round(v, 6) AS loading,
       |    round(nm / trace, 6) AS explained_ratio
       |  FROM v3, n3, tr)
       |SELECT rnk, dim, loading, explained_ratio
       |FROM ranked WHERE rnk <= 8 ORDER BY rnk""".stripMargin
  }

  // --------------------------------------- truncated-dimension recall
  /** Dimension-truncation retrieval eval (the Matryoshka question):
    * how much exact-cosine recall@10 survives if the index stores only
    * the FIRST 16 of 64 dimensions? Ground-truth top-10 (full vectors)
    * vs truncated top-10 per query, overlap counted — the measurement
    * that decides whether a 4× smaller/faster first-tier index is
    * affordable before building it. Both shortlists are exact searches
    * with the suite's standard determinism (6-dp cosine, id tiebreak).
    *
    * Scale shape: one broadcast-query corpus pass computes BOTH
    * cosines (the truncated prefix is sliced in-row — no second scan),
    * two per-query window ranks, and an id-keyed overlap join between
    * two |Q|·10 shortlists. At production scale each shortlist comes
    * from its own ANN tier instead; the eval join is unchanged.
    */
  def sDimRecall(s: SparkSession, d: String): DataFrame = {
    val base = Tables.embeddings(s, d).select(
      col("vec_id"), col("embedding"),
      Vectors.norm(col("embedding")).as("n64"),
      Vectors.norm(slice(col("embedding"), 1, 16)).as("n16"))
      .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
    val q = base.toDF("q_id", "q_emb", "q_n64", "q_n16")
      .filter(col("q_id") < NumQueries)
    val pairs = broadcast(q).crossJoin(base)
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        round(Vectors.dot(col("q_emb"), col("embedding"))
          / (col("q_n64") * col("n64")), 6).as("cos64"),
        round(Vectors.dot(slice(col("q_emb"), 1, 16),
            slice(col("embedding"), 1, 16))
          / (col("q_n16") * col("n16")), 6).as("cos16"))
    val w64 = Window.partitionBy("q_id").orderBy(col("cos64").desc, col("n_id"))
    val w16 = Window.partitionBy("q_id").orderBy(col("cos16").desc, col("n_id"))
    val ranked = pairs
      .withColumn("r64", row_number().over(w64))
      .withColumn("r16", row_number().over(w16))
    val truth = ranked.filter(col("r64") <= 10).select("q_id", "n_id")
    val trunc = ranked.filter(col("r16") <= 10).select("q_id", "n_id")
    val hits = truth.join(trunc, Seq("q_id", "n_id"))
      .groupBy("q_id").agg(count(lit(1)).as("hits"))
    q.select(col("q_id")).join(hits, Seq("q_id"), "left")
      .select(col("q_id"), coalesce(col("hits"), lit(0L)).as("hits"),
        round(coalesce(col("hits"), lit(0L)) / lit(10.0), 6).as("recall"))
      .orderBy("q_id")
  }

  val sDimRecallSql: String = {
    def cosN(n: Int, nrmA: String, nrmB: String): String =
      s"""round(list_reduce(list_transform(range(1, ${n + 1}),
         |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
         |      (x, y) -> x + y) / ($nrmA * $nrmB), 6)""".stripMargin
    s"""WITH n AS (SELECT vec_id, embedding,
       |  sqrt(list_reduce(list_transform(embedding,
       |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (p, x) -> p + x)) AS n64,
       |  sqrt(list_reduce(list_transform(embedding[1:16],
       |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (p, x) -> p + x)) AS n16
       |  FROM embeddings),
       |pairs AS (SELECT a.vec_id AS q_id, b.vec_id AS n_id,
       |    ${cosN(64, "a.n64", "b.n64")} AS cos64,
       |    ${cosN(16, "a.n16", "b.n16")} AS cos16
       |  FROM n a JOIN n b ON a.vec_id < $NumQueries AND a.vec_id <> b.vec_id),
       |ranked AS (SELECT q_id, n_id,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos64 DESC, n_id) AS r64,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos16 DESC, n_id) AS r16
       |  FROM pairs),
       |hits AS (SELECT t.q_id, COUNT(*) AS hits
       |  FROM (SELECT q_id, n_id FROM ranked WHERE r64 <= 10) t
       |  JOIN (SELECT q_id, n_id FROM ranked WHERE r16 <= 10) u
       |    USING (q_id, n_id) GROUP BY t.q_id)
       |SELECT q.q_id, coalesce(h.hits, 0) AS hits,
       |  round(coalesce(h.hits, 0) / 10.0, 6) AS recall
       |FROM (SELECT DISTINCT vec_id AS q_id FROM n WHERE vec_id < $NumQueries) q
       |LEFT JOIN hits h USING (q_id) ORDER BY q_id""".stripMargin
  }

  // -------------------------------------- matryoshka prefix-recall curve
  /** Prefix-dimension recall CURVE — the Matryoshka (MRL) eval table:
    * for every prefix width d ∈ {8, 16, 32}, the corpus-level
    * recall@10 of exact cosine search over the FIRST d dimensions
    * against the full-64-dim ground truth. [[sDimRecall]] answers the
    * single-point question per query; this is the curve a team reads
    * to pick the smallest first-tier index width that clears its
    * recall bar (8→16→32 is typically the knee region for
    * MRL-trained embeddings).
    *
    * Scale shape: ONE broadcast-query corpus pass computes all four
    * cosines per pair (prefix slices are in-row — no second scan, and
    * the three prefix dots are the same codegen'd native as the full
    * one); four per-query rank windows share one (q_id) exchange; the
    * curve is a single conditional aggregate over the ranked pairs,
    * unpivoted to 3 rows. Determinism: the suite's 6-dp cosine +
    * n_id tiebreak, hits are exact counts, one rounded division per
    * curve row.
    */
  val MatryoshkaDims: Seq[Int] = Seq(8, 16, 32)

  def sMatryoshka(s: SparkSession, d: String): DataFrame = {
    val dims = MatryoshkaDims
    val base0 = Tables.embeddings(s, d).select(
      Seq(col("vec_id"), col("embedding"),
        Vectors.norm(col("embedding")).as("n64")) ++
      dims.map(k => Vectors.norm(slice(col("embedding"), 1, k)).as(s"n$k")): _*)
    val base = base0
      .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
    val q = base.toDF(Seq("q_id", "q_emb", "q_n64") ++
      dims.map(k => s"q_n$k"): _*).filter(col("q_id") < NumQueries)
    val pairs = broadcast(q).crossJoin(base)
      .filter(col("q_id") =!= col("vec_id"))
      .select(Seq(col("q_id"), col("vec_id").as("n_id"),
        round(Vectors.dot(col("q_emb"), col("embedding"))
          / (col("q_n64") * col("n64")), 6).as("cos64")) ++
      dims.map(k =>
        round(Vectors.dot(slice(col("q_emb"), 1, k),
            slice(col("embedding"), 1, k))
          / (col(s"q_n$k") * col(s"n$k")), 6).as(s"cos$k")): _*)
    def w(c: String) = Window.partitionBy("q_id")
      .orderBy(col(c).desc, col("n_id"))
    val ranked = (Seq(64) ++ dims).foldLeft(pairs) { (df, k) =>
      df.withColumn(s"r$k", row_number().over(w(s"cos$k")))
    }
    val aggCols = Seq(countDistinct(col("q_id")).as("nq")) ++
      dims.map(k => sum(when(col("r64") <= TopK * 2
        && col(s"r$k") <= TopK * 2, 1L).otherwise(0L)).as(s"h$k"))
    val agg = ranked.agg(aggCols.head, aggCols.tail: _*)
    agg.selectExpr("nq",
        s"stack(${dims.size}, ${dims.map(k => s"$k, h$k").mkString(", ")}) " +
          "AS (dim, hits)")
      .select(col("dim").cast("int").as("dim"), col("hits"),
        round(col("hits").cast("double") / (col("nq") * (TopK * 2)), 6)
          .as("recall"))
      .orderBy("dim")
  }

  lazy val sMatryoshkaSql: String = {
    val dims = MatryoshkaDims
    def nrmSql(k: Int) =
      s"""sqrt(list_reduce(list_transform(embedding[1:$k],
         |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (p, x) -> p + x))""".stripMargin
    def cosSqlK(k: Int): String =
      s"""round(list_reduce(list_transform(range(1, ${k + 1}),
         |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
         |      (x, y) -> x + y) / (a.n$k * b.n$k), 6)""".stripMargin
    val curve = dims.map(k =>
      s"SELECT $k AS dim, h$k AS hits FROM agg").mkString("\n  UNION ALL ")
    s"""WITH n AS (SELECT vec_id, embedding,
       |  ${nrmSql(64)} AS n64,
       |  ${dims.map(k => s"${nrmSql(k)} AS n$k").mkString(",\n  ")}
       |  FROM embeddings),
       |pairs AS (SELECT a.vec_id AS q_id, b.vec_id AS n_id,
       |    ${cosSqlK(64)} AS cos64,
       |    ${dims.map(k => s"${cosSqlK(k)} AS cos$k").mkString(",\n    ")}
       |  FROM n a JOIN n b ON a.vec_id < $NumQueries AND a.vec_id <> b.vec_id),
       |ranked AS (SELECT q_id, n_id,
       |    ${(Seq(64) ++ dims).map(k =>
             s"row_number() OVER (PARTITION BY q_id ORDER BY cos$k DESC, n_id) AS r$k")
             .mkString(",\n    ")}
       |  FROM pairs),
       |agg AS (SELECT COUNT(DISTINCT q_id) AS nq,
       |    ${dims.map(k =>
             s"CAST(SUM(CASE WHEN r64 <= ${TopK * 2} AND r$k <= ${TopK * 2} " +
               s"THEN 1 ELSE 0 END) AS BIGINT) AS h$k").mkString(",\n    ")}
       |  FROM ranked),
       |curve AS ($curve)
       |SELECT CAST(dim AS INT) AS dim, hits,
       |  round(CAST(hits AS DOUBLE) / (SELECT nq * ${TopK * 2} FROM agg), 6)
       |    AS recall
       |FROM curve ORDER BY dim""".stripMargin
  }

  // ------------------------------------------------------- hubness
  /** Hubness diagnostic over the [[sKnnGraph]] digraph: the in-degree
    * histogram — how many vectors appear in k other vectors' top-k
    * lists. High-dimensional spaces grow HUBS (a few points that are
    * everyone's neighbor) and anti-hubs (in-degree 0, unreachable by
    * k-NN navigation); a heavy in-degree tail degrades ANN recall and
    * skews k-NN classification, so this histogram is the go/no-go
    * check before trusting neighbor-based dedup or retrieval on a new
    * embedding model. In-degree-0 nodes are reported (left join from
    * the corpus id set — they are the finding, not a missing row).
    *
    * Scale shape: pays the verified sKnnGraph chain by definition;
    * beyond it only (n_id) keys shuffle into a bounded-key histogram.
    */
  def sHubness(s: SparkSession, d: String): DataFrame = {
    val indeg = sKnnGraph(s, d).select(col("n_id"))
      .groupBy("n_id").agg(count(lit(1)).as("c"))
    Tables.embeddings(s, d).select(col("vec_id").as("n_id"))
      .join(indeg, Seq("n_id"), "left")
      .select(coalesce(col("c"), lit(0L)).as("in_deg"))
      .groupBy("in_deg").agg(count(lit(1)).as("n_nodes"))
      .orderBy("in_deg")
  }

  val sHubnessSql: String =
    s"""WITH ind AS (SELECT n_id, COUNT(*) AS c
       |  FROM ($sKnnGraphSql) g GROUP BY 1)
       |SELECT coalesce(ind.c, 0) AS in_deg, COUNT(*) AS n_nodes
       |FROM embeddings e LEFT JOIN ind ON e.vec_id = ind.n_id
       |GROUP BY 1 ORDER BY in_deg""".stripMargin

  // --------------------------------------------- probe-count sweep
  /** IVF nprobe tuning curve — recall@k at 1, 2, and 3 probed cells
    * against the exact shortlist: THE parameter-sweep every IVF
    * deployment runs before fixing its latency/recall trade
    * ([[sRecall]] measures one point; this measures the curve). Each
    * level re-instantiates the full verified [[annIvf]] chain with
    * its probe count; the exact ground truth is computed once and
    * pinned (evaluation-sized).
    *
    * Determinism: recall = n_match / (|Q|·k) — the unrounded quotient
    * of two exact integers with a FIXED query-shape denominator
    * (50 divides 10⁶, so even the decimal expansion terminates);
    * the FIXTURES §C mean-tie rule's safe case.
    *
    * Scale shape: 3× the sAnnIvf plan (broadcast centroids, cell-
    * bucketed search) plus three |Q|·k-row overlap joins — the sweep
    * cost is the chain cost, as it should be.
    */
  def sProbeCurve(s: SparkSession, d: String): DataFrame = {
    val exact = sCosineTopK(s, d).select(col("q_id"), col("n_id"))
    val base = withNorm(s, d)
    val cent = fittedCentroids(base, LloydIters)
    val assign = ivfAssignment(base, cent)
    // ONE pass for all three probe depths instead of three sequential
    // annIvf arms (each with its own probe window, corpus join and rank
    // window): probe ranks are computed once to depth 3, and a candidate
    // reached through its query's rank-r cell participates in every arm
    // p >= r (cells are disjoint — a corpus vector has exactly one cell —
    // so the explode can never duplicate a (q, n) pair within an arm). The
    // per-arm rank window and recall join then key on the arm column.
    // Per-arm shortlists are provably the old ones: arm p's candidate
    // set {prn <= p} and rank order (cos desc, n_id) are unchanged.
    // The former exact/assign pins are dropped, not moved: each frame
    // is consumed exactly once in the fused plan.
    val maxP = 3
    val queries = base.filter(col("vec_id") < NumQueries)
      .toDF("q_id", "q_emb", "q_nrm")
    val wProbe = Window.partitionBy("q_id").orderBy(col("ccos").desc, col("c_id"))
    val probes = queries.crossJoin(broadcast(cent))
      .select(col("q_id"), col("q_emb"), col("q_nrm"), col("c_id"),
        round(Vectors.cosineWithNorms(Vectors.dot(col("q_emb"), col("c_emb")),
          col("q_nrm"), col("c_nrm")), 6).as("ccos"))
      .withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= maxP)
      .select(col("q_id"), col("q_emb"), col("q_nrm"),
        col("c_id").as("cell"), col("prn"))
    // the depth-3 cell set is a superset of every arm's; arm membership
    // is enforced exactly by the prn-derived arm column below
    val cos = round(
      Vectors.cosineWithNorms(Vectors.dot(col("q_emb"), col("embedding")),
        col("q_nrm"), col("nrm")), 6)
    val wRank = Window.partitionBy("nprobe", "q_id")
      .orderBy(col("cos").desc, col("n_id"))
    val approx = assign.join(broadcast(probes), "cell")
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("n_id"), cos.as("cos"),
        explode(sequence(col("prn"), lit(maxP))).as("nprobe"))
      .withColumn("rnk", row_number().over(wRank))
      .filter(col("rnk") <= TopK)
      .select(col("nprobe"), col("q_id"), col("n_id"), lit(1).as("hit"))
    val exactArms = exact.select(col("q_id"), col("n_id"),
      explode(sequence(lit(1), lit(maxP))).as("nprobe"))
    val perArm = exactArms.join(approx, Seq("nprobe", "q_id", "n_id"), "left")
      .groupBy("nprobe")
      .agg(count(lit(1)).as("k_total"),
        sum(coalesce(col("hit"), lit(0))).cast("long").as("n_match"))
    // an arm over an EMPTY exact set must still emit its zero row,
    // exactly like the old agg-over-empty per arm
    val armRows = s.range(1)
      .select(explode(sequence(lit(1), lit(maxP))).as("nprobe"))
    armRows.join(broadcast(perArm), Seq("nprobe"), "left")
      .select(col("nprobe"),
        coalesce(col("k_total"), lit(0L)).as("k_total"),
        coalesce(col("n_match"), lit(0L)).as("n_match"),
        (coalesce(col("n_match"), lit(0L)).cast("double") / col("k_total"))
          .as("recall"))
      .orderBy("nprobe")
  }

  val sProbeCurveSql: String = {
    val blocks = Seq(1, 2, 3).map { p =>
      s"""SELECT $p AS nprobe, COUNT(*) AS k_total,
         |  CAST(SUM(CASE WHEN ap.n_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
         |    AS n_match,
         |  CAST(SUM(CASE WHEN ap.n_id IS NULL THEN 0 ELSE 1 END) AS DOUBLE)
         |    / COUNT(*) AS recall
         |FROM ($sCosineTopKSql) ex
         |LEFT JOIN (${annIvfSqlFor(p)}) ap
         |  ON ex.q_id = ap.q_id AND ex.n_id = ap.n_id""".stripMargin
    }
    blocks.mkString("", "\nUNION ALL\n", "\nORDER BY nprobe")
  }

  // ----------------------------------------------- IVF cell balance
  /** IVF index-balance report — the health check on [[sAnnIvf]]'s
    * partitioning: per-cell member counts plus the global balance
    * numbers (max/mean ratio, the classic hot-cell latency predictor:
    * a probe into a cell 10× the mean costs 10× the scan). Emits one
    * row per cell (K rows) with the shared stats repeated — small by
    * construction. An unbalanced fit says re-seed or increase K
    * BEFORE building the full index; at production scale cell counts
    * are the partition-pruning histogram, so this is also the data
    * behind probe-cost estimation.
    *
    * Determinism: counts are exact; mean-ratio quotients are
    * unrounded int-derived doubles (FIXTURES §C safe case). Scale:
    * the verified assignment chain (broadcast centroids, corpus
    * map + argmax) plus a K-key aggregation.
    */
  def sCellBalance(s: SparkSession, d: String): DataFrame = {
    val base = withNorm(s, d)
    val cent = fittedCentroids(base, LloydIters)
    val cells = ivfAssignment(base, cent)
      .groupBy("cell").agg(count(lit(1)).as("n_members"))
    val stats = cells.agg(count(lit(1)).as("n_cells"),
      sum(col("n_members")).as("n_total"),
      max(col("n_members")).as("n_max"))
    cells.crossJoin(broadcast(stats))
      .select(col("cell"), col("n_members"),
        ((col("n_members") * col("n_cells")).cast("double") / col("n_total"))
          .as("load_ratio"),
        ((col("n_max") * col("n_cells")).cast("double") / col("n_total"))
          .as("max_load_ratio"))
      .orderBy("cell")
  }

  val sCellBalanceSql: String =
    s"""WITH $ivfCtes,
       |assign AS (SELECT vec_id, c_id AS cell FROM (
       |  SELECT v.vec_id, c.c_id,
       |    row_number() OVER (PARTITION BY v.vec_id
       |      ORDER BY ${cosSql("v", "c")} DESC, c.c_id) AS arn
       |  FROM n v CROSS JOIN cent$LloydIters c) WHERE arn = 1),
       |cells AS (SELECT cell, COUNT(*) AS n_members FROM assign GROUP BY 1),
       |st AS (SELECT COUNT(*) AS n_cells,
       |    CAST(SUM(n_members) AS BIGINT) AS n_total,
       |    CAST(MAX(n_members) AS BIGINT) AS n_max FROM cells)
       |SELECT cell, n_members,
       |  CAST(n_members * n_cells AS DOUBLE) / n_total AS load_ratio,
       |  CAST(n_max * n_cells AS DOUBLE) / n_total AS max_load_ratio
       |FROM cells, st ORDER BY cell""".stripMargin

  // --------------------------- greedy k-center (farthest-point sampling)
  /** Gonzalez greedy k-center over the embedding corpus — the classic
    * coreset / diversity-seed selection for training-data subsampling
    * (pick the K points that best SPREAD over the space, unlike
    * k-means' density-seeking [[sCentroids]]). Seeded at the minimum
    * vec_id; each of the remaining K−1 steps picks the point farthest
    * (squared L2) from every center chosen so far. One row per step:
    * the chosen center, the max-min distance that made it the pick
    * (`picked_dist`, 0 for the seed), and the corpus coverage radius
    * after including it — the 2-approximation certificate (optimal
    * K-center cost ≥ coverage/2 at every prefix).
    *
    * Scale shape: exactly K passes over the corpus. The running
    * min-distance frame is pinned per step (it feeds the next argmax,
    * the min-update, AND the coverage aggregate — the fan-out rule;
    * at production scale it would persist between steps), each new
    * center arrives as a broadcast 1-row frame, and both the argmax
    * (TakeOrdered, partial per partition) and the coverage max are
    * top-1 reductions — no shuffle ever carries vectors. Determinism:
    * distances fold index-sequentially in DOUBLE and round to 6 dp on
    * BOTH engines before selection, ties break on vec_id.
    */
  val KcSteps = 4
  def sKcenter(s: SparkSession, d: String): DataFrame = {
    val base = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    // native codegen'd squared L2 (bit-identical to the HOF reference)
    def d2(a: Column, b: Column): Column = round(Vectors.sqDist(a, b), 6)
    val c1 = base.orderBy("vec_id").limit(1)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
    var cur = Materialize.pin(base.crossJoin(broadcast(c1.select("c_emb")))
      .select(col("vec_id"), col("embedding"),
        d2(col("embedding"), col("c_emb")).as("dmin")))
    var rows: DataFrame = cur.agg(max(col("dmin")).as("coverage"))
      .crossJoin(broadcast(c1.select("c_id")))
      .select(lit(1).as("step"), col("c_id"),
        lit(0.0).as("picked_dist"), col("coverage"))
    for (i <- 2 to KcSteps) {
      val next = Materialize.pin(
        cur.orderBy(col("dmin").desc, col("vec_id")).limit(1)
          .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
            col("dmin").as("picked_dist")))
      cur = Materialize.pin(cur.crossJoin(broadcast(next.select("c_emb")))
        .select(col("vec_id"), col("embedding"),
          least(col("dmin"), d2(col("embedding"), col("c_emb"))).as("dmin")))
      rows = rows.unionAll(cur.agg(max(col("dmin")).as("coverage"))
        .crossJoin(broadcast(next.select("c_id", "picked_dist")))
        .select(lit(i).as("step"), col("c_id"),
          col("picked_dist"), col("coverage")))
    }
    rows.orderBy("step")
  }

  lazy val sKcenterSql: String = {
    def d2(a: String, b: String): String =
      s"""round(list_reduce(list_transform(range(1, 65),
         |      i -> (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))
         |         * (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))),
         |      (x, y) -> x + y), 6)""".stripMargin
    s"""WITH c1 AS (SELECT vec_id AS c_id, embedding AS c_emb
       |  FROM embeddings ORDER BY vec_id LIMIT 1),
       |d1 AS (SELECT e.vec_id, e.embedding,
       |    ${d2("e.embedding", "c1.c_emb")} AS dmin
       |  FROM embeddings e, c1),
       |n2 AS (SELECT vec_id AS c_id, embedding AS c_emb, dmin AS picked
       |  FROM d1 ORDER BY dmin DESC, vec_id LIMIT 1),
       |d2 AS (SELECT d1.vec_id, d1.embedding,
       |    LEAST(d1.dmin, ${d2("d1.embedding", "n2.c_emb")}) AS dmin
       |  FROM d1, n2),
       |n3 AS (SELECT vec_id AS c_id, embedding AS c_emb, dmin AS picked
       |  FROM d2 ORDER BY dmin DESC, vec_id LIMIT 1),
       |d3 AS (SELECT d2.vec_id, d2.embedding,
       |    LEAST(d2.dmin, ${d2("d2.embedding", "n3.c_emb")}) AS dmin
       |  FROM d2, n3),
       |n4 AS (SELECT vec_id AS c_id, embedding AS c_emb, dmin AS picked
       |  FROM d3 ORDER BY dmin DESC, vec_id LIMIT 1),
       |d4 AS (SELECT d3.vec_id, d3.embedding,
       |    LEAST(d3.dmin, ${d2("d3.embedding", "n4.c_emb")}) AS dmin
       |  FROM d3, n4)
       |SELECT CAST(1 AS INT) AS step, c1.c_id, 0.0 AS picked_dist,
       |  (SELECT MAX(dmin) FROM d1) AS coverage FROM c1
       |UNION ALL SELECT CAST(2 AS INT), n2.c_id, n2.picked,
       |  (SELECT MAX(dmin) FROM d2) FROM n2
       |UNION ALL SELECT CAST(3 AS INT), n3.c_id, n3.picked,
       |  (SELECT MAX(dmin) FROM d3) FROM n3
       |UNION ALL SELECT CAST(4 AS INT), n4.c_id, n4.picked,
       |  (SELECT MAX(dmin) FROM d4) FROM n4
       |ORDER BY step""".stripMargin
  }

  val queries: Map[String, ((SparkSession, String) => DataFrame, String)] = Map(
    "s_kcenter"     -> (sKcenter _, sKcenterSql),
    "s_cell_balance" -> (sCellBalance _, sCellBalanceSql),
    "s_probe_curve" -> (sProbeCurve _, sProbeCurveSql),
    "s_hubness"     -> (sHubness _, sHubnessSql),
    "s_dim_recall"  -> (sDimRecall _, sDimRecallSql),
    "s_matryoshka"  -> (sMatryoshka _, sMatryoshkaSql),
    "s_pca"         -> (sPca _, sPcaSql),
    "s_drift"       -> (sDrift _, sDriftSql),
    "s_hamming"     -> (sHamming _, sHammingSql),
    "s_silhouette"  -> (sSilhouette _, sSilhouetteSql),
    "s_outlier"     -> (sOutlier _, sOutlierSql),
    "s_diversity"   -> (sDiversity _, sDiversitySql),
    "s_recall"      -> (sRecall _, sRecallSql),
    "s_sparse_cosine" -> (sSparseCosine _, sSparseCosineSql),
    "s_mmr"         -> (sMmr _, sMmrSql),
    "s_centroids"   -> (sCentroids _, sCentroidsSql),
    "d_semdedup"    -> (dSemdedup _, dSemdedupSql),
    "s_cosine_topk" -> (sCosineTopK _, sCosineTopKSql),
    "s_ann_ivf"     -> (sAnnIvf _, sAnnIvfSql),
    "s_ann_lsh"     -> (sAnnLsh _, sAnnLshSql),
    "s_ann_lsh_mp"  -> (sAnnLshMp _, sAnnLshMpSql),
    "s_range_search" -> (sRangeSearch _, sRangeSearchSql),
    "s_knn_graph"   -> (sKnnGraph _, sKnnGraphSql),
    "s_quantize"    -> (sQuantize _, sQuantizeSql),
    "s_pq"          -> (sPq _, sPqSql),
    "s_ann_pq"      -> (sAnnPq _, sAnnPqSql),
    "s_rerank"      -> (sRerank _, sRerankSql),
    "s_pq_layout"   -> (sPqLayout _, sPqLayoutSql),
    "s_recall_pq"   -> (sRecallPq _, sRecallPqSql),
    "s_ivf_pq"      -> (sIvfPq _, sIvfPqSql),
    "s_ivf_pq_served" -> (sIvfPqServed _, sIvfPqSql),
    "s_pq_residual" -> (sPqResidual _, sPqResidualSql),
    "s_rrf"         -> (sRrf _, sRrfSql),
    "s_filtered"    -> (sFiltered _, sFilteredSql),
    "s_classify"    -> (sClassify _, sClassifySql),
  )


}
