package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Multimodal-column plumbing: image/audio/video payloads modeled as
  * opaque BINARY columns with typed metadata alongside.
  *
  * The container has no media codecs, so the payload here is the
  * document text re-encoded as bytes (a deterministic stand-in with the
  * same Spark-side shape: BinaryType column + metadata), and the
  * "decoder" in [[Multimodal.decodeStub]] is a clearly-marked
  * deterministic fake. Everything around the decode — schema, binary
  * column flow, per-partition batched iteration, generator-shaped frame
  * sampling — is real and tested.
  *
  * Scale notes: binary payloads ride in the row (parquet BYTE_ARRAY);
  * metadata extraction is a pure map, frame sampling is a bounded
  * generator (explode of a capped sequence), and the decode stub runs
  * per-partition so a real decoder would amortize codec init per task,
  * not per row. None of these shuffle the payload bytes.
  */
object Multimodal {

  /** documents + fake binary payload column. */
  private def withPayload(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))

  /** The (doc_id, payload) stream every decode-shaped operator starts
    * from — public so external decoders (and the seam spec) can feed
    * [[decodeWith]] without re-deriving the payload convention.
    */
  def payloads(s: SparkSession, d: String): Dataset[(Long, Array[Byte])] = {
    import s.implicits._
    withPayload(s, d).select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
  }

  /** The decode SEAM shared by every media operator: `mkDecoder()` runs
    * ONCE per partition — this is where a real codec binding allocates
    * its native context — and the returned function maps each
    * (doc_id, payload) row. The stub operators instantiate it with
    * deterministic byte-statistics fakes; swapping a real decoder in
    * means passing a different `mkDecoder`, nothing else changes
    * (MultimodalSpec proves the swap with a java.util.zip codec).
    */
  def decodeWith[T: org.apache.spark.sql.Encoder](
      payloads: Dataset[(Long, Array[Byte])],
      mkDecoder: () => (Long, Array[Byte]) => T): Dataset[T] =
    payloads.mapPartitions { it =>
      val decodeOne = mkDecoder() // per-partition codec init happens HERE
      it.map { case (id, bytes) => decodeOne(id, bytes) }
    }

  // ------------------------------------------------------- binary meta
  /** Metadata extraction over a binary column: size, content digest,
    * magic-bytes prefix, and decoded fake dimensions (pure arithmetic
    * on the byte length so both engines agree).
    */
  def mBinaryMeta(s: SparkSession, d: String): DataFrame =
    withPayload(s, d).select(
      col("doc_id"),
      length(col("payload")).as("n_bytes"),
      md5(col("payload")).as("content_md5"),
      substring(hex(col("payload")), 1, 8).as("magic"),
      (lit(1) + pmod(length(col("payload")), lit(64))).as("fake_w"),
      (lit(1) + (length(col("payload")) - pmod(length(col("payload")), lit(64))) / lit(64))
        .cast("int").as("fake_h"))
      .orderBy("doc_id")

  val mBinaryMetaSql: String =
    """SELECT doc_id, CAST(octet_length(encode(text)) AS INT) AS n_bytes,
      |  md5(text) AS content_md5, hex(encode(text))[1:8] AS magic,
      |  CAST(1 + octet_length(encode(text)) % 64 AS INT) AS fake_w,
      |  CAST(1 + octet_length(encode(text)) // 64 AS INT) AS fake_h
      |FROM documents ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------ frame sample
  /** Frame sampling as a generator: up to 8 evenly-spaced "frames" per
    * payload, each with a derived frame id — the video-keyframe /
    * audio-chunk extraction shape (1 row in → N bounded rows out).
    */
  /** The raw frame stream (no output ordering) — shared by the gated
    * sample query and the scene-cut detector built on top of it.
    */
  private def frames(s: SparkSession, d: String): DataFrame = {
    val nFrames = least(length(col("payload")).cast("long") / 64L, lit(8L)).cast("int")
    withPayload(s, d)
      .select(col("doc_id"), md5(col("payload")).as("fp"), nFrames.as("nf"))
      .filter(col("nf") > 0)
      .select(col("doc_id"), col("fp"),
        explode(sequence(lit(0), col("nf") - 1)).as("frame_idx"))
      .select(col("doc_id"), col("frame_idx"),
        md5(concat(col("fp"), lit("|"), col("frame_idx").cast("string")).cast("binary")).as("frame_id"))
  }

  def mFrameSample(s: SparkSession, d: String): DataFrame =
    frames(s, d).orderBy("doc_id", "frame_idx")

  val mFrameSampleSql: String =
    """WITH p AS (SELECT doc_id, md5(text) AS fp,
      |  CAST(LEAST(octet_length(encode(text)) // 64, 8) AS INT) AS nf
      |  FROM documents),
      |f AS (SELECT doc_id, fp, CAST(unnest(range(0, nf)) AS INT) AS frame_idx
      |  FROM p WHERE nf > 0)
      |SELECT doc_id, frame_idx, md5(fp || '|' || frame_idx) AS frame_id
      |FROM f ORDER BY doc_id, frame_idx""".stripMargin

  // --------------------------------------------------------- scene cuts
  /** Scene-cut detection over the sampled frame stream: each frame gets
    * a scalar "luma" feature (here the ASCII code of the frame digest's
    * first hex char — the deterministic stand-in for a decoded mean
    * luminance), and a cut is declared wherever consecutive frames'
    * luma jumps by ≥ 20 (the digit↔letter ASCII gap, so cuts are
    * non-trivially distributed). Per-clip report: frames seen, cuts
    * found.
    *
    * Scale shape: the lag window is partitioned by doc_id with ≤ 8
    * frame rows per partition (the generator's cap) — per-clip state is
    * constant regardless of corpus size, and the final report is a
    * doc-keyed aggregation that reuses the window's hash partitioning.
    */
  /** Luma jump at or above this between consecutive frames is a cut. */
  val SceneCutThreshold = 20

  /** Frame stream reduced to the scalar per-frame feature: (doc_id,
    * frame_idx, luma), the input of [[mSceneCut]].
    */
  def frameLuma(s: SparkSession, d: String): DataFrame =
    frames(s, d)
      .select(col("doc_id"), col("frame_idx"),
        ascii(substring(col("frame_id"), 1, 1)).as("luma"))

  def mSceneCut(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("frame_idx")
    frameLuma(s, d)
      .withColumn("prev", lag("luma", 1).over(w))
      .select(col("doc_id"),
        when(col("prev").isNotNull &&
            abs(col("luma") - col("prev")) >= SceneCutThreshold, 1)
          .otherwise(0).as("cut"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_frames"), sum(col("cut")).cast("long").as("n_cuts"))
      .orderBy("doc_id")
  }

  val mSceneCutSql: String =
    """WITH p AS (SELECT doc_id, md5(text) AS fp,
      |  CAST(LEAST(octet_length(encode(text)) // 64, 8) AS INT) AS nf
      |  FROM documents),
      |f AS (SELECT doc_id, fp, CAST(unnest(range(0, nf)) AS INT) AS frame_idx
      |  FROM p WHERE nf > 0),
      |g AS (SELECT doc_id, frame_idx,
      |  ascii(md5(fp || '|' || frame_idx)[1:1]) AS luma FROM f),
      |l AS (SELECT doc_id, luma,
      |  lag(luma) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS prev FROM g)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_frames,
      |  CAST(SUM(CASE WHEN prev IS NOT NULL AND abs(luma - prev) >= 20
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts
      |FROM l GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------- modality stats
  /** Per-modality × language ingest profile — the first dashboard run
    * over any mixed-modality landing zone: row counts, total/average/
    * max payload bytes. Modality is assigned deterministically from
    * doc_id (the stand-in for a real mime/container column, which the
    * fixture lacks) so both engines agree.
    *
    * Scale shape: one pass, partial-aggregated to a (3 × #langs)-row
    * result; payload bytes reduce to a length before the shuffle.
    */
  def mModalityStats(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(
        expr("CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' " +
          "WHEN 1 THEN 'audio' ELSE 'video' END").as("modality"),
        col("lang"), length(encode(col("text"), "UTF-8")).cast("long").as("nb"))
      .groupBy("modality", "lang")
      .agg(count(lit(1)).as("n"), sum(col("nb")).as("total_bytes"),
        round(avg(col("nb")), 6).as("avg_bytes"), max(col("nb")).as("max_bytes"))
      .orderBy("modality", "lang")

  val mModalityStatsSql: String =
    """SELECT CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
      |    WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
      |  lang, COUNT(*) AS n,
      |  CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
      |  round(AVG(octet_length(encode(text))), 6) AS avg_bytes,
      |  CAST(MAX(octet_length(encode(text))) AS BIGINT) AS max_bytes
      |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------- embed fusion
  /** Cross-modal fusion ranking: join the text-side payload with its
    * embedding (doc_id = vec_id — the pair-table key from
    * [[mPairAudit]]) and rank by a fused score, embedding L2 norm ×
    * ln(1 + payload bytes) — the shape of any "signal strength ×
    * content size" curation heuristic over a paired multimodal table.
    * Top-20, fully tie-broken by doc_id.
    *
    * Scale shape: an id-keyed equi-join of (id, n_bytes) against
    * (id, norm) — the norm reduces the vector BEFORE the join so no
    * embedding bytes shuffle — followed by a TakeOrdered top-k (no
    * global sort materializes).
    */
  def mEmbedFusion(s: SparkSession, d: String): DataFrame = {
    val docs = withPayload(s, d)
      .select(col("doc_id"), length(col("payload")).cast("long").as("n_bytes"))
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), graft.functions.Vectors.norm(col("embedding")).as("nrm"))
    docs.join(emb, col("doc_id") === col("vec_id"))
      .select(col("doc_id"), col("n_bytes"),
        round(col("nrm"), 6).as("nrm"),
        round(col("nrm") * log(lit(1.0) + col("n_bytes")), 6).as("fused"))
      .orderBy(col("fused").desc, col("doc_id")).limit(20)
  }

  val mEmbedFusionSql: String =
    """WITH d AS (SELECT doc_id,
      |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes FROM documents),
      |e AS (SELECT vec_id,
      |    sqrt(list_reduce(list_transform(embedding,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, x) -> a + x)) AS nrm
      |  FROM embeddings)
      |SELECT doc_id, n_bytes, round(nrm, 6) AS nrm,
      |  round(nrm * ln(1.0 + n_bytes), 6) AS fused
      |FROM d JOIN e ON d.doc_id = e.vec_id
      |ORDER BY fused DESC, doc_id LIMIT 20""".stripMargin

  // ------------------------------------------------------- decode stub
  /** Output of the fake decoder: byte-level features standing in for
    * pixel/sample statistics. `histogram` is the 16-bin nibble
    * histogram encoded as a comma-joined string — a scalar column so
    * every downstream consumer (including the driver's pandas-side
    * sort/hash compare) can order and hash rows; an array column is
    * unhashable there.
    */
  case class MediaFeatures(doc_id: Long, n_bytes: Int,
      brightness: Double, histogram: String)

  /** Per-partition "decode": iterates payload batches the way a real
    * codec binding would (amortizing decoder init per partition, not per
    * row). The decode itself is a STUB — deterministic byte statistics
    * instead of image decoding, since no codec libraries exist in this
    * environment; swap `decodeOne` for a real binding without touching
    * the plan shape. The mapPartitions body itself is not
    * SQL-expressible, but the stub's byte statistics ARE — the driver
    * hash-verifies `m_decode_stub` against a DuckDB hex/nibble
    * byte-math oracle (`mDecodeStubSql`); MultimodalSpec covers the
    * Dataset surface on top.
    */
  /** Low-nibble byte histogram — the shared "feature grid" of the fake
    * decoder; [[decodeStub]] reports it, [[phashStub]] thresholds it.
    */
  private def nibbleHist(bytes: Array[Byte]): Array[Int] = {
    val hist = new Array[Int](16)
    var i = 0
    while (i < bytes.length) { hist(bytes(i) & 0x0f) += 1; i += 1 }
    hist
  }

  def decodeStub(s: SparkSession, d: String): Dataset[MediaFeatures] = {
    import s.implicits._
    decodeWith(payloads(s, d), () => (id: Long, bytes: Array[Byte]) => {
      val hist = nibbleHist(bytes)
      var sum = 0L
      var i = 0
      while (i < bytes.length) {
        sum += (bytes(i) & 0xff)
        i += 1
      }
      MediaFeatures(id, bytes.length,
        if (bytes.isEmpty) 0.0 else sum.toDouble / bytes.length,
        hist.mkString(","))
    })
  }

  def mDecodeStub(s: SparkSession, d: String): DataFrame =
    decodeStub(s, d).toDF().orderBy("doc_id")

  // ------------------------------------------------------- resize stub
  /** Output of the fake resizer: the downsampled payload's dimensions
    * and integrity checksums (scalar columns only — see
    * [[MediaFeatures]]; checksums instead of a digest so the DuckDB
    * oracle can recompute them from the byte representation).
    */
  case class ResizedMedia(doc_id: Long, orig_bytes: Int, resized_bytes: Int,
      factor: Int, r_sum: Long, r_check: Long)

  /** Per-partition "resize": keeps every `factor`-th byte of the
    * payload — the downsample/thumbnail shape (decode → scale →
    * re-encode) with the decode/encode STUBBED as byte sampling, since
    * no codec libraries exist in this environment. The Spark-side
    * plumbing is the real thing: binary column in, per-partition
    * iteration amortizing codec init, new binary payload out
    * (checksummed here so the emitted schema stays scalar/sortable).
    * Swap the sampling loop for a real image scaler without touching
    * the plan.
    */
  def resizeStub(s: SparkSession, d: String, factor: Int = 4): Dataset[ResizedMedia] = {
    import s.implicits._
    decodeWith(payloads(s, d), () => (id: Long, bytes: Array[Byte]) => {
      val resized = Array.tabulate(bytes.length / factor)(i => bytes(i * factor))
      var sum = 0L
      var check = 0L
      var i = 0
      while (i < resized.length) {
        val v = resized(i) & 0xff
        sum += v
        check += v.toLong * (i + 1)
        i += 1
      }
      ResizedMedia(id, bytes.length, resized.length, factor, sum, check)
    })
  }

  def mResizeStub(s: SparkSession, d: String): DataFrame =
    resizeStub(s, d).toDF().orderBy("doc_id")

  // ---------------------------------------------- perceptual-hash stub
  case class PHash(doc_id: Long, phash16: Int)

  /** Perceptual-hash STUB over the fake decode: bit k of the 16-bit
    * hash is set iff low-nibble-histogram bucket k holds more than the
    * uniform share (hist[k]·16 > n — integer compare, no division).
    * This is the aHash/pHash SHAPE (decode → feature grid → per-cell
    * above-mean bits) with the decode stubbed as byte statistics; swap
    * `decodeOne`-style real features in without touching the plan. The
    * companion `keeper` column (min doc_id per hash via a window) turns
    * it into the image-dedup op: identical payloads — and payloads with
    * matching coarse byte statistics — group under one keeper, the
    * multimodal twin of the text pipeline's exact dedup.
    */
  def phashStub(s: SparkSession, d: String): Dataset[PHash] = {
    import s.implicits._
    decodeWith(payloads(s, d), () => (id: Long, bytes: Array[Byte]) => {
      val hist = nibbleHist(bytes)
      var ph = 0
      var k = 0
      while (k < 16) {
        // toLong: hist(k)*16 overflows Int at >=128 MiB payloads
        if (hist(k).toLong * 16 > bytes.length) ph |= 1 << (15 - k)
        k += 1
      }
      PHash(id, ph)
    })
  }

  def mPhash(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("phash16")
    phashStub(s, d).toDF()
      .withColumn("keeper", min(col("doc_id")).over(w))
      .orderBy("doc_id")
  }

  /** Shared oracle CTE chain recomputing [[phashStub]]'s 16-bit hash
    * from the payload's hex representation — ends with `ph(doc_id,
    * phash16)`; both phash oracles build on it.
    */
  private val phashCteSql: String =
    """h AS (SELECT doc_id, lower(hex(encode(text))) AS hx FROM documents),
      |b AS (SELECT doc_id, hx, len(hx) // 2 AS n FROM h),
      |nib AS (SELECT doc_id, n,
      |  array_to_string(list_transform(range(1, n+1), i -> hx[2*i]), '') AS lo
      |  FROM b),
      |cnt AS (SELECT doc_id, n,
      |  list_transform(range(0, 16), k ->
      |    len(lo) - len(replace(lo, substr('0123456789abcdef', k+1, 1), ''))) AS locnt
      |  FROM nib),
      |ph AS (SELECT doc_id,
      |  CAST(list_reduce(list_prepend(0, list_transform(range(0, 16),
      |    k -> CASE WHEN locnt[k+1] * 16 > n THEN 1 << (15 - CAST(k AS INT)) ELSE 0 END)),
      |    (a, b) -> a + b) AS INT) AS phash16
      |  FROM cnt)""".stripMargin

  val mPhashSql: String =
    s"""WITH $phashCteSql
       |SELECT doc_id, phash16,
       |  MIN(doc_id) OVER (PARTITION BY phash16) AS keeper
       |FROM ph ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------- phash pairs
  /** Perceptual-hash near-duplicate VALUE pairs: every pair of
    * DISTINCT 16-bit [[phashStub]] signatures within Hamming distance
    * [[PhashMaxHamming]] (plus the hamming-0 diagonal), each with its
    * group sizes and the implied DOC-pair count — the image-near-dup
    * step of a multimodal curation pipeline (LAION-style), reported
    * at the value level like [[mPhash]]'s digest groups.
    *
    * The round-7 scale lesson lives here: the first cut materialized
    * DOC-level pairs, and because perceptual hashes COLLIDE BY DESIGN
    * (the sf0.1 fixture has 229 distinct values over 5000 docs, one
    * shared by 2325), the answer itself was quadratic — 9.4M output
    * rows, 23 s, and at corpus scale unbounded. Collapsing to the
    * value level first makes the pairing universe the DISTINCT-VALUE
    * set (≤ 2¹⁶ here, codebook-bounded in general): value-pair rows
    * carry n_docs_a·n_docs_b (or n·(n−1)/2 on the diagonal) so no
    * information is lost, and the output is near-linear. Banding is
    * then unnecessary at this key width — the value×value join is
    * exact and tiny; on wider hashes the same 6/6/4 pigeonhole bands
    * apply AT THE VALUE LEVEL. The decode seam means a real image
    * pipeline swaps [[phashStub]]'s byte-statistics fake for a DCT
    * phash without touching the pairing plan.
    */
  val PhashMaxHamming = 2

  def mPhashPairs(s: SparkSession, d: String): DataFrame = {
    val vals = phashStub(s, d).toDF()
      .groupBy("phash16").agg(count(lit(1)).as("n"))
    val a = vals.toDF("ph_a", "n_a")
    val b = vals.toDF("ph_b", "n_b")
    a.join(broadcast(b), col("ph_a") <= col("ph_b"))
      .select(col("ph_a"), col("ph_b"),
        bit_count(col("ph_a").bitwiseXOR(col("ph_b"))).cast("int")
          .as("hamming"),
        col("n_a"), col("n_b"),
        when(col("ph_a") === col("ph_b"), col("n_a") * (col("n_a") - 1) / 2)
          .otherwise(col("n_a") * col("n_b")).cast("long").as("n_doc_pairs"))
      .filter(col("hamming") <= PhashMaxHamming)
      .filter(col("n_doc_pairs") > 0)
      .orderBy("ph_a", "ph_b")
  }

  val mPhashPairsSql: String =
    s"""WITH $phashCteSql,
       |vals AS (SELECT phash16, COUNT(*) AS n FROM ph GROUP BY 1)
       |SELECT a.phash16 AS ph_a, b.phash16 AS ph_b,
       |  CAST(bit_count(xor(a.phash16, b.phash16)) AS INT) AS hamming,
       |  a.n AS n_a, b.n AS n_b,
       |  CAST(CASE WHEN a.phash16 = b.phash16 THEN a.n * (a.n - 1) // 2
       |    ELSE a.n * b.n END AS BIGINT) AS n_doc_pairs
       |FROM vals a JOIN vals b ON a.phash16 <= b.phash16
       |WHERE bit_count(xor(a.phash16, b.phash16)) <= $PhashMaxHamming
       |  AND (CASE WHEN a.phash16 = b.phash16 THEN a.n * (a.n - 1) // 2
       |    ELSE a.n * b.n END) > 0
       |ORDER BY ph_a, ph_b""".stripMargin

  /** Oracles for the per-partition stubs: the byte-level math is
    * recomputed in SQL from the payload's hex representation (2 hex
    * chars per byte; low nibble = even position, high = odd), so even
    * the mapPartitions paths are hash-verified, not just rows-counted.
    */
  val mDecodeStubSql: String =
    """WITH h AS (SELECT doc_id, lower(hex(encode(text))) AS hx FROM documents),
      |b AS (SELECT doc_id, hx, len(hx) // 2 AS n FROM h),
      |nib AS (SELECT doc_id, n,
      |  array_to_string(list_transform(range(1, n+1), i -> hx[2*i-1]), '') AS hi,
      |  array_to_string(list_transform(range(1, n+1), i -> hx[2*i]), '') AS lo
      |  FROM b),
      |cnt AS (SELECT doc_id, n,
      |  list_transform(range(0, 16), k ->
      |    len(lo) - len(replace(lo, substr('0123456789abcdef', k+1, 1), ''))) AS locnt,
      |  list_transform(range(0, 16), k ->
      |    len(hi) - len(replace(hi, substr('0123456789abcdef', k+1, 1), ''))) AS hicnt
      |  FROM nib)
      |SELECT doc_id, CAST(n AS INT) AS n_bytes,
      |  CASE WHEN n = 0 THEN 0.0 ELSE
      |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(0, 16),
      |        k -> CAST(k * 16 * hicnt[k+1] AS BIGINT))), (a, b) -> a + b)
      |      + list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(0, 16),
      |        k -> CAST(k * locnt[k+1] AS BIGINT))), (a, b) -> a + b) AS DOUBLE) / n
      |  END AS brightness,
      |  array_to_string(list_transform(locnt, x -> CAST(x AS VARCHAR)), ',') AS histogram
      |FROM cnt ORDER BY doc_id""".stripMargin

  val mResizeStubSql: String =
    """WITH h AS (SELECT doc_id, lower(hex(encode(text))) AS hx FROM documents),
      |b AS (SELECT doc_id, hx, len(hx) // 2 AS n FROM h),
      |r AS (SELECT doc_id, n, n // 4 AS rn,
      |  list_transform(range(0, n // 4), i ->
      |    CAST(16 * (instr('0123456789abcdef', hx[8*i+1]) - 1)
      |       + (instr('0123456789abcdef', hx[8*i+2]) - 1) AS BIGINT)) AS rb
      |  FROM b)
      |SELECT doc_id, CAST(n AS INT) AS orig_bytes, CAST(rn AS INT) AS resized_bytes,
      |  4 AS factor,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT), rb), (a, b) -> a + b) AS r_sum,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(range(1, rn + 1), i -> rb[i] * i)), (a, b) -> a + b) AS r_check
      |FROM r ORDER BY doc_id""".stripMargin

  // ------------------------------------------------- byte-budget sharding
  /** Target shard size (bytes) for [[mShardPack]] — WebDataset-style
    * tar-shard budgets are GBs in production; scaled to the fixture.
    */
  val ShardBudget = 16384L

  /** Byte-budget shard assignment for binary payloads — the
    * WebDataset/tar-shard layout step every multimodal training
    * pipeline runs before the dataloader: items in doc_id order are
    * laid out by their CUMULATIVE byte offset and a payload belongs
    * to the shard its first byte falls in (`start_off div budget`).
    * This offset contract is what makes the packing DETERMINISTIC and
    * DISTRIBUTED — no sequential greedy fold, identical output under
    * any partitioning — at the cost that a shard can overshoot the
    * budget by at most one payload (the straddler stays where it
    * starts; the standard trade, documented here as the contract).
    * Output: one row per non-empty shard with item count, exact
    * bytes, the doc-id range, and the fill ratio in exact ppm
    * (bytes·1e6 div budget — integer, no float rounding to tie).
    *
    * Scale shape: the scan carries (doc_id, n_bytes) only — payload
    * BYTES never enter the prefix scan or any shuffle. The global
    * offset is the same two-level prefix scan as Curation.pPack:
    * intra-block running sums parallelize across blocks, block bases
    * are one tiny ordered window over #blocks rows, broadcast back.
    * The shard report is a shard-keyed aggregation of id-sized rows.
    */
  def mShardPack(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sized = withPayload(s, d)
      .select(col("doc_id"), length(col("payload")).cast("long").as("nb"),
        (col("doc_id") / 8192).cast("long").as("blk"))
    val wBlk = Window.partitionBy("blk").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val intra = sized.withColumn("end_in_blk", sum(col("nb")).over(wBlk))
    val wBase = Window.orderBy("blk")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    val bases = sized.groupBy("blk").agg(sum(col("nb")).as("blk_n"))
      .withColumn("base", coalesce(sum(col("blk_n")).over(wBase), lit(0L)))
      .select(col("blk"), col("base"))
    intra.join(broadcast(bases), "blk")
      .withColumn("start_off", col("base") + col("end_in_blk") - col("nb"))
      .withColumn("shard_id", expr(s"start_off div $ShardBudget").cast("int"))
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_items"), sum(col("nb")).as("n_bytes"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .withColumn("fill_ppm", expr(s"(n_bytes * 1000000) div $ShardBudget"))
      .orderBy("shard_id")
  }

  /** Oracle mirrors the semantics (global byte cumsum in doc_id
    * order); base + intra-block ≡ the global prefix sum.
    */
  val mShardPackSql: String =
    s"""WITH p AS (SELECT doc_id,
       |    CAST(octet_length(encode(text)) AS BIGINT) AS nb FROM documents),
       |o AS (SELECT doc_id, nb,
       |  CAST(SUM(nb) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - nb
       |    AS BIGINT) AS start_off FROM p),
       |sh AS (SELECT CAST(start_off // $ShardBudget AS INT) AS shard_id,
       |    doc_id, nb FROM o)
       |SELECT shard_id, COUNT(*) AS n_items,
       |  CAST(SUM(nb) AS BIGINT) AS n_bytes,
       |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
       |  CAST(SUM(nb) * 1000000 // $ShardBudget AS BIGINT) AS fill_ppm
       |FROM sh GROUP BY 1 ORDER BY 1""".stripMargin

  // ----------------------------------------------- pair-table integrity
  /** Paired-dataset assembly audit — the integrity check run when a
    * multimodal training table is built from separately-ingested
    * modalities (here: text payloads ⟂ embedding vectors, keyed
    * doc_id = vec_id): a full-outer join classifies every id as
    * `paired`, `text_only`, or `embedding_only` and reports counts,
    * payload bytes on the text side, and how many embedding rows
    * carry the expected dimensionality. Orphans on either side are
    * exactly what a CLIP-style pair pipeline must quarantine before
    * training; at the fixture's sf0.1 the text side genuinely
    * overhangs (5 000 docs vs 2 000 vectors), so the audit is
    * non-vacuous.
    *
    * Scale shape: the full-outer join is an id-keyed shuffle of
    * (id, n_bytes) / (id, dim) rows — payload bytes and vectors never
    * move (in production the byte length rides a metadata column, the
    * [[mBinaryMeta]] materialization); the report is a 3-group
    * aggregation.
    */
  def mPairAudit(s: SparkSession, d: String): DataFrame = {
    val docs = withPayload(s, d)
      .select(col("doc_id"), length(col("payload")).cast("long").as("nb"))
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), size(col("embedding")).as("dim"))
    docs.join(emb, col("doc_id") === col("vec_id"), "full_outer")
      .select(
        when(col("doc_id").isNotNull && col("vec_id").isNotNull, "paired")
          .when(col("vec_id").isNull, "text_only")
          .otherwise("embedding_only").as("status"),
        col("nb"), col("dim"))
      .groupBy("status")
      .agg(count(lit(1)).as("n"),
        sum(coalesce(col("nb"), lit(0L))).as("text_bytes"),
        sum(when(col("dim") === 64, 1L).otherwise(0L)).as("n_dim_ok"))
      .orderBy("status")
  }

  val mPairAuditSql: String =
    """WITH d AS (SELECT doc_id,
      |    CAST(octet_length(encode(text)) AS BIGINT) AS nb FROM documents),
      |e AS (SELECT vec_id, len(embedding) AS dim FROM embeddings),
      |j AS (SELECT CASE
      |    WHEN d.doc_id IS NOT NULL AND e.vec_id IS NOT NULL THEN 'paired'
      |    WHEN e.vec_id IS NULL THEN 'text_only'
      |    ELSE 'embedding_only' END AS status, d.nb, e.dim
      |  FROM d FULL OUTER JOIN e ON d.doc_id = e.vec_id)
      |SELECT status, COUNT(*) AS n,
      |  CAST(SUM(COALESCE(nb, 0)) AS BIGINT) AS text_bytes,
      |  CAST(SUM(CASE WHEN dim = 64 THEN 1 ELSE 0 END) AS BIGINT) AS n_dim_ok
      |FROM j GROUP BY status ORDER BY status""".stripMargin

  // --------------------------------------------------- audio VAD stub
  /** One row per complete analysis window of the fake PCM stream. */
  case class AudioWindow(doc_id: Long, win_idx: Int, energy: Long)

  val VadWin = 32 // bytes (samples) per analysis window, non-overlapping

  /** Per-window signal energy through the decode seam: the payload is
    * treated as unsigned 8-bit PCM, split into complete [[VadWin]]-
    * sample windows, each reporting Σ(sample−128)² — exact integer
    * arithmetic, so both engines agree bit-for-bit. A real audio
    * binding replaces the closure via [[decodeWith]]; the window/hop
    * framing and everything downstream is plan-identical.
    */
  def audioWindows(s: SparkSession, d: String): Dataset[AudioWindow] = {
    import s.implicits._
    decodeWith(payloads(s, d), () => (id: Long, bytes: Array[Byte]) => {
      val nw = bytes.length / VadWin
      val energies = Array.tabulate(nw) { w =>
        var e = 0L
        var j = 0
        while (j < VadWin) {
          val v = (bytes(w * VadWin + j) & 0xff) - 128
          e += v.toLong * v
          j += 1
        }
        e
      }
      (id, energies)
    }).flatMap { case (id, es) =>
      es.iterator.zipWithIndex.map { case (e, w) => AudioWindow(id, w, e) }
    }
  }

  /** Voice-activity segmentation over the stubbed PCM windows — the
    * audio twin of the video [[mFrameSample]]: a window is VOICED when
    * its energy is at-or-above the document's mean window energy
    * (compared as the exact integer cross-product energy·n ≥ total, no
    * division), and consecutive voiced windows merge into segments via
    * gaps-and-islands (win_idx − voiced-rank is constant inside an
    * island). Output per document: window/voiced counts, segment
    * count, and the longest segment — the framing a diarizer or
    * speech-filter stage consumes.
    *
    * Scale shape: the decode seam is one mapPartitions pass (payload
    * bytes never shuffle — windows leave as (id, idx, energy)
    * triples); the mean test and the islands both partition by
    * doc_id, so after the first exchange everything is doc-local;
    * documents with no complete window survive through the left join
    * as zero rows. All-integer arithmetic end-to-end — nothing to
    * round, nothing engine-specific.
    */
  def mVadStub(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wDoc = Window.partitionBy("doc_id")
    val wOrd = Window.partitionBy("doc_id").orderBy("win_idx")
    val per = audioWindows(s, d).toDF()
      .withColumn("n_win", count(lit(1)).over(wDoc))
      .withColumn("tot", sum(col("energy")).over(wDoc))
      .filter(col("energy") * col("n_win") >= col("tot"))
      .withColumn("grp", col("win_idx") - row_number().over(wOrd))
      .groupBy(col("doc_id"), col("grp"))
      .agg(count(lit(1)).as("seg_len"), max(col("n_win")).as("nw"))
      .groupBy("doc_id")
      .agg(max(col("nw")).cast("int").as("n_windows"),
        sum(col("seg_len")).cast("int").as("n_voiced"),
        count(lit(1)).cast("int").as("n_segments"),
        max(col("seg_len")).cast("int").as("longest"))
    // zero-window fallback counts derive from the PAYLOAD frame the
    // decode seam actually reads (not re-derived from text). STUB-ONLY
    // COUPLING, by construction: ⌊payload bytes / VadWin⌋ is exactly
    // the stub decoder's window count, so the fallback agrees with the
    // seam bit-for-bit — but a real codec bound via [[decodeWith]]
    // defines its window count over DECODED samples, so it must
    // replace this fallback expression together with the closure
    // (docs the codec decodes to zero windows would otherwise report
    // the payload-derived count here).
    payloads(s, d).toDF("doc_id", "payload")
      .select(col("doc_id"),
        (length(col("payload")) / VadWin).cast("int").as("nw0"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_windows"), col("nw0")).as("n_windows"),
        coalesce(col("n_voiced"), lit(0)).as("n_voiced"),
        coalesce(col("n_segments"), lit(0)).as("n_segments"),
        coalesce(col("longest"), lit(0)).as("longest"))
      .orderBy("doc_id")
  }

  val mVadStubSql: String = {
    val W = VadWin
    // byte i (1-based) of the utf8 payload, as 0..255
    val byteVal =
      s"""(16 * (instr('0123456789abcdef', hx[2*($W*w+j)-1]) - 1)
         |  + (instr('0123456789abcdef', hx[2*($W*w+j)]) - 1))""".stripMargin
    s"""WITH h AS (SELECT doc_id, lower(hex(encode(text))) AS hx,
       |    octet_length(encode(text)) // $W AS nw FROM documents),
       |win AS (SELECT doc_id, nw,
       |    CAST(unnest(range(0, nw)) AS INT) AS win_idx,
       |    unnest(list_transform(range(0, nw), w ->
       |      list_reduce(list_prepend(CAST(0 AS BIGINT),
       |        list_transform(range(1, $W + 1), j ->
       |          CAST(($byteVal - 128) * ($byteVal - 128) AS BIGINT))),
       |        (a, b) -> a + b))) AS energy
       |  FROM h WHERE nw > 0),
       |v AS (SELECT doc_id, win_idx, nw,
       |    SUM(energy) OVER (PARTITION BY doc_id) AS tot
       |  FROM win
       |  QUALIFY energy * nw >= tot),
       |g AS (SELECT doc_id, nw,
       |    win_idx - row_number() OVER (PARTITION BY doc_id
       |      ORDER BY win_idx) AS grp
       |  FROM v),
       |segs AS (SELECT doc_id, MAX(nw) AS nw, grp, COUNT(*) AS seg_len
       |  FROM g GROUP BY doc_id, grp),
       |per AS (SELECT doc_id, CAST(MAX(nw) AS INT) AS n_windows,
       |    CAST(SUM(seg_len) AS INT) AS n_voiced,
       |    CAST(COUNT(*) AS INT) AS n_segments,
       |    CAST(MAX(seg_len) AS INT) AS longest
       |  FROM segs GROUP BY doc_id)
       |SELECT d.doc_id,
       |  COALESCE(per.n_windows,
       |    CAST(octet_length(encode(d.text)) // $W AS INT)) AS n_windows,
       |  COALESCE(per.n_voiced, 0) AS n_voiced,
       |  COALESCE(per.n_segments, 0) AS n_segments,
       |  COALESCE(per.longest, 0) AS longest
       |FROM documents d LEFT JOIN per USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  // ------------------------------------------------ real image decode
  /** Output of the REAL decoder: dimensions, pixel sum, and the
    * pixel-domain average hash of the decoded grayscale image.
    */
  case class DecodedImage(doc_id: Long, w: Int, h: Int, pix_sum: Long,
      phash32: Long)

  /** Deterministic tiny PNGs: one 8x4 TYPE_BYTE_GRAY image per
    * document whose 32 pixels are the doc's md5 hex nibbles scaled to
    * [0, 240] — a pixel source BOTH engines can derive (DuckDB from
    * the hex string, the JVM from the same), so the REAL codec round
    * trip is certifiable without shipping binary fixtures. Encoding
    * runs in the same per-partition seam shape as decode (ImageIO
    * writer state amortizes per task).
    */
  private[graft] def realPngs(s: SparkSession, d: String)
      : Dataset[(Long, Array[Byte])] = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"), md5(col("text")).as("fp"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, fp) =>
          val img = new java.awt.image.BufferedImage(
            8, 4, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
          val raster = img.getRaster
          var i = 0
          while (i < 32) {
            val nib = java.lang.Character.digit(fp.charAt(i), 16)
            raster.setSample(i % 8, i / 8, 0, nib * 16)
            i += 1
          }
          val out = new java.io.ByteArrayOutputStream()
          // MemoryCacheImageOutputStream, NOT ImageIO.write(_, _, OutputStream):
          // the OutputStream overload consults ImageIO.getUseCache() (true by
          // default) and backs every encode with a FileCacheImageOutputStream —
          // one temp file created+deleted PER IMAGE. At 5k docs × 3 passes ×
          // 32 threads contending on one tmpdir that file churn was ~9s of the
          // query's 10.3s (measured, OPTIMIZATION_r13.md); the in-memory
          // stream produces byte-identical PNGs with zero filesystem traffic.
          val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(out)
          javax.imageio.ImageIO.write(img, "png", ios)
          ios.close()
          (id, out.toByteArray)
        }
      }
  }

  /** REAL image decode through the one `mapPartitions` seam
    * ([[decodeWith]]): `javax.imageio.ImageIO.read` decodes actual PNG
    * bytes (produced by [[realPngs]] — the container has no external
    * codecs, but the JDK's PNG codec is a real, lossless one), and the
    * features come from the DECODED RASTER, not byte statistics: pixel
    * sum and the average hash (bit k set iff pixel k is above the
    * image mean; `pix*32 > sum` keeps the compare integer-exact). The
    * DuckDB oracle recomputes both from the same md5-nibble pixel
    * definition WITHOUT the codec — hash parity therefore proves the
    * encode→decode round trip returned exactly the source pixels.
    * Corrupt payloads fail loudly (ImageIO.read returning null throws
    * here) rather than producing silent garbage features.
    */
  def decodeReal(s: SparkSession, d: String): Dataset[DecodedImage] = {
    import s.implicits._
    decodeWith(realPngs(s, d), () => (id: Long, bytes: Array[Byte]) => {
      // read(ImageInputStream) with an explicit memory-cached stream: the
      // read(InputStream) overload routes through createImageInputStream,
      // which (useCache=true default) spools the payload to a temp FILE
      // before decoding — the same per-image file churn as the encode side.
      val img = javax.imageio.ImageIO.read(
        new javax.imageio.stream.MemoryCacheImageInputStream(
          new java.io.ByteArrayInputStream(bytes)))
      require(img != null, s"undecodable image payload for doc $id")
      val (w, h) = (img.getWidth, img.getHeight)
      val raster = img.getRaster
      val n = w * h
      val pix = new Array[Int](n)
      var i = 0
      var sum = 0L
      while (i < n) {
        pix(i) = raster.getSample(i % w, i / w, 0)
        sum += pix(i)
        i += 1
      }
      var hash = 0L
      i = 0
      while (i < n) {
        if (pix(i).toLong * n > sum) hash |= 1L << i
        i += 1
      }
      DecodedImage(id, w, h, sum, hash)
    })
  }

  def mDecodeReal(s: SparkSession, d: String): DataFrame =
    decodeReal(s, d).toDF().orderBy("doc_id")

  /** Recomputes [[decodeReal]]'s features from the md5-nibble pixel
    * definition directly — no codec on the oracle side, so a match
    * certifies the JVM PNG round trip was pixel-exact.
    */
  val mDecodeRealSql: String =
    """WITH n AS (SELECT doc_id, md5(text) AS fp FROM documents),
      |px AS (SELECT n.doc_id, r.i,
      |    (strpos('0123456789abcdef', substr(n.fp, CAST(r.i AS INT), 1)) - 1) * 16 AS pix
      |  FROM n CROSS JOIN (SELECT unnest(range(1, 33)) AS i) r),
      |t AS (SELECT doc_id, CAST(SUM(pix) AS BIGINT) AS pix_sum FROM px GROUP BY doc_id)
      |SELECT t.doc_id, 8 AS w, 4 AS h, t.pix_sum,
      |  CAST(SUM(CASE WHEN px.pix * 32 > t.pix_sum
      |    THEN (CAST(1 AS BIGINT) << CAST(px.i - 1 AS INT)) ELSE 0 END) AS BIGINT) AS phash32
      |FROM px JOIN t ON px.doc_id = t.doc_id
      |GROUP BY t.doc_id, t.pix_sum
      |ORDER BY t.doc_id""".stripMargin

  val queries: Map[String, ((SparkSession, String) => DataFrame, Option[String])] = Map(
    "m_decode_real"  -> (mDecodeReal _, Some(mDecodeRealSql)),
    "m_vad_stub"     -> (mVadStub _, Some(mVadStubSql)),
    "m_pair_audit"   -> (mPairAudit _, Some(mPairAuditSql)),
    "m_shard_pack"   -> (mShardPack _, Some(mShardPackSql)),
    "m_binary_meta"  -> (mBinaryMeta _, Some(mBinaryMetaSql)),
    "m_frame_sample" -> (mFrameSample _, Some(mFrameSampleSql)),
    "m_decode_stub"  -> (mDecodeStub _, Some(mDecodeStubSql)),
    "m_resize_stub"  -> (mResizeStub _, Some(mResizeStubSql)),
    "m_phash"        -> (mPhash _, Some(mPhashSql)),
    "m_phash_pairs"  -> (mPhashPairs _, Some(mPhashPairsSql)),
    "m_scene_cut"    -> (mSceneCut _, Some(mSceneCutSql)),
    "m_modality_stats" -> (mModalityStats _, Some(mModalityStatsSql)),
    "m_embed_fusion" -> (mEmbedFusion _, Some(mEmbedFusionSql)),
  )
}
