package graft

import org.apache.spark.sql.functions._

import graft.TempDirs.withTempDir
import graft.functions.Vectors
import graft.operators.{Geo, Materialize, Similarity}
import graft.sources.IndexStore

/** The build-once / serve-many contract: a fitted IVF-PQ index
  * persisted by IndexStore and reloaded in a (conceptually) different
  * session must serve EXACTLY the results the in-session build serves —
  * and the cell-partitioned codes layout must actually exist on disk,
  * because that layout is the 100 TB serving story (only probed cells'
  * directories are read). Every save, of either store, publishes
  * through one staged, versioned MANIFEST swap, killed here at each
  * step.
  */
class IndexStoreSpec extends SparkSpec {
  import spark.implicits._

  test("ivf-pq index round-trips as codes only and serves == s_ivf_pq") {
    withTempDir("graft_ivfpq_index") { tmp =>
      val dir = tmp.toString
      try {
        val (cent, codebook, codes) = Similarity.buildIvfPqIndex(spark, sf)
        IndexStore.saveIvfPq(dir, cent, codebook, codes)
        Materialize.releaseAll(spark) // reload must stand alone — no re-fit
        val (cent2, cb2, codes2) = IndexStore.loadIvfPq(spark, dir)
        val queries = Tables.embeddings(spark, sf)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
            Vectors.norm(col("embedding")).as("q_nrm"))
          .filter(col("q_id") < Similarity.NumQueries)
        val served = Similarity.annIvfPqServe(queries, cent2, cb2, codes2)
        val got = served.as[(Long, Long, Int, Double)].collect().toSeq
        // the layout pays off: the serve path plants the probed cells as
        // a STATIC literal partition filter, so only probed ivf_cell=
        // directories are read — asserted on the EXECUTED scan's metric,
        // not the plan string (round 9 pinned the string "dynamicpruning",
        // which also matches the degraded dynamicpruningexpression(true)
        // no-op Spark actually planned — a metric can't lie)
        val codesLive = IndexStore.resolvePath(spark, dir, "codes")
        val codesScans = scansUnder(served.queryExecution.executedPlan)
          .filter(_.relation.location.rootPaths
            .exists(_.toString.endsWith(codesLive.split('/').last)))
        assert(codesScans.nonEmpty, "codes scan not found")
        val readCells = codesScans.map(_.metrics("numPartitions").value).max
        val allCells = Option(new java.io.File(codesLive).listFiles())
          .toSeq.flatten
          .count(f => f.isDirectory && f.getName.startsWith("ivf_cell="))
        assert(readCells < allCells,
          s"partition pruning lost on the loaded codes scan: " +
            s"read $readCells of $allCells cells")
        // the oracle-checked query IS the serve path over the in-session
        // build — reload must reproduce it exactly
        val want = Similarity.sIvfPq(spark, sf)
          .as[(Long, Long, Int, Double)].collect().toSeq
        assert(got === want)
        assert(got.nonEmpty)
        // the compressed-index property: the persisted codes carry NO
        // raw vector column (storage = M small ints + a list id)
        val codesSchema = spark.read.parquet(codesLive).schema
        assert(!codesSchema.exists(_.dataType.typeName == "array"),
          s"raw vectors leaked into the codes store: $codesSchema")
        // inverted-list layout on disk
        val cells = Option(new java.io.File(codesLive).listFiles())
          .toSeq.flatten.filter(f => f.isDirectory &&
            f.getName.startsWith("ivf_cell="))
        assert(cells.nonEmpty && cells.size <= Similarity.IvfK,
          s"expected ivf_cell=* dirs, found ${cells.map(_.getName)}")
      } finally Materialize.releaseAll(spark)
    }
  }

  test("scan metrics: a served query READS only the probed cells, counted") {
    // The round-trip test checks pruning happened; this pins the effect
    // with executed-scan METRICS: the partition count the codes scan
    // actually read must equal the number of DISTINCT PROBED cells
    // (nProbe-bounded), strictly fewer than the K cell directories on
    // disk. A regression that keeps the plan shape but stops pruning
    // files (e.g. a filter pushed to the wrong side) fails on the
    // measured count.
    withTempDir("graft_ivf_metrics") { tmp =>
      val dir = tmp.toString
      try {
        val (cent, codebook, codes) = Similarity.buildIvfPqIndex(spark, sf)
        IndexStore.saveIvfPq(dir, cent, codebook, codes)
        Materialize.releaseAll(spark)
        val (cent2, cb2, codes2) = IndexStore.loadIvfPq(spark, dir)
        val queries = Tables.embeddings(spark, sf)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
            Vectors.norm(col("embedding")).as("q_nrm"))
          .filter(col("q_id") < Similarity.NumQueries)
        val served = Similarity.annIvfPqServe(queries, cent2, cb2, codes2)
        assert(served.collect().nonEmpty)

        // expected: the distinct probed cells, recomputed with the serve
        // path's own probe rule (top-nProbe rounded cosine, c_id ties)
        import org.apache.spark.sql.expressions.Window
        val wP = Window.partitionBy("q_id")
          .orderBy(col("ccos").desc, col("c_id"))
        val probedCells = queries.crossJoin(broadcast(cent2))
          .select(col("q_id"), col("c_id"),
            round(Vectors.cosineWithNorms(
              Vectors.dot(col("q_emb"), col("c_emb")),
              col("q_nrm"), col("c_nrm")), 6).as("ccos"))
          .withColumn("prn", row_number().over(wP))
          .filter(col("prn") <= Similarity.NumProbes)
          .select("c_id").distinct().count()
        val codesLive = IndexStore.resolvePath(spark, dir, "codes")
        val cellsOnDisk = Option(new java.io.File(codesLive)
          .listFiles()).toSeq.flatten
          .count(f => f.isDirectory && f.getName.startsWith("ivf_cell="))

        // the executed codes scan, dug out of the adaptive plan
        val codesScan = scansUnder(served.queryExecution.executedPlan)
          .filter(_.relation.location.rootPaths
            .exists(_.toString.endsWith(codesLive.split('/').last)))
        assert(codesScan.nonEmpty, "codes scan not found in plan")
        val readPartitions = codesScan
          .map(_.metrics("numPartitions").value).max
        assert(readPartitions === probedCells,
          s"scan read $readPartitions cell dirs; probes cover $probedCells")
        assert(readPartitions < cellsOnDisk,
          s"no pruning: read $readPartitions of $cellsOnDisk cells")
      } finally Materialize.releaseAll(spark)
    }
  }

  test("compaction: one file per cell, serve results byte-identical") {
    // The store has no separate compaction step: a rebuild from the
    // store's own contents is what rewrites a fragmented store into
    // one file per cell. The fixture is a v1 store whose codes were
    // written WITHOUT clustering, so every write task leaves a file in
    // every cell it touches, named live by a hand-written MANIFEST.
    import spark.implicits._
    withTempDir("graft_ivf_compact") { tmp =>
      val dir = tmp.toString
      try {
        val (centFit, cbFit, codesFit) = Similarity.buildIvfPqIndex(spark, sf)
        centFit.write.parquet(s"$dir/centroids_v1")
        cbFit.write.parquet(s"$dir/codebook_v1")
        codesFit.repartition(4).write.partitionBy("ivf_cell")
          .parquet(s"$dir/codes_v1")
        java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/MANIFEST"),
          "centroids=v1\ncodebook=v1\ncodes=v1\n")
        Materialize.releaseAll(spark)
        def liveCodes = IndexStore.resolvePath(spark, dir, "codes")
        def cellDirs = new java.io.File(liveCodes).listFiles()
          .filter(f => f.isDirectory && f.getName.startsWith("ivf_cell="))
        def parquetFiles(d: java.io.File): Seq[java.io.File] = {
          def walk(f: java.io.File): Seq[java.io.File] =
            if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
            else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
          walk(d)
        }
        assert(liveCodes === s"$dir/codes_v1")
        assert(cellDirs.exists(parquetFiles(_).length > 1),
          "fixture never fragmented — the write landed in one file per cell?")

        val queries = Tables.embeddings(spark, sf)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
            Vectors.norm(col("embedding")).as("q_nrm"))
          .filter(col("q_id") < Similarity.NumQueries)
        def serve(): Seq[(Long, Long, Int, Double)] = {
          val (c, cb, codes) = IndexStore.loadIvfPq(spark, dir)
          Similarity.annIvfPqServe(queries, c, cb, codes)
            .as[(Long, Long, Int, Double)].collect().toSeq
        }
        def compact(): Unit = {
          val (c, cb, codes) = IndexStore.loadIvfPq(spark, dir)
          IndexStore.saveIvfPq(dir, c, cb, codes)
        }
        def manifestText: String =
          new String(java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(s"$dir/MANIFEST")), "UTF-8")
        val before = serve()
        assert(before.nonEmpty)
        val rowsBefore = spark.read.parquet(liveCodes).count()
        compact()
        assert(liveCodes === s"$dir/codes_v2", s"unexpected live dir $liveCodes")
        assert(cellDirs.nonEmpty &&
          cellDirs.forall(parquetFiles(_).length === 1),
          "compaction left a multi-file cell directory")
        assert(!new java.io.File(s"$dir/codes_staging").exists(),
          "staging directory survived the swap")
        // the store MANIFEST names the compacted version
        assert(manifestText.contains("codes=v2"),
          s"store manifest missing/stale after compaction: $manifestText")
        assert(spark.read.parquet(liveCodes).count() === rowsBefore)
        assert(serve() === before, "serve results drifted across compaction")

        // SECOND compaction: the version counter advances, the
        // fragmented v1 is reaped once it is no longer the retained
        // previous copy, serve stable
        compact()
        assert(liveCodes === s"$dir/codes_v3", s"unexpected live dir $liveCodes")
        assert(cellDirs.forall(parquetFiles(_).length === 1))
        assert(!new java.io.File(s"$dir/codes_v1").exists(),
          "fragmented v1 survived cleanup")
        assert(serve() === before)
      } finally Materialize.releaseAll(spark)
    }
  }

  test("compaction killed mid-swap: old version serves; re-run completes to the new") {
    // The publish a grid-store save runs (staging -> version ->
    // manifest -> retained cleanup), killed at each step. Build A
    // holds four fifths of the points, build B all of them, so what
    // serves tells them apart.
    import spark.implicits._
    withTempDir("graft_grid_crash") { tmp =>
      val dir = tmp.toString
      val all = spark.range(1, 2001).toDF("c_custkey")
        .withColumn("c_acctbal", lit(1.0))
        .withColumn("cx", expr("CAST((c_custkey * 2654435761) % 100003 AS DOUBLE) / 100003.0"))
        .withColumn("cy", expr("CAST((c_custkey * 2246822519) % 100019 AS DOUBLE) / 100019.0"))
      val buildA = Geo.withCells(all.filter(col("c_custkey") % 5 =!= 0))
      val buildB = Geo.withCells(all)
      class Killed extends RuntimeException("injected crash")

      // a killed FIRST save leaves no readable store; the re-run
      // publishes cells_v1
      intercept[Killed] {
        IndexStore.saveGrid(dir, buildA,
          step => if (step == "staged:cells") throw new Killed)
      }
      assert(!IndexStore.componentExists(spark, dir, "cells"),
        "a first save killed before its version rename left a readable store")
      IndexStore.saveGrid(dir, buildA)
      assert(IndexStore.resolvePath(spark, dir, "cells") === s"$dir/cells_v1")
      val sites = Seq((1L, 0.31, 0.47), (2L, 0.83, 0.12), (3L, 0.52, 0.52))
        .toDF("s_suppkey", "sx", "sy")
      def agg(cand: org.apache.spark.sql.DataFrame) = cand
        .groupBy("s_suppkey").agg(count(lit(1)).as("n"))
        .orderBy("s_suppkey").collect().toSeq
      def serve() = agg(Geo.servedCandidates(IndexStore.loadGrid(spark, dir), sites))
      val before = serve()
      val want = agg(Geo.gridCandidates(all, sites))
      assert(before.nonEmpty && before != want, "builds A and B serve alike")

      // kill after the staging write, BEFORE the version rename: the
      // manifest and live data are untouched — the store must serve
      // the old content unchanged
      intercept[Killed] {
        IndexStore.saveGrid(dir, buildB,
          step => if (step == "staged:cells") throw new Killed)
      }
      assert(IndexStore.resolvePath(spark, dir, "cells") === s"$dir/cells_v1",
        "crash before the version rename must leave the manifested v1 live")
      assert(serve() === before, "mid-swap crash changed what serves")

      // kill after the version rename, BEFORE the manifest swap: the
      // complete v2 sits dormant, the manifest still names v1 — the
      // store keeps serving the old version
      intercept[Killed] {
        IndexStore.saveGrid(dir, buildB,
          step => if (step == "versioned:cells") throw new Killed)
      }
      assert(IndexStore.resolvePath(spark, dir, "cells") === s"$dir/cells_v1",
        "pre-manifest crash must keep the manifested old version live")
      assert(new java.io.File(s"$dir/cells_v2").exists(),
        "the complete new version should sit dormant after the crash")
      assert(serve() === before, "pre-manifest crash changed what serves")

      // kill right after the manifest swap, before cleanup: the new
      // version serves build B, the old and dormant dirs still exist
      intercept[Killed] {
        IndexStore.saveGrid(dir, buildB,
          step => if (step == "manifest") throw new Killed)
      }
      assert(IndexStore.resolvePath(spark, dir, "cells") === s"$dir/cells_v3",
        "a crash after the manifest swap must leave the new version live")
      assert(serve() === want, "post-manifest crash does not serve build B")

      // re-run to completion: a new version serves build B, dormant
      // crash debris reaped, one file per cell
      IndexStore.saveGrid(dir, buildB)
      val live = IndexStore.resolvePath(spark, dir, "cells")
      assert(live === s"$dir/cells_v4" && new java.io.File(live).exists(),
        "rebuild over a live store must publish a new version")
      assert(serve() === want, "completed rebuild does not serve build B")
      // cleanup retains the version that WAS serving (v3, for readers
      // still pinned on it) and reaps the crash debris (v1, v2)
      val versionDirs = Option(new java.io.File(dir).listFiles()).toSeq.flatten
        .filter(f => f.isDirectory && f.getName.startsWith("cells_v"))
        .map(_.getName).sorted
      assert(versionDirs === Seq("cells_v3", live.split('/').last),
        s"expected retained v3 + live, got: $versionDirs")
      def leafFiles(d: java.io.File): Seq[java.io.File] = {
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
          else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
        walk(d)
      }
      assert(new java.io.File(live).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("cell_z="))
        .forall(leafFiles(_).size === 1))
    }
  }

  test("multi-component publish killed at EVERY step serves one consistent tuple") {
    // The store-level manifest contract: a rebuild over a live
    // (centroids, codebook, codes) store, killed at each named phase of
    // the publish protocol, must leave the store serving EITHER the old
    // tuple or the new tuple — never a new model over old lists, never
    // codes without centroids. Content markers: build A has 2
    // centroids + 3 codebook rows + 4 codes, build B 3 + 4 + 6.
    import spark.implicits._
    val tuples = Map("A" -> (2L, 3L, 4L), "B" -> (3L, 4L, 6L))
    def save(dir: String, build: String,
        onStep: String => Unit = _ => ()): Unit = {
      val (k, nCb, nCodes) = tuples(build)
      IndexStore.saveIvfPq(dir = dir,
        cent = (0 until k.toInt).map(i => (i.toLong, Array(i.toFloat, 1f), 1.0))
          .toDF("c_id", "c_emb", "c_nrm"),
        codebook = (0 until nCb.toInt).map(i => (0, i, Array(i.toFloat, 1f)))
          .toDF("m", "cell", "c_emb"),
        codes = (0 until nCodes.toInt).map(i => (i.toLong, 0, i % 3, i % 2))
          .toDF("vec_id", "m", "cell", "ivf_cell"),
        onStep = onStep)
    }
    def servedTuple(dir: String): (Long, Long, Long) = {
      val (c, cb, codes) = IndexStore.loadIvfPq(spark, dir)
      (c.count(), cb.count(), codes.count())
    }
    class Killed extends RuntimeException("injected crash")
    val steps = Seq("staged:centroids", "versioned:centroids",
      "staged:codebook", "versioned:codebook",
      "staged:codes", "versioned:codes", "manifest", "cleaned")
    for (killAt <- steps) {
      withTempDir("graft_manifest_kill") { tmp =>
        val dir = tmp.toString
        save(dir, "A") // complete build A
        assert(servedTuple(dir) === tuples("A"))
        intercept[Killed] { // build B, killed at `killAt`
          save(dir, "B", step => if (step == killAt) throw new Killed)
        }
        val got = servedTuple(dir)
        assert(tuples.values.toSet.contains(got),
          s"kill at '$killAt' left a MIXED tuple serving: $got")
        // the manifest is the atomicity point: before it, A serves;
        // from it on, B serves
        val wantKey =
          if (killAt == "manifest" || killAt == "cleaned") "B" else "A"
        assert(got === tuples(wantKey),
          s"kill at '$killAt' should leave build $wantKey serving, got $got")
        // and a re-run always completes to B
        save(dir, "B")
        assert(servedTuple(dir) === tuples("B"),
          s"re-run after kill at '$killAt' failed to converge")
      }
    }
  }

  test("resolution: stale pointer falls back; legacy plain store still reads") {
    import spark.implicits._
    withTempDir("graft_resolve") { tmp =>
      val dir = tmp.toString
      // a manifest naming a MISSING version dir (external cleanup /
      // tampering) must not strand readers on a nonexistent path:
      // resolution falls back to the highest complete version
      Seq((1L, "x")).toDF("vec_id", "v").write.parquet(s"$dir/codes_v7")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$dir/MANIFEST"), "codes=v42\n")
      assert(IndexStore.resolvePath(spark, dir, "codes") === s"$dir/codes_v7",
        "stale manifest entry must fall back to the highest complete version")
    }
  }

  test("store writes cluster at a PINNED partition count (AQE must not coalesce)") {
    // the load-bearing property behind the round-13 fix: an unpinned
    // repartition(cols) is REPARTITION_BY_COL, which AQE coalesces by
    // byte size — at store sizes down to ONE partition, serializing a
    // ~400-directory dynamic-partition write into a single task. The
    // pinned form must survive as a user-specified numPartitions
    // shuffle (AQE leaves those alone) at exactly the session's
    // shuffle-partition count.
    import spark.implicits._
    val df = spark.range(1000).select((col("id") % 37).as("cell"),
      col("id").as("v")).toDF()
    val clustered = IndexStore.clusterForWrite(df, Seq("cell"))
    val n = spark.sessionState.conf.numShufflePartitions
    assert(clustered.rdd.getNumPartitions === n,
      s"clustered write frame must hold $n pinned partitions")
    // and the logical shuffle carries an explicit numPartitions (the
    // REPARTITION_BY_NUM shape), not the coalescible by-col form
    val rep = clustered.queryExecution.logical.collectFirst {
      case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression => r
    }
    assert(rep.exists(_.optNumPartitions.contains(n)),
      s"repartition lost its pinned partition count: $rep")
  }

  test("version retention: a reader pinned on the old version survives one publish") {
    // The reader contract: publish keeps the previously-serving
    // directory for one more publish, so a scan that resolved just
    // before a publish completes instead of losing its files
    // mid-flight; the publish after that reaps it (retention bounded).
    import spark.implicits._
    def publish(dir: String, n: Int): Unit = IndexStore.saveIvfPq(dir,
      Seq((0L, Array(0f, 1f), 1.0)).toDF("c_id", "c_emb", "c_nrm"),
      Seq((0, 0, Array(0f, 1f))).toDF("m", "cell", "c_emb"),
      (0 until n).map(i => (i.toLong, 0, 0, i % 2))
        .toDF("vec_id", "m", "cell", "ivf_cell"))
    withTempDir("graft_retain") { tmp =>
      val dir = tmp.toString
      publish(dir, 4) // codes_v1 serves
      val pinnedPath = IndexStore.resolvePath(spark, dir, "codes")
      assert(pinnedPath.endsWith("codes_v1"))
      val pinned = spark.read.parquet(pinnedPath) // resolved, not yet run
      publish(dir, 6) // v2 publishes
      assert(IndexStore.resolvePath(spark, dir, "codes")
        .endsWith("codes_v2"))
      // the pinned reader's directory survived the publish: the scan
      // completes with the OLD content
      assert(pinned.count() === 4L,
        "pinned reader lost its version directory across a publish")
      assert(new java.io.File(s"$dir/codes_v1").exists())
      // the next publish reaps v1 (bounded retention: newest superseded
      // only), keeps v2 for ITS pinned readers
      publish(dir, 8)
      assert(!new java.io.File(s"$dir/codes_v1").exists(),
        "retention unbounded: v1 survived two publishes")
      assert(new java.io.File(s"$dir/codes_v2").exists(),
        "previously-serving v2 should be retained")
      assert(spark.read.parquet(
        IndexStore.resolvePath(spark, dir, "codes")).count() === 8L)
    }
  }

  /** Every FileSourceScanExec in an executed plan, descending through
    * adaptive wrappers (AQE hides finalized stages from plain
    * collect).
    */
  private def scansUnder(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val self = p match {
      case f: FileSourceScanExec => Seq(f); case _ => Nil
    }
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    self ++ kids.flatMap(scansUnder)
  }
}
