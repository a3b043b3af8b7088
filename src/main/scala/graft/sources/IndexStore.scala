package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** Persistence for the IVF similarity index — the build-once /
  * serve-many contract every production ANN deployment needs: the fit
  * (Lloyd iterations over the corpus) runs in an offline job, the two
  * resulting frames land as parquet, and query-serving sessions reload
  * them without ever re-fitting.
  *
  * Layout under `dir`:
  *  - `centroids/` — the K-row fitted frame (c_id, c_emb, c_nrm);
  *    trivially broadcast at serve time.
  *  - `postings/`  — the corpus assignment (vec_id, embedding, nrm),
  *    written `partitionBy("cell")`: one directory per inverted list.
  *    This is the layout decision that makes serving cheap at 100 TB —
  *    `Similarity.annIvfServe` joins postings on the probed cells, so
  *    the scan reads ONLY the nProbe·|Q| cell directories a query
  *    batch touches (static pruning when probes are literals, dynamic
  *    partition pruning under the broadcast join otherwise); the other
  *    K − nProbe lists are never opened.
  *
  * Both writes are deterministic parquet (Overwrite — an index rebuild
  * replaces the index). No driver-side state: save is two distributed
  * writes, load is two reads.
  */
object IndexStore {

  // ------- versioned data dirs + pointer manifest (atomic rebuilds)
  //
  // A rebuilt component lives in `{name}_v{N}` with a tiny
  // `CURRENT_{name}` pointer file naming the live version; a store
  // saved once keeps the plain `{name}` directory its first save
  // writes. Resolution order: pointer -> highest complete `{name}_v*`
  // -> plain `{name}`. The rebuild swap is crash-safe at every step
  // (see [[publishComponent]]).

  private def fsOf(s: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  private def listVersions(fs: org.apache.hadoop.fs.FileSystem,
      dir: String, name: String): Seq[Int] =
    fs.globStatus(new org.apache.hadoop.fs.Path(s"$dir/${name}_v*")) match {
      case null => Nil
      case sts => sts.toSeq.filter(_.isDirectory)
        .flatMap(st => st.getPath.getName.stripPrefix(s"${name}_v").toIntOption)
    }

  // ---- store-level manifest: one file naming the live version of
  // EVERY component, written last — the cross-component atomicity the
  // per-component pointer cannot give. A multi-component publish
  // ([[publishStore]]) stages and versions all components, then swaps
  // ONE manifest: readers see either the old consistent tuple or the
  // new one, never a new model over old lists. Format: one
  // `name=vN` line per component, tmp-write + rename like the pointer.

  private def readSmallFile(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  private def readManifest(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Option[Map[String, String]] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/MANIFEST")
    if (!fs.exists(p)) None
    else Some(readSmallFile(fs, p).linesIterator
      .map(_.trim).filter(_.contains('='))
      .map { l => val i = l.indexOf('='); (l.substring(0, i), l.substring(i + 1)) }
      .toMap)
  }

  private def writeManifest(fs: org.apache.hadoop.fs.FileSystem, dir: String,
      entries: Map[String, String]): Unit = {
    val cur = new org.apache.hadoop.fs.Path(s"$dir/MANIFEST")
    val tmp = new org.apache.hadoop.fs.Path(s"$dir/MANIFEST.tmp")
    val out = fs.create(tmp, true)
    try out.write(entries.toSeq.sorted.map { case (k, v) => s"$k=$v" }
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    fs.delete(cur, false)
    if (!fs.rename(tmp, cur))
      throw new java.io.IOException(s"manifest swap failed for $dir")
  }

  /** The LIVE data directory for store component `name` (e.g.
    * "postings", "cells"): the version the store MANIFEST names (the
    * multi-component protocol's single source of truth); else the
    * version the `CURRENT_{name}` pointer names; if the pointer is
    * absent (legacy store, or a crash in the one delete-to-rename
    * instant of the pointer swap) — or either named directory is
    * MISSING (stale pointer after external cleanup) — the highest
    * `{name}_v*` directory, which is always COMPLETE, because data
    * only reaches a version name by renaming a fully-written staging
    * directory; if none exists, the plain `{name}` directory the
    * legacy unversioned save wrote.
    */
  def resolvePath(s: SparkSession, dir: String, name: String): String = {
    val cur = new org.apache.hadoop.fs.Path(s"$dir/CURRENT_$name")
    val fs = fsOf(s, cur)
    def existingVersion(v: String): Option[String] = {
      val p = s"$dir/${name}_$v"
      if (fs.exists(new org.apache.hadoop.fs.Path(p))) Some(p) else None
    }
    def fallback: String = {
      val versions = listVersions(fs, dir, name)
      if (versions.nonEmpty) s"$dir/${name}_v${versions.max}"
      else s"$dir/$name"
    }
    readManifest(fs, dir).flatMap(_.get(name)).flatMap(existingVersion)
      .orElse {
        if (fs.exists(cur)) existingVersion(readSmallFile(fs, cur).trim)
        else None
      }
      .getOrElse(fallback)
  }

  /** Whether store component `name` exists in a READABLE state —
    * resolution (manifest → pointer → version → plain) must land on a
    * directory that actually exists, through the Hadoop FileSystem API
    * (so non-local stores and the versions-only crash state are
    * detected; a java.io.File check on the plain dir misses both).
    * A name-only check (manifest entry or pointer file with no
    * surviving data dir — external cleanup) must NOT count: the caller
    * would skip the rebuild and then crash on the read.
    */
  def componentExists(s: SparkSession, dir: String, name: String): Boolean = {
    val fs = fsOf(s, new org.apache.hadoop.fs.Path(dir))
    fs.exists(new org.apache.hadoop.fs.Path(resolvePath(s, dir, name)))
  }

  /** Publish `df` as the new live content of component `name` and swap
    * it live without any window in which the store is unreadable:
    *
    *  1. write the complete copy to `{name}_staging` (crash here:
    *     pointer and live data untouched — old version serves);
    *  2. rename the COMPLETE staging dir to `{name}_v{N+1}` (a single
    *     metadata op; crash before the pointer moves: a pointered
    *     store keeps serving the pointed old version with v{N+1}
    *     dormant until the next publish reaps it, while a
    *     pointer-less store's resolution falls forward to v{N+1} —
    *     safe either way, because a version name only ever holds a
    *     fully-written copy);
    *  3. publish the pointer: write `CURRENT_{name}.tmp`, delete the
    *     old pointer, rename tmp into place (crash in the sub-instant
    *     between delete and rename: resolution falls back to the
    *     highest version dir — v{N+1}, complete by step 2);
    *  4. delete stale version dirs and the plain dir beyond the
    *     [[retainCount]] retained ones (crash here: extra garbage,
    *     reaped by the next publish).
    *
    * A killed rebuild leaves the previous version serving.
    *
    * `onStep` is the crash-test seam: invoked with "staged:{name}",
    * "versioned:{name}", "pointer", "cleaned" as each phase commits,
    * so a spec can kill the swap at a named point and assert what
    * serves.
    */
  private def publishComponent(s: SparkSession, dir: String,
      name: String, partCols: Seq[String], df: DataFrame,
      onStep: String => Unit): Unit = {
    val fs = fsOf(s, new org.apache.hadoop.fs.Path(dir))
    val prevServing = resolvePath(s, dir, name) // protect for pinned readers
    val next = stageAndVersion(s, fs, dir, name, partCols, df, onStep)
    val cur = new org.apache.hadoop.fs.Path(s"$dir/CURRENT_$name")
    val tmp = new org.apache.hadoop.fs.Path(s"$dir/CURRENT_$name.tmp")
    val out = fs.create(tmp, true)
    try out.write(s"v$next".getBytes("UTF-8")) finally out.close()
    fs.delete(cur, false)
    if (!fs.rename(tmp, cur))
      throw new java.io.IOException(s"publish: pointer swap failed for $dir/$name")
    onStep("pointer")
    cleanupComponent(fs, dir, name, next, retainCount(s), Some(prevServing))
    onStep("cleaned")
  }

  /** How many SUPERSEDED copies of a component each publish retains
    * for still-pinned readers (the previously-serving directory first,
    * then the highest-numbered others). A reader that resolved the old
    * version just before a publish keeps a complete directory for at
    * least this many more publishes — the reader contract: at default
    * retention 1, a scan must span fewer than 2 publishes of the same
    * component to be guaranteed its files survive. 0 restores
    * immediate reaping.
    */
  private def retainCount(s: SparkSession): Int =
    s.conf.get("spark.graft.store.retainVersions", "1").toInt

  /** Steps 1–2 of the publish protocol for one component: write the
    * complete staging copy, rename it to `{name}_v{next}`. Returns the
    * version number. Crash anywhere here: the live data (pointer,
    * manifest, old versions, plain dir) is untouched.
    */
  private def stageAndVersion(s: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, dir: String, name: String,
      partCols: Seq[String], df: DataFrame, onStep: String => Unit): Int = {
    val next = (listVersions(fs, dir, name) :+ 0).max + 1
    val staging = s"$dir/${name}_staging"
    val clustered =
      if (partCols.isEmpty) df else clusterForWrite(df, partCols)
    val writer = clustered.write.mode(SaveMode.Overwrite)
    (if (partCols.isEmpty) writer else writer.partitionBy(partCols: _*))
      .parquet(staging)
    onStep(s"staged:$name")
    val versioned = new org.apache.hadoop.fs.Path(s"$dir/${name}_v$next")
    if (!fs.rename(new org.apache.hadoop.fs.Path(staging), versioned))
      throw new java.io.IOException(s"publish: staging rename failed for $dir/$name")
    onStep(s"versioned:$name")
    next
  }

  /** Step 4: reap stale version dirs and the legacy plain dir — except
    * the `retain` most-recently-superseded copies (the directory that
    * was SERVING before this publish first, then the highest-numbered
    * others, the legacy plain dir last), kept so a reader that resolved
    * the old path just before the swap finishes its scan instead of
    * losing files mid-flight. For manifested stores the superseded
    * per-component pointer is dropped. Crash here: extra garbage,
    * reaped by the next publish.
    */
  private def cleanupComponent(fs: org.apache.hadoop.fs.FileSystem,
      dir: String, name: String, keep: Int, retain: Int,
      prevServing: Option[String]): Unit = {
    val keepPath = s"$dir/${name}_v$keep"
    val plain = s"$dir/$name"
    val stale = (listVersions(fs, dir, name).filter(_ != keep)
        .sorted.reverse.map(v => s"$dir/${name}_v$v") ++
        (if (fs.exists(new org.apache.hadoop.fs.Path(plain))) Seq(plain)
         else Nil))
      .filter(_ != keepPath)
    val ordered = prevServing.toSeq.filter(stale.contains) ++
      stale.filterNot(prevServing.contains)
    ordered.drop(math.max(0, retain)).foreach(p =>
      fs.delete(new org.apache.hadoop.fs.Path(p), true))
    if (readManifest(fs, dir).exists(_.contains(name)))
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/CURRENT_$name"), false)
  }

  /** Publish a MULTI-COMPONENT store atomically: stage and version
    * every component (crash: old tuple serves untouched), then swap
    * ONE store-level manifest naming the new consistent
    * component-version tuple (crash in the delete-to-rename
    * sub-instant: per-component resolution falls back to the highest
    * complete version of each — all just-published, still a
    * consistent tuple), then clean up. At no point can a reader see a
    * new model over old lists or a store with postings but no
    * centroids — the failure mode of the old per-component Overwrite
    * saves. `onStep` names each phase (`staged:{name}`,
    * `versioned:{name}`, `manifest`, `cleaned`) for the
    * kill-at-every-step spec.
    */
  private def publishStore(s: SparkSession, dir: String,
      components: Seq[(String, Seq[String], DataFrame)],
      onStep: String => Unit): Unit = {
    val fs = fsOf(s, new org.apache.hadoop.fs.Path(dir))
    val prev = components.map { case (name, _, _) =>
      name -> resolvePath(s, dir, name)
    }.toMap
    val versions = components.map { case (name, partCols, df) =>
      name -> stageAndVersion(s, fs, dir, name, partCols, df, onStep)
    }
    val merged = readManifest(fs, dir).getOrElse(Map.empty) ++
      versions.map { case (n, v) => n -> s"v$v" }
    writeManifest(fs, dir, merged)
    onStep("manifest")
    versions.foreach { case (n, v) =>
      cleanupComponent(fs, dir, n, v, retainCount(s), prev.get(n)) }
    onStep("cleaned")
  }

  /** Both components (centroids + postings) go through ONE
    * [[publishStore]] call: every save — first or rebuild — stages and
    * versions both frames, then swaps the store-level manifest last,
    * so a kill at ANY step leaves the store serving one consistent
    * (centroids, postings) tuple (or, on a killed FIRST save, nothing
    * — never a store with postings but no centroids, the failure mode
    * of the old per-component Overwrite writes).
    */
  def saveIvf(dir: String, cent: DataFrame, assign: DataFrame): Unit =
    saveIvf(dir, cent, assign, _ => ())

  private[graft] def saveIvf(dir: String, cent: DataFrame,
      assign: DataFrame, onStep: String => Unit): Unit =
    publishStore(cent.sparkSession, dir, Seq(
      ("centroids", Nil, cent),
      ("postings", Seq("cell"), assign.select(col("vec_id"),
        col("embedding"), col("nrm"), col("cell")))),
      onStep)

  /** Reload (centroids, postings) for [[graft.operators.Similarity
    * .annIvfServe]]. Column order is restored to the build-time shape
    * (partitionBy moves `cell` last on disk).
    */
  def loadIvf(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val cent = s.read.parquet(resolvePath(s, dir, "centroids"))
      .select(col("c_id"), col("c_emb"), col("c_nrm"))
    val assign = s.read.parquet(resolvePath(s, dir, "postings"))
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cell"))
    (cent, assign)
  }

  /** Persist the composed IVF-PQ index — the production COMPRESSED
    * layout: `centroids/` (IVF, K rows), `codebook/` (PQ, M·K rows),
    * and `codes/` — the corpus as (vec_id, m, cell) PQ codes
    * partitioned by `ivf_cell`. No raw vector appears anywhere in the
    * store: per-vector storage is M small ints + one list id, and
    * serving ([[graft.operators.Similarity.annIvfPqServe]]) reads only
    * probed `ivf_cell=` directories and broadcasts the two tiny model
    * frames.
    */
  def saveIvfPq(dir: String, cent: DataFrame, codebook: DataFrame,
      codes: DataFrame): Unit = saveIvfPq(dir, cent, codebook, codes, _ => ())

  /** All three components through one [[publishStore]] — a kill at any
    * step serves one consistent (centroids, codebook, codes) tuple;
    * the codes land `partitionBy(ivf_cell)` clustered one file per
    * inverted list, as before.
    */
  private[graft] def saveIvfPq(dir: String, cent: DataFrame,
      codebook: DataFrame, codes: DataFrame,
      onStep: String => Unit): Unit =
    publishStore(cent.sparkSession, dir, Seq(
      ("centroids", Nil, cent),
      ("codebook", Nil, codebook),
      ("codes", Seq("ivf_cell"), codes)),
      onStep)

  def loadIvfPq(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val cent = s.read.parquet(resolvePath(s, dir, "centroids"))
      .select(col("c_id"), col("c_emb"), col("c_nrm"))
    val codebook = s.read.parquet(resolvePath(s, dir, "codebook"))
      .select(col("m"), col("cell"), col("c_emb"))
    val codes = s.read.parquet(resolvePath(s, dir, "codes"))
      .select(col("vec_id"), col("m"), col("cell"), col("ivf_cell"))
    (cent, codebook, codes)
  }

  /** The grid store's single partition key: the Morton/Z-order
    * interleave of the two 5-bit cell coordinates (shifted +1 because
    * a build neighborhood reaches cell −1), emitted by the SAME
    * bit-interleave loop as the q_zorder layout audit
    * ([[graft.operators.Relational.zkeyExpr]]). One `cell_z=`
    * directory level instead of nested `cell_x=/cell_y=`: a 20×20
    * grid lists ~400 leaf dirs either way, but at one level the
    * listing depth halves, the directory count grows with CELLS
    * rather than with x-resolution × y-resolution nesting overhead,
    * and — because Morton order preserves 2-D locality — a spatial
    * BOX maps to a few contiguous `cell_z` RANGES, so range predicates
    * prune the 1-D partition index directly (the lakehouse
    * OPTIMIZE ZORDER rationale, applied to directory layout).
    * The interleave is bijective on cells in [−1, 30]², so the cell
    * equi-join can key on `cell_z` alone.
    */
  private[graft] val CellZ: String =
    graft.operators.Relational.zkeyExpr(
      "(cell_x + 1)", "(cell_y + 1)", duck = false, bits = 5)

  private def withCellZ(df: DataFrame): DataFrame =
    df.withColumn("cell_z", org.apache.spark.sql.functions.expr(CellZ))

  /** First save of a component writes the plain `{name}` directory
    * (nothing exists to preserve — a killed first save heals on
    * re-run); a REBUILD over an existing store goes through the
    * versioned publish instead, so the live version keeps serving
    * until the new one is complete — the old Overwrite-in-place
    * rebuild deleted the live directory before writing a byte, and
    * paid that delete-first pass even on success. Either path
    * clusters rows by the partition columns first, so each partition
    * directory lands as ONE file (without that, EVERY upstream task
    * writes a file into every directory it touches — up to |tasks| ×
    * |cells| small files, measured 2× slower to write and list).
    */
  private def saveOrPublish(s: SparkSession, dir: String, name: String,
      partCols: Seq[String], df: DataFrame, onStep: String => Unit): Unit = {
    val fs = fsOf(s, new org.apache.hadoop.fs.Path(dir))
    val exists = fs.exists(new org.apache.hadoop.fs.Path(s"$dir/CURRENT_$name")) ||
      fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$name")) ||
      listVersions(fs, dir, name).nonEmpty
    if (exists) publishComponent(s, dir, name, partCols, df, onStep)
    else clusterForWrite(df, partCols)
      .write.mode(SaveMode.Overwrite).partitionBy(partCols: _*)
      .parquet(s"$dir/$name")
  }

  /** Cluster a component frame for its dynamic-partitioned write: hash
    * on the partition columns at a PINNED partition count. The pinning
    * is load-bearing: an unpinned `repartition(cols)` is
    * REPARTITION_BY_COL, which AQE freely coalesces by byte size — at
    * store-build sizes it coalesces to ONE partition, and the dynamic
    * partition writer then creates every `cell=` directory from a
    * single task serially (measured: 7.9 s of g_grid_served's 9.5 s
    * was one task writing ~400 cell dirs; a 16x LARGER input was
    * FASTER because its extra input splits dodged the coalesce).
    * Bytes are the wrong coalesce signal for a write whose cost is
    * dir/file creation count, so pin the count and keep the write
    * parallel.
    */
  private[graft] def clusterForWrite(df: DataFrame, partCols: Seq[String]): DataFrame =
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions,
      partCols.map(col): _*)

  /** Persist a point corpus as a SPATIAL grid store: rows land
    * `partitionBy("cell_z")` — one directory per grid cell keyed by
    * the Morton code ([[CellZ]]), the 2-D analog of the IVF
    * inverted-list layout. A radius or kNN query over the store
    * touches only the build side's 3x3 cell neighborhoods, so the
    * scan reads 9·|sites| cell directories via partition pruning,
    * never the whole corpus — spatial data skipping as a directory
    * layout. `cell_x`/`cell_y` remain ordinary data columns inside
    * the files, so serve-time joins and exactness predicates read
    * them without de-interleaving.
    */
  def saveGrid(dir: String, pointsWithCells: DataFrame): Unit =
    saveGrid(dir, pointsWithCells, _ => ())

  /** [[saveGrid]] with the [[publishComponent]] crash-test seam: a
    * rebuild calls `onStep` as each publish phase commits.
    */
  private[graft] def saveGrid(dir: String, pointsWithCells: DataFrame,
      onStep: String => Unit): Unit =
    saveOrPublish(pointsWithCells.sparkSession, dir, "cells",
      Seq("cell_z"), withCellZ(pointsWithCells), onStep)

  /** Reload the grid store for [[graft.operators.Geo]] serving; column
    * order restored to the build-time shape (the `cell_z` partition
    * col moves last on disk and its values come back through
    * partition-directory inference as INTs — same type the build
    * wrote).
    */
  def loadGrid(s: SparkSession, dir: String): DataFrame = {
    val df = s.read.parquet(resolvePath(s, dir, "cells"))
    val dataCols = df.columns.filterNot(c =>
      c == "cell_x" || c == "cell_y" || c == "cell_z")
    df.select((dataCols :+ "cell_x" :+ "cell_y" :+ "cell_z").map(col).toSeq: _*)
  }
}
