package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** Persistence for the two servable index stores — the build-once /
  * serve-many contract: the fit runs in an offline job, the resulting
  * frames land as parquet, and query-serving sessions reload them
  * without ever re-fitting.
  *
  *  - IVF-PQ ([[saveIvfPq]]/[[loadIvfPq]]): `centroids` (the K-row
  *    fitted frame, broadcast at serve time), `codebook` (PQ, M·K
  *    rows) and `codes` — the corpus as (vec_id, m, cell) PQ codes
  *    written `partitionBy("ivf_cell")`: one directory per inverted
  *    list, so [[graft.operators.Similarity.annIvfPqServe]] reads ONLY
  *    the probed lists' directories; the other K − nProbe lists are
  *    never opened.
  *  - grid ([[saveGrid]]/[[loadGrid]]): `cells`, a point corpus
  *    written `partitionBy("cell_z")`, one directory per spatial cell.
  *
  * Layout under `dir`: each component lives in `{name}_v{N}`, and one
  * `MANIFEST` file (a `name=vN` line per component) names the live
  * version of every component. Every save, first or rebuild, goes
  * through [[publishStore]].
  */
object IndexStore {

  private def fsOf(s: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  private def listVersions(fs: org.apache.hadoop.fs.FileSystem,
      dir: String, name: String): Seq[Int] =
    fs.globStatus(new org.apache.hadoop.fs.Path(s"$dir/${name}_v*")) match {
      case null => Nil
      case sts => sts.toSeq.filter(_.isDirectory)
        .flatMap(st => st.getPath.getName.stripPrefix(s"${name}_v").toIntOption)
    }

  private def readManifest(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Option[Map[String, String]] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/MANIFEST")
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val text =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      Some(text.linesIterator
        .map(_.trim).filter(_.contains('='))
        .map { l => val i = l.indexOf('='); (l.substring(0, i), l.substring(i + 1)) }
        .toMap)
    }
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

  /** The live data directory of component `name`, if the store has
    * one: the version the MANIFEST names, if that directory exists;
    * otherwise (a crash in the delete-to-rename instant of the
    * manifest swap, or a manifest entry whose directory was removed
    * externally) the highest `{name}_v*` directory, which is always
    * COMPLETE, because data only reaches a version name by renaming a
    * fully-written staging directory.
    */
  private def livePath(s: SparkSession, dir: String, name: String): Option[String] = {
    val fs = fsOf(s, new org.apache.hadoop.fs.Path(dir))
    readManifest(fs, dir).flatMap(_.get(name))
      .map(v => s"$dir/${name}_$v")
      .filter(p => fs.exists(new org.apache.hadoop.fs.Path(p)))
      .orElse(listVersions(fs, dir, name).maxOption.map(v => s"$dir/${name}_v$v"))
  }

  /** The LIVE data directory for store component `name` (e.g. "codes",
    * "cells"), resolved as [[livePath]] does; a store that never
    * published `name` fails here, naming the component.
    */
  def resolvePath(s: SparkSession, dir: String, name: String): String =
    livePath(s, dir, name).getOrElse(throw new java.io.FileNotFoundException(
      s"no published version of store component '$name' under $dir"))

  /** Whether store component `name` exists in a READABLE state —
    * resolution must land on a directory that actually exists, checked
    * through the Hadoop FileSystem API (so non-local stores and the
    * versions-only crash state are detected). A name-only check (a
    * manifest entry with no surviving data dir — external cleanup)
    * must NOT count: the caller would skip the rebuild and then crash
    * on the read.
    */
  def componentExists(s: SparkSession, dir: String, name: String): Boolean =
    livePath(s, dir, name).isDefined

  /** How many SUPERSEDED copies of a component each publish retains
    * for still-pinned readers (the previously-serving directory first,
    * then the highest-numbered others). A reader that resolved the old
    * version just before a publish keeps a complete directory for at
    * least this many more publishes — the reader contract: a scan must
    * span fewer than 2 publishes of the same component to be
    * guaranteed its files survive.
    */
  private val RetainCount = 1

  /** Steps 1–2 of the publish protocol for one component: write the
    * complete staging copy, rename it to `{name}_v{next}`. Returns the
    * version number. Crash anywhere here: the live data (manifest, old
    * versions) is untouched.
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

  /** Step 4: reap stale version dirs — except the [[RetainCount]]
    * most-recently-superseded copies (the directory that was SERVING
    * before this publish first, then the highest-numbered others),
    * kept so a reader that resolved the old path just before the swap
    * finishes its scan instead of losing files mid-flight. Crash here:
    * extra garbage, reaped by the next publish.
    */
  private def cleanupComponent(fs: org.apache.hadoop.fs.FileSystem,
      dir: String, name: String, keep: Int,
      prevServing: Option[String]): Unit = {
    val stale = listVersions(fs, dir, name).filter(_ != keep)
      .sorted.reverse.map(v => s"$dir/${name}_v$v")
    val ordered = prevServing.toSeq.filter(stale.contains) ++
      stale.filterNot(prevServing.contains)
    ordered.drop(RetainCount).foreach(p =>
      fs.delete(new org.apache.hadoop.fs.Path(p), true))
  }

  /** Publish a store's components as its new live content, atomically
    * across components and without any window in which the store is
    * unreadable:
    *
    *  1. write each component's complete copy to `{name}_staging`
    *     (crash here: manifest and live data untouched — the old
    *     tuple serves; on a first save nothing serves, and a re-run
    *     overwrites the staging dir);
    *  2. rename each COMPLETE staging dir to `{name}_v{N+1}` (a single
    *     metadata op; crash before the manifest moves: the manifest
    *     still names the old tuple, and the new versions sit dormant
    *     until the next publish reaps them — on a first save, with no
    *     manifest yet, resolution falls forward to the complete
    *     versions already renamed; safe either way, because a version
    *     name only ever holds a fully-written copy);
    *  3. swap ONE store-level `MANIFEST` naming the new consistent
    *     component-version tuple: write `MANIFEST.tmp`, delete the old
    *     manifest, rename tmp into place (crash in the sub-instant
    *     between delete and rename: resolution falls back to the
    *     highest complete version of each component — all
    *     just-published, still a consistent tuple);
    *  4. delete stale version dirs beyond the [[RetainCount]] retained
    *     ones (crash here: extra garbage, reaped by the next publish).
    *
    * At no point can a reader see a new model over old lists or a
    * store with codes but no centroids. `onStep` is the crash-test
    * seam: invoked with `staged:{name}`, `versioned:{name}`,
    * `manifest`, `cleaned` as each phase commits, so a spec can kill
    * the publish at a named point and assert what serves.
    */
  private def publishStore(s: SparkSession, dir: String,
      components: Seq[(String, Seq[String], DataFrame)],
      onStep: String => Unit): Unit = {
    val fs = fsOf(s, new org.apache.hadoop.fs.Path(dir))
    val prev = components.map { case (name, _, _) =>
      name -> livePath(s, dir, name)
    }.toMap
    val versions = components.map { case (name, partCols, df) =>
      name -> stageAndVersion(s, fs, dir, name, partCols, df, onStep)
    }
    val merged = readManifest(fs, dir).getOrElse(Map.empty) ++
      versions.map { case (n, v) => n -> s"v$v" }
    writeManifest(fs, dir, merged)
    onStep("manifest")
    versions.foreach { case (n, v) => cleanupComponent(fs, dir, n, v, prev(n)) }
    onStep("cleaned")
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
    * inverted list.
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
    val cent = graft.Tables.parquet(s, resolvePath(s, dir, "centroids"))
      .select(col("c_id"), col("c_emb"), col("c_nrm"))
    val codebook = graft.Tables.parquet(s, resolvePath(s, dir, "codebook"))
      .select(col("m"), col("cell"), col("c_emb"))
    val codes = graft.Tables.parquet(s, resolvePath(s, dir, "codes"))
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

  /** Cluster a component frame for its dynamic-partitioned write: hash
    * on the partition columns at a PINNED partition count, so each
    * partition directory lands as ONE file (without that, EVERY
    * upstream task writes a file into every directory it touches — up
    * to |tasks| × |cells| small files, measured 2× slower to write and
    * list). The pinning is load-bearing: an unpinned
    * `repartition(cols)` is REPARTITION_BY_COL, which AQE freely
    * coalesces by byte size — at store-build sizes it coalesces to ONE
    * partition, and the dynamic partition writer then creates every
    * `cell=` directory from a single task serially (measured: 7.9 s of
    * g_grid_served's 9.5 s was one task writing ~400 cell dirs; a 16x
    * LARGER input was FASTER because its extra input splits dodged the
    * coalesce). Bytes are the wrong coalesce signal for a write whose
    * cost is dir/file creation count, so pin the count and keep the
    * write parallel.
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

  /** [[saveGrid]] with the [[publishStore]] crash-test seam: the grid
    * store is a one-component store, and every save — first or
    * rebuild — calls `onStep` as each publish phase commits.
    */
  private[graft] def saveGrid(dir: String, pointsWithCells: DataFrame,
      onStep: String => Unit): Unit =
    publishStore(pointsWithCells.sparkSession, dir,
      Seq(("cells", Seq("cell_z"), withCellZ(pointsWithCells))), onStep)

  /** Reload the grid store for [[graft.operators.Geo]] serving; column
    * order restored to the build-time shape (the `cell_z` partition
    * col moves last on disk and its values come back through
    * partition-directory inference as INTs — same type the build
    * wrote).
    */
  def loadGrid(s: SparkSession, dir: String): DataFrame = {
    val df = graft.Tables.parquet(s, resolvePath(s, dir, "cells"))
    val dataCols = df.columns.filterNot(c =>
      c == "cell_x" || c == "cell_y" || c == "cell_z")
    df.select((dataCols :+ "cell_x" :+ "cell_y" :+ "cell_z").map(col).toSeq: _*)
  }
}
