package graft.sources

/** Registry of app-scoped LOCAL tmp store directories (the
  * `graft_index_*_{applicationId}` dirs the serve-gated queries write
  * under java.io.tmpdir). Keying by applicationId fixed the
  * cross-session overwrite race, but left every application run a full
  * store copy on disk forever; registering the dir here installs ONE
  * JVM shutdown hook that removes every registered dir on exit —
  * plain recursive file deletion, deliberately independent of the
  * SparkContext (which may already be stopped when the hook runs).
  *
  * Scope: local-FS tmp stores only. Durable stores a user points at a
  * real path are never registered — lifecycle there belongs to the
  * caller.
  */
object TmpStores {
  private val dirs = new java.util.concurrent.ConcurrentHashMap[String, Boolean]()
  private val hooked = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** The app-scoped tmp directory of index store `kind` over fixture
    * dir `sfDir`, registered:
    * `java.io.tmpdir/graft_index_{kind}_{sanitized sfDir}_{appId}`.
    * Keyed by (dataset, applicationId), so two concurrent sessions on
    * the same dataset (e.g. Verify and Bench) each get their own store
    * and one session's rebuild never deletes files out from under the
    * other's in-flight scan.
    */
  def dir(s: org.apache.spark.sql.SparkSession, kind: String, sfDir: String): String =
    register(new java.io.File(
      new java.io.File(System.getProperty("java.io.tmpdir")),
      s"graft_index_${kind}_" + sfDir.replaceAll("[^A-Za-z0-9._-]", "_") +
        "_" + s.sparkContext.applicationId).getPath)

  def register(dir: String): String = {
    dirs.put(dir, true)
    if (hooked.compareAndSet(false, true))
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        dirs.keySet().forEach(d => deleteRecursively(new java.io.File(d)))))
    dir
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    // never traverse THROUGH a symlinked directory: listFiles follows
    // links, so a symlink planted inside a tmp store would have its
    // TARGET's contents deleted — delete the link itself only. And
    // swallow per-entry failures (File.delete already returns false
    // rather than throwing, but a SecurityException or an executor
    // still flushing during an abnormal shutdown must not abort the
    // hook mid-sweep — best-effort cleanup, the OS tmp reaper is the
    // backstop).
    try {
      if (!java.nio.file.Files.isSymbolicLink(f.toPath)) {
        val children = f.listFiles()
        if (children != null) children.foreach(deleteRecursively)
      }
      f.delete(): Unit
    } catch { case _: Exception => () }
  }
}
