package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs.withTempDir

/** The plan-dump CLI (`graft.Explain` in a forked JVM — it stops its
  * session on exit, so never run it in-process against the shared test
  * session) writes a formatted physical plan per named query. Smoke
  * level: plan CONTENT assertions are PlanSpec's job.
  */
class ExplainSpec extends AnyFunSuite {

  test("explain CLI dumps formatted plans for a named subset") {
    val sf = sys.env.getOrElse("GRAFT_SF_DIR", "/root/testdata/sf0.001")
    withTempDir("graft_explain") { tmp =>
      val out = tmp.toString
      val javaBin = sys.props("java.home") + "/bin/java"
      val addOpens = Seq(
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar",
      ).flatMap(p => Seq("--add-opens", s"java.base/$p=ALL-UNNAMED"))
      val cmd = Seq(javaBin) ++ addOpens ++ Seq(
        "-Dspark.ui.enabled=false", "-Xmx2g",
        "-cp", sys.props("java.class.path"), "graft.Explain",
        sf, out, "q_topk,wordscore,e_user_overlap")
      val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
      val log = new String(proc.getInputStream.readAllBytes())
      assert(proc.waitFor() === 0, log.takeRight(1500))
      for (name <- Seq("q_topk", "wordscore", "e_user_overlap")) {
        val f = java.nio.file.Paths.get(s"$out/$name.txt")
        assert(java.nio.file.Files.exists(f), s"$name.txt missing:\n$log")
        val txt = java.nio.file.Files.readString(f)
        assert(txt.contains("== Physical Plan =="), s"$name: not a formatted dump")
        assert(txt.length > 200, s"$name: suspiciously short dump")
      }
    }
  }
}
