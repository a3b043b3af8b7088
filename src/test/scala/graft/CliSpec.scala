package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs.withTempDir

/** End-to-end CLI contract (`WordScoreMain` in a forked JVM, like a real
  * submission): usage → exit 2 with no Spark startup; a good run → exit
  * 0, tab-delimited `score\tword` output sorted by score descending,
  * with `-D` conf overrides accepted ToolRunner-style and no INFO log
  * lines from the jobs; the same bytes whatever
  * `spark.sql.shuffle.partitions` is; a plain `java` launch with no
  * master set runs locally; an invalid `-D` value → exit 1 with a
  * message naming it; a failed rerun → exit 1 with the previous output
  * intact.
  */
class CliSpec extends AnyFunSuite {

  /** Runs the main in a new JVM; `master` is its `spark.master` system
    * property, as spark-submit passes it (none for a plain launch).
    */
  private def runMain(args: Seq[String], master: Option[String] = Some("local[2]")): (Int, String) = {
    val java = sys.props("java.home") + "/bin/java"
    val addOpens = Seq(
      "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
      "java.net", "java.nio", "java.util", "java.util.concurrent",
      "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
      "sun.security.action", "sun.util.calendar",
    ).flatMap(p => Seq("--add-opens", s"java.base/$p=ALL-UNNAMED"))
    val cmd = Seq(java) ++ addOpens ++ Seq(
      "-Dspark.ui.enabled=false") ++ master.map(m => s"-Dspark.master=$m") ++ Seq(
      "-Dspark.sql.session.timeZone=UTC", "-Xmx2g",
      "-cp", sys.props("java.class.path"), "graft.WordScoreMain") ++ args
    val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
    val proc = pb.start()
    val out = new String(proc.getInputStream.readAllBytes())
    (proc.waitFor(), out)
  }

  private def partFiles(out: String): Seq[java.io.File] =
    Option(new java.io.File(out).listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("part-") && !f.getName.endsWith(".crc"))

  test("no/misused args exit 2 with usage, before any Spark startup") {
    val (code, out) = runMain(Seq())
    assert(code === 2, out.takeRight(500))
    assert(out.contains("Usage:"))
    val (code2, _) = runMain(Seq("-Dbad", "in", "out"))
    assert(code2 === 2)
  }

  test("an invalid -D value exits 1 with a message naming the value") {
    withTempDir("cli_in") { dir =>
      withTempDir("cli_out") { parent =>
        Files.writeString(new java.io.File(dir, "reviews.json").toPath,
          "{\"stars\": 5.0, \"text\": \"great food\"}\n")
        val (code, log) = runMain(Seq("-Dspark.sql.shuffle.partitions=abc",
          dir.getAbsolutePath, parent.getAbsolutePath + "/scores"))
        assert(code === 1, log.takeRight(1500))
        val failed = log.linesIterator.find(_.startsWith("word-score failed:"))
        assert(failed.exists(_.contains("abc")), log.takeRight(1500))
      }
    }
  }

  test("golden run: exit 0, sorted score\\tword output, -D accepted") {
    withTempDir("cli_in") { dir =>
      withTempDir("cli_out") { parent =>
        Files.writeString(new java.io.File(dir, "reviews.json").toPath,
          """{"stars": 5.0, "text": "great great food"}
            |{"stars": 1.0, "text": "great awful service"}
            |""".stripMargin)
        val out = parent.getAbsolutePath + "/scores"
        val (code, log) = runMain(Seq(
          "-Dspark.sql.shuffle.partitions=2", dir.getAbsolutePath, out))
        assert(code === 0, log.takeRight(1500))
        // WARN by default: no per-job INFO chatter from the scheduler
        assert(!log.contains("INFO DAGScheduler"), log.take(1500))
        val files = partFiles(out)
        assert(files.length === 1, s"expected one part file in $out")
        val lines = Files.readAllLines(files.head.toPath).toArray.map(_.toString)
        // great = 2·(+2) + (−2) = 2, food = +2 (tied); awful = service = −2
        val parsed = lines.map { l => val Array(sc, w) = l.split("\t"); (w, sc.toLong) }
        assert(parsed.toMap === Map(
          "great" -> 2L, "food" -> 2L, "awful" -> -2L, "service" -> -2L))
        val scores = parsed.map(_._2)
        assert(scores.sliding(2).forall { case Array(a, b) => a >= b; case _ => true })
      }
    }
  }

  test("a plain java launch runs locally; a spark.master property still wins") {
    withTempDir("cli_in") { dir =>
      withTempDir("cli_out") { parent =>
        Files.writeString(new java.io.File(dir, "reviews.json").toPath,
          "{\"stars\": 5.0, \"text\": \"great food\"}\n")
        val out = parent.getAbsolutePath + "/scores"
        val (code, log) = runMain(Seq(dir.getAbsolutePath, out), master = None)
        assert(code === 0, log.takeRight(1500))
        assert(Files.readAllLines(partFiles(out).head.toPath).toArray.toSeq ===
          Seq("2\tfood", "2\tgreat"))
        // the default yields to the master spark-submit would pass
        val (code2, log2) = runMain(Seq(dir.getAbsolutePath, out + "2"), master = Some("bogus://x"))
        assert(code2 === 1, log2.takeRight(1500))
        assert(log2.linesIterator.exists(l => l.startsWith("word-score failed:") &&
          l.contains("bogus://x")), log2.takeRight(1500))
      }
    }
  }

  test("output is byte-identical whatever spark.sql.shuffle.partitions is") {
    withTempDir("cli_in") { dir =>
      withTempDir("cli_out") { parent =>
        // three files, so several map tasks' partial sums meet in the reducer
        Seq(
          """{"stars": 5.0, "text": "great great food\tand friendly staff"}""",
          """{"stars": 1.0, "text": "great  awful service and\ncold food"}""",
          """{"stars": 3.0, "text": "ok food"}
            |{"stars": 4.0, "text": "friendly and fast"}""".stripMargin,
        ).zipWithIndex.foreach { case (lines, i) =>
          Files.writeString(new java.io.File(dir, s"reviews$i.json").toPath, lines + "\n")
        }
        def partBytes(args: String*): Array[Byte] = {
          val out = parent.getAbsolutePath + "/scores" + args.length
          val (code, log) = runMain(args ++ Seq(dir.getAbsolutePath, out))
          assert(code === 0, log.takeRight(1500))
          val files = partFiles(out)
          assert(files.length === 1, s"expected one part file in $out")
          Files.readAllBytes(files.head.toPath)
        }
        val default = partBytes()
        assert(new String(default).linesIterator.size === 10)
        assert(java.util.Arrays.equals(partBytes("-Dspark.sql.shuffle.partitions=7"), default))
      }
    }
  }

  test("failed rerun exits 1 and keeps the previous output byte-identical") {
    withTempDir("cli_in") { dir =>
      withTempDir("cli_out") { parent =>
        val input = new java.io.File(dir, "reviews.json").toPath
        Files.writeString(input, "{\"stars\": 5.0, \"text\": \"great food\"}\n")
        val out = parent.getAbsolutePath + "/scores"
        val (code, log) = runMain(Seq(dir.getAbsolutePath, out))
        assert(code === 0, log.takeRight(1500))
        assert(partFiles(out).size === 1, s"expected one part file in $out")
        val golden = Files.readAllBytes(partFiles(out).head.toPath)
        assert(golden.nonEmpty)
        // the rerun into the SAME output fails on a malformed JSON line.
        // With AQE off the whole job runs inside the write command, so the
        // failure comes after the point where an overwrite-mode write has
        // already deleted the old output (with AQE on, the scan's shuffle
        // stage fails before the write command starts).
        Files.writeString(input, "{\"stars\": 1.0, \"text\": \"awful\"}\n{not json\n")
        val (code2, log2) = runMain(Seq(
          "-Dspark.sql.adaptive.enabled=false", dir.getAbsolutePath, out))
        assert(code2 === 1, log2.takeRight(1500))
        assert(partFiles(out).size === 1, "failed rerun deleted the previous output")
        assert(java.util.Arrays.equals(Files.readAllBytes(partFiles(out).head.toPath), golden),
          "failed rerun changed the previous output")
        // and no partial output or staging sibling is left behind
        assert(parent.list().toSeq === Seq("scores"),
          s"leftovers beside the output: ${parent.list().toSeq}")
      }
    }
  }
}
