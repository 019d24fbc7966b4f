package graft

import java.io.ByteArrayOutputStream
import java.nio.file.Files

/** `graft.Dev`'s single-session modes driven on the shared test session
  * at sf0.001: each prints its result line or writes its plan file and
  * leaves the session running.
  */
class DevSpec extends SparkSpec {
  private val query = "q01_pricing_summary"

  private def out(mode: String, args: String*): String = {
    val buf = new ByteArrayOutputStream()
    Console.withOut(buf)(Dev.run(spark, mode, args, Some(sf0001)))
    buf.toString("UTF-8")
  }

  test("time prints one TIMED line for the query") {
    assert(out("time", query).linesIterator.exists(
      _.matches(s"TIMED \\d+\\.\\d\\d s  $query")))
  }

  test("profile prints a line per job and the PROFILE totals") {
    val lines = out("profile", query).linesIterator.toSeq
    val jobs = lines.count(_.startsWith("JOB "))
    assert(jobs > 0, lines.mkString("\n"))
    assert(lines.exists(l => l.startsWith("PROFILE ") && l.contains(s"  $query  jobs=$jobs  ")),
      lines.mkString("\n"))
  }

  test("plan and exec-plan write one plan file per query") {
    val dir = tempDir("graft-dev-plans")
    val formatted = out("plan", dir.toString, "t", query)
    val file = dir.resolve("q01_t.txt")
    assert(formatted.contains(s"PLAN $query -> $file (exchanges="), formatted)
    assert(Files.readString(file).contains("== Physical Plan =="))
    val executed = out("exec-plan", dir.toString, "x", query)
    assert(executed.contains(s"EXECPLAN $query -> ${dir.resolve("q01_x.txt")} " +
      "(codegenSpans="), executed)
    assert(!executed.contains("codegenSpans=0,") && executed.contains("scans=2,") &&
      executed.contains("cacheReads=0)"), executed)
    assert(Files.readString(dir.resolve("q01_x.txt")).contains("FileScan parquet"))
  }

  test("smoke prints the entry row count") {
    assert(out("smoke").linesIterator.exists(_.matches("ENTRY_ROWS=[1-9]\\d*")))
  }

  test("an unknown mode or a missing argument fails with the usage text") {
    Seq(Seq("nope"), Seq("time"), Seq("plan", "out", "s")).foreach { a =>
      val e = intercept[IllegalArgumentException](Dev.run(spark, a.head, a.tail))
      assert(e.getMessage == Dev.usage)
    }
    assert(!spark.sparkContext.isStopped)
  }
}
