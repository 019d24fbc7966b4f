package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Pins, by reading `src/main/scala` (no Spark), where a streaming run
  * and a session-config change may be written (one streaming-drain
  * helper, one session config), that each shared query rule is
  * written once per engine, and that the PQ operators keep one code
  * path.
  */
class SourceScanSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")

  /** `src` with its `//` and (nested) block comments blanked out;
    * string and character literals are kept.
    */
  private def code(src: String): String = {
    val out = new StringBuilder
    var i = 0
    def at(t: String) = src.startsWith(t, i)
    while (i < src.length) {
      if (at("//")) {
        while (i < src.length && src(i) != '\n') i += 1
      } else if (at("/*")) {
        var depth = 1
        i += 2
        while (depth > 0 && i < src.length) {
          if (at("/*")) { depth += 1; i += 2 }
          else if (at("*/")) { depth -= 1; i += 2 }
          else i += 1
        }
        out += ' '
      } else {
        val end =
          if (at("\"\"\"")) src.indexOf("\"\"\"", i + 3) + 3
          else if (at("\"")) {
            var j = i + 1
            while (j < src.length && src(j) != '"' && src(j) != '\n')
              j += (if (src(j) == '\\') 2 else 1)
            j + 1
          } else if (at("'\\")) src.indexOf('\'', i + 3) + 1
          else if (src(i) == '\'' && i + 2 < src.length && src(i + 2) == '\'') i + 3
          else i + 1
        val stop = math.min(math.max(end, i + 1), src.length)
        out ++= src.substring(i, stop)
        i = stop
      }
    }
    out.toString
  }

  private lazy val sources: Map[String, String] = {
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    files.map(f => root.relativize(f).toString ->
      code(new String(Files.readAllBytes(f), "UTF-8"))).toMap
  }

  private def filesWith(token: String): Set[String] =
    sources.collect { case (f, src) if src.contains(token) => f }.toSet

  /** Occurrences of `token` in all of `src/main/scala`. */
  private def count(token: String): Int =
    sources.values.map { src =>
      Iterator.iterate(src.indexOf(token))(i => src.indexOf(token, i + 1))
        .takeWhile(_ >= 0).size
    }.sum

  test("comments are blanked, string and char literals are kept") {
    val src = "a // writeStream\n/* x /* writeStream */ y */ b \"// kept\" '\"' c"
    assert(code(src) == "a \n  b \"// kept\" '\"' c")
  }

  test("only Streaming.drain runs a stream") {
    assert(sources.size > 20)
    for (t <- Seq("writeStream", "foreachBatch", "processAllAvailable"))
      assert(filesWith(t) == Set("graft/streaming/Streaming.scala"), t)
  }

  test("only the session config and the streaming drain name shuffle partitions") {
    assert(filesWith("\"spark.sql.shuffle.partitions\"") ==
      Set("graft/streaming/Streaming.scala", "graft/util/GraftSession.scala"))
  }

  test("the md5 delta split and the LSH band self-join are each written once per engine") {
    assert(count("isin(\"0\", \"1\", \"2\")") == 1) // Spark: isDeltaDoc
    assert(count("('0', '1', '2')") == 1) // DuckDB: duckDelta, duckBase
    assert(count("('0','1','2')") == 0)
    assert(count("lng a JOIN") == 1) // DuckDB: lshPairsSql
  }

  test("PQ operators: no *Perm layout twins, one ADC LUT sum, one query LUT") {
    val twins = "def \\w+Perm\\(".r
      .findAllIn(sources("graft/ext/Similarity.scala")).toSeq
    assert(twins.isEmpty) // a `perm: Option[Seq[Int]]` parameter instead
    assert(count("element_at(element_at(col(\"lut\")") == 1) // adcSum
    assert(count("pqLutOf(col(\"q_vec\")") == 1) // withLut
  }
}
