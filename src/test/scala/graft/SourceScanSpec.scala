package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Pins, by reading `src/main/scala` (no Spark), where a streaming run
  * and a session-config change may be written (one streaming-drain
  * helper, one session config), that each shared query rule is
  * written once per engine, that the PQ operators keep one code
  * path, that the mixture family writes its pack input, loader-shard
  * rule and training-order draws once (with no environment override
  * of the shard count), that the ANN/PQ family writes each recall,
  * released-index, streaming-ingest and layout rule once per engine,
  * that each shared artifact directory key has one writer, and that
  * every definition is reached from main code or the etlbench
  * harness.
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

  /** Every `.scala` file under `dir`, comment-blanked, keyed by its
    * path relative to `dir`.
    */
  private def load(dir: Path): Map[String, String] =
    Files.walk(dir).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .map(f => dir.relativize(f).toString ->
        code(new String(Files.readAllBytes(f), "UTF-8"))).toMap

  private lazy val sources = load(root)

  private def filesWith(token: String): Set[String] =
    sources.collect { case (f, src) if src.contains(token) => f }.toSet

  /** Occurrences of `token` in all of `src/main/scala`. */
  private def count(token: String): Int = sources.values.map(countIn(_, token)).sum

  private def countIn(src: String, token: String): Int =
    Iterator.iterate(src.indexOf(token))(i => src.indexOf(token, i + 1))
      .takeWhile(_ >= 0).size

  private val definition =
    ("(?<!\\w)((?:(?:private|protected)(?:\\[\\w+\\])?\\s+|override\\s+|final\\s+|" +
      "implicit\\s+|lazy\\s+|case\\s+|sealed\\s+|abstract\\s+)*)" +
      "(def|val|var|class|object|trait)\\s+([A-Za-z_]\\w*)").r
  private val topLevel =
    "\\n(?:(?:case|final|sealed|abstract)\\s+)*(?:object|class|trait)\\s".r

  /** The definitions in `main` whose name occurs in `main` and
    * `harness` only at definitions of that name. Skipped: plain
    * `private` members (the compiler's unused check covers them),
    * `override` and `protected` members (hooks a superclass calls,
    * such as Catalyst's `doGenCode`), class parameters, and objects
    * that define `main`, with their `main`. Each is keyed by its file's
    * path under `graft/`, dotted, plus `.name` unless it names the file.
    */
  private def unreached(main: Map[String, String],
      harness: Map[String, String]): Set[String] = {
    case class Def(file: String, name: String, skipped: Boolean)
    val defs = main.toSeq.flatMap { case (file, src) =>
      definition.findAllMatchIn(src).map { m =>
        val (mods, kind, name) = (m.group(1), m.group(2), m.group(3))
        val prev = src.lastIndexWhere(!_.isWhitespace, m.start - 1)
        def objectBody = {
          val rest = src.substring(m.end)
          rest.take(topLevel.findFirstMatchIn(rest).fold(rest.length)(_.start))
        }
        Def(file, name,
          "\\bprivate(?!\\[)".r.findFirstIn(mods).nonEmpty ||
            mods.contains("override") || mods.contains("protected") ||
            (Set("val", "var")(kind) && prev >= 0 && "(,".contains(src(prev))) ||
            (kind == "def" && name == "main") ||
            (kind == "object" && objectBody.contains("def main(")))
      }
    }
    val uses = (main.values ++ harness.values)
      .flatMap("\\w+".r.findAllIn(_)).toSeq.groupMapReduce(identity)(_ => 1)(_ + _)
    val sites = defs.groupMapReduce(_.name)(_ => 1)(_ + _)
    defs.filter(d => !d.skipped && uses(d.name) <= sites(d.name)).map { d =>
      val path = d.file.stripPrefix("graft/").stripSuffix(".scala")
      val key = path.replace('/', '.')
      if (path.split('/').last == d.name) key else s"$key.${d.name}"
    }.toSet
  }

  /** The unreached definitions that stay, each with its reason. */
  private val unreachedAllowed = Map(
    "etl.Pipeline" -> ("the reference's cli.py DAG, pinned by PipelineSpec; " +
      "reaching it from the registry would take a new query"),
    "PlanAudit.eagerAtBuild" ->
      "the eager-at-build query classification QueriesSpec and PlanAuditSpec read")

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

  test("mixture pack input, shard rule and order draws are each written once") {
    val packTokens =
      "size(TA.normWords(col(\"text\"))).cast(\"long\").as(\"n_tokens\")"
    assert(count(packTokens) == 1) // packInput
    assert(count("1, 1), 16, 10)") == 1) // md5Hex1Mod: shard and batch rules
    assert(count("lit(\"graft-order-v1\")") == 1) // orderSeqs
    assert(count("lit(\"graft-order-v2\")") == 1) // epochOccurrences
    assert(count("GRAFT_ORDER_SHARDS") == 0) // the shard count is a constant
  }

  test("ANN/PQ recall, released-index, ingest and layout rules are each written once") {
    val ann = sources("graft/queries/AnnQueries.scala")
    def inAnn(token: String) = countIn(ann, token)
    // Spark
    assert(inAnn("col(\"q_id\") === col(\"a_q\") && col(\"n_id\") === col(\"a_n\")") == 1)
    assert(inAnn("when(col(\"n_truth\") === 0, 0.0)") == 1) // recallAt3
    assert(inAnn("bruteForceDotTopK(") == 1) // exactTop3
    assert(inAnn(".select(col(\"q_id\"), col(\"n_id\"))") == 1)
    assert(count("s\"graft_q232_idx_") == 1) // q232Index
    assert(count("s\"graft_q242_idx_") == 1) // q242Index
    assert(inAnn("Streaming.drain(") == 2) // q135, streamIngest
    assert(inAnn("var_pop(element_at") == 1) // varianceLayout
    assert(inAnn("max(when(col(\"sub\") ===") == 1) // mseSum8
    assert(inAnn("dotFold(v, v) > 0") == 1) // nonZero
    assert(inAnn("col(\"embedding\").cast(\"array<double>\")) > 0") == 0)
    assert(inAnn("Seq[Int] = 0 until 64") == 1) // identityLayout
    assert(inAnn("groupBy(_._1)") == 1) // codebookMap
    assert(inAnn("array_join(transform(col(\"code\")") == 1) // indexRows
    assert(inAnn("Similarity.dotFold(col(\"q_vec\"), col(\"n_vec\"))") == 1) // shortlistIp
    // DuckDB
    assert(inAnn("ELSE 7 - (r % 8) END AS BIGINT) AS sub") == 1) // snakeLayoutSql
    assert(inAnn("round(avg(cd.sv[") == 1) // opqRefineSql
    assert(inAnn("CAST(COUNT(a.n_id) AS BIGINT) AS n_found") == 1) // recallSql
    assert(inAnn("MAX(mse) FILTER") == 1) // mseSum8Sql
  }

  test("the md5 tombstone rule and the budget-bucket pack are each written once") {
    assert(count("=== \"f\"") == 1) // isTombstoned
    assert(count("1, 1) = 'f'") == 1) // duckTombstoned
    assert(count("1, 1) <> 'f'") == 0)
    assert(count("floor(col(\"prev_tokens\") / lit(512))") == 1) // budgetPack
  }

  test("each shared artifact directory key is spelled at one site") {
    // a key spelled at two sites has two writers, and sharedInputDir
    // keeps whichever ran first in the session
    val keys = sources.values.toSeq
      .flatMap("s\"graft_([A-Za-z0-9]+(?:_[A-Za-z0-9]+)*?)_\\$".r.findAllMatchIn(_))
      .map(_.group(1))
    assert(keys.size > 40)
    val repeated = keys.groupMapReduce(identity)(_ => 1)(_ + _).filter(_._2 > 1)
    assert(repeated.isEmpty, s"keys spelled at more than one site: $repeated")
  }

  test("unreached definitions: public and private[x] flagged, harness uses count") {
    val main = Map(
      "graft/a/A.scala" -> """package graft.a
        |object A {
        |  def unused(x: Int): Int = x
        |  private[a] val hidden = 1
        |  private def quiet = used
        |  override def toString = "a"
        |  def used = 3
        |  def viaHarness = 4
        |}
        |case class B(val field: Int, other: Int)
        |object Entry {
        |  def main(args: Array[String]): Unit = ()
        |}""".stripMargin)
    val harness = Map("H.scala" -> "object H { A.viaHarness; B(1, 2) }")
    assert(unreached(main, harness) == Set("a.A.unused", "a.A.hidden"))
  }

  test("every main definition is reached from main code or the etlbench harness") {
    val harness = load(Paths.get("etlbench/harness/src"))
    assert(harness.nonEmpty)
    val flagged = unreached(sources, harness)
    assert(flagged == unreachedAllowed.keySet,
      s"unreached: ${(flagged -- unreachedAllowed.keySet).toSeq.sorted}; " +
        s"allowed but now reached: ${(unreachedAllowed.keySet -- flagged).toSeq.sorted}")
  }
}
