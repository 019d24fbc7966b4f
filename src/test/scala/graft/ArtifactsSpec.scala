package graft

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame

import graft.queries.Artifacts
import graft.streaming.Streaming

/** The session-artifact contract: a key's frame is written once, a
  * failed write leaves the key free, keys tell same-named corpora
  * apart, temp dirs replace their predecessor, and a staged stream
  * drains one micro-batch per file. Each test keys its artifacts on a
  * fresh corpus path, so no test sees another's registered keys.
  */
class ArtifactsSpec extends SparkSpec {
  private def ids(df: DataFrame): Seq[Long] =
    df.collect().map(_.getLong(0)).toSeq.sorted

  test("a second artifact call does not build its frame and reads the same rows") {
    val d = tempDir("graft-art-corpus").toString
    var built = 0
    def frame = { built += 1; spark.range(5).toDF("id") }
    val first = ids(Artifacts.artifact(spark, d, "spec_once")(frame))
    val second = ids(Artifacts.artifact(spark, d, "spec_once")(frame))
    assert(built == 1)
    assert(first == (0L until 5L) && second == first)
  }

  test("a frame that throws leaves the key unregistered, so the next call writes") {
    val d = tempDir("graft-art-corpus").toString
    intercept[IllegalStateException] {
      Artifacts.artifact(spark, d, "spec_retry")(throw new IllegalStateException("boom"))
    }
    assert(ids(Artifacts.artifact(spark, d, "spec_retry")(spark.range(3).toDF("id"))) ==
      (0L until 3L))
  }

  test("two corpora with the same basename get different artifact directories") {
    val root = tempDir("graft-art-corpus").toString
    val (a, b) = (s"$root/x/sf0.01", s"$root/y/sf0.01")
    val dirA = Artifacts.sharedInputDir(a, "spec_base")(_ => ())
    val dirB = Artifacts.sharedInputDir(b, "spec_base")(_ => ())
    assert(dirA != dirB)
    assert(Seq(dirA, dirB).forall(_.contains("graft_spec_base_sf0.01_")))
    assert(ids(Artifacts.artifact(spark, a, "spec_rows")(spark.range(2).toDF("id"))) ==
      Seq(0L, 1L))
    assert(ids(Artifacts.artifact(spark, b, "spec_rows")(spark.range(3).toDF("id"))) ==
      Seq(0L, 1L, 2L))
  }

  test("tempQueryDir deletes the previous directory of its prefix") {
    val first = Artifacts.tempQueryDir("graft_spec_tq_")
    Files.write(Paths.get(first, "part"), Array[Byte](1))
    val second = Artifacts.tempQueryDir("graft_spec_tq_")
    assert(!new File(first).exists())
    assert(new File(second).isDirectory && second != first)
  }

  test("a frame staged as 3 files drains in 3 micro-batches") {
    val d = tempDir("graft-art-corpus").toString
    val stream = Artifacts.stagedStream(spark, d, "spec_staged",
      spark.range(30).toDF("id"), 3)
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    Streaming.drain(stream, s"${tempDir("graft-art-ck")}/ck", 2) { (batch, id) =>
      seen += id -> batch.count()
    }
    assert(seen.map(_._1).toSeq == Seq(0L, 1L, 2L))
    assert(seen.map(_._2).sum == 30L)
  }
}
