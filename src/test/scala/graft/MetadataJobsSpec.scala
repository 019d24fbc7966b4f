package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.util.Tables

/** Pins the driver-side metadata work that the session config and the
  * `Tables` schema memo keep out of a query pass: no inference job on
  * a repeat table resolution, re-inference after an in-place rewrite,
  * and no listing job for a many-directory read-back.
  */
class MetadataJobsSpec extends SparkSpec {

  test("a second Tables.part / Tables.events resolution starts no job") {
    Seq[(String, (SparkSession, String) => DataFrame)](
      "part" -> Tables.part, "events" -> Tables.events).foreach { case (name, load) =>
      val first = load(spark, sf0001)
      val (again, jobs) = jobsDuring(load(spark, sf0001))
      assert(jobs.isEmpty, s"$name: repeat resolution started $jobs")
      assert(again.schema == first.schema, name)
      assert(again.count() == first.count(), name)
    }
  }

  test("a memoized read plans the same scan as an inferred one") {
    val path = s"$sf0001/part.parquet"
    Tables.part(spark, sf0001)
    def scan(df: DataFrame): Map[String, String] = {
      val q = df.filter(col("p_size") > 10 && col("p_brand") === "Brand#12")
        .select("p_partkey", "p_name")
      q.collect()
      val scans = q.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec => s.metadata
      }
      assert(scans.size == 1)
      scans.head.filter { case (k, _) =>
        Set("ReadSchema", "PushedFilters", "PartitionFilters")(k) }
    }
    val memoized = scan(Tables.part(spark, sf0001))
    assert(memoized.size == 3)
    assert(memoized == scan(spark.read.parquet(path)))
  }

  test("a table rewritten in place is re-inferred on its next call") {
    val dir = tempDir("graft-memo").toString
    val path = s"$dir/t.parquet"
    spark.range(5).toDF("a").write.mode("overwrite").parquet(path)
    assert(Tables.table(spark, dir, "t").columns.toSeq == Seq("a"))
    assert(jobsDuring(Tables.table(spark, dir, "t"))._2.isEmpty)
    spark.range(5).select(col("id").as("a"), (col("id") * 2).as("b"))
      .write.mode("overwrite").parquet(path)
    val rewritten = Tables.table(spark, dir, "t")
    assert(rewritten.columns.toSeq == Seq("a", "b"))
    assert(rewritten.agg(sum("b")).head().getLong(0) == 20L)
  }

  test("a missing table fails as an unmemoized read does") {
    val dir = tempDir("graft-memo-miss").toString
    val plain = intercept[Exception](spark.read.parquet(s"$dir/none.parquet"))
    val viaTables = intercept[Exception](Tables.table(spark, dir, "none"))
    assert(viaTables.getClass == plain.getClass)
    assert(viaTables.getMessage == plain.getMessage)
  }

  test("a 40-directory partitionBy CSV read-back starts no listing job") {
    val dir = tempDir("graft-listing").toString
    spark.range(400).select(col("id"), (col("id") % 40).as("p"))
      .write.mode("overwrite").option("header", "true").partitionBy("p").csv(dir)
    val (back, jobs) = jobsDuring(spark.read.option("header", "true").csv(dir))
    assert(!jobs.exists(_.startsWith("Listing leaf files")), jobs)
    assert(back.select("p").distinct().count() == 40)
    assert(back.count() == 400)
  }
}
