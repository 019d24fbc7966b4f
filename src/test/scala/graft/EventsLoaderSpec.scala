package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{BINARY, DOUBLE, INT64}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

import graft.util.Tables

/** Every branch of `Tables.events` on the same 1,000 events, once on
  * the inferring first call and once on the memoized call: the sf0.001
  * file (pyarrow `timestamp[us]`, no tz), Spark-written TIMESTAMP_NTZ
  * and TIMESTAMP files, and an `INT64 TIMESTAMP(NANOS)` file.
  */
class EventsLoaderSpec extends SparkSpec {
  private val pinned = Seq("event_id", "ts", "user_id", "event_type", "value", "props")

  /** The sf0.001 events as (event_id, ts micros since epoch, ...). */
  private lazy val expected: Seq[Row] = rows(Tables.events(spark, sf0001))

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Row] =
    df.select(col("event_id"), unix_micros(col("ts")), col("user_id"),
        col("event_type"), col("value"), col("props"))
      .collect().toSeq.sortBy(_.getLong(0))

  private def assertLoads(dir: String): Unit =
    Seq("first", "memoized").foreach { call =>
      val (df, jobs) = jobsDuring(Tables.events(spark, dir))
      if (call == "memoized") assert(jobs.isEmpty, s"$dir: $jobs")
      assert(df.columns.toSeq == pinned, s"$dir $call")
      assert(df.schema("ts").dataType == TimestampType, s"$dir $call")
      assert(rows(df) == expected, s"$dir $call")
    }

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("sf0.001 file: no-tz micros infers as NTZ and loads as UTC instants") {
    val raw = spark.read.parquet(s"$sf0001/events.parquet")
    assert(raw.schema("ts").dataType == TimestampNTZType)
    // the NTZ wall clock read as UTC is the instant: no shift
    val wall = raw.select(col("event_id"), col("ts").cast("string")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val loaded = Tables.events(spark, sf0001)
      .select(col("event_id"), col("ts").cast("string")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(expected.size == 1000 && loaded == wall)
    assertLoads(sf0001)
  }

  test("Spark-written TIMESTAMP_NTZ and TIMESTAMP files load identically") {
    Seq("timestamp_ntz" -> TimestampNTZType, "timestamp" -> TimestampType)
      .foreach { case (sqlType, inferred) =>
        val dir = tempDir(s"graft-events-$sqlType")
        Tables.events(spark, sf0001).withColumn("ts", col("ts").cast(sqlType))
          .write.mode("overwrite").parquet(s"$dir/events.parquet")
        assert(spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType
          == inferred)
        assertLoads(dir)
      }
  }

  test("INT64 TIMESTAMP(NANOS) file: inference rejects it, the loader reads it") {
    val dir = tempDir("graft-events-nanos")
    val file = s"$dir/events.parquet"
    val schema = Types.buildMessage()
      .optional(INT64).named("event_id")
      .optional(INT64).as(LogicalTypeAnnotation.timestampType(false, TimeUnit.NANOS))
      .named("ts")
      .optional(INT64).named("user_id")
      .optional(BINARY).as(LogicalTypeAnnotation.stringType()).named("event_type")
      .optional(DOUBLE).named("value")
      .optional(BINARY).as(LogicalTypeAnnotation.stringType()).named("props")
      .named("events")
    val writer = ExampleParquetWriter.builder(new Path(file)).withType(schema)
      .withConf(spark.sparkContext.hadoopConfiguration).build()
    val groups = new SimpleGroupFactory(schema)
    try expected.foreach { r =>
      val g = groups.newGroup()
      g.add("event_id", r.getLong(0))
      // sub-microsecond nanos must truncate away, not round up
      if (!r.isNullAt(1)) g.add("ts", r.getLong(1) * 1000L + 999L)
      if (!r.isNullAt(2)) g.add("user_id", r.getLong(2))
      if (!r.isNullAt(3)) g.add("event_type", r.getString(3))
      if (!r.isNullAt(4)) g.add("value", r.getDouble(4))
      if (!r.isNullAt(5)) g.add("props", r.getString(5))
      writer.write(g)
    } finally writer.close()
    val rejected = intercept[Exception](spark.read.parquet(file))
    assert(String.valueOf(rejected.getMessage).contains("TIMESTAMP(NANOS"), rejected)
    assertLoads(dir)
  }
}
