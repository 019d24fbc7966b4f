package graft

import org.apache.spark.sql.functions._

import graft.etl.Pipeline
import graft.etl.expressions.Registry

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  test("custom expressions callable from SQL after registration") {
    Registry.register(spark)
    val r = spark.sql(
      """SELECT strip_accents('Électro Fête') AS a,
                seq_ratio('dj snake', 'dj snoke') AS b,
                date_format(parse_fr_datetime('10 oct. 2025 19:30'),
                            'yyyy-MM-dd HH:mm') AS c""").collect()(0)
    assert(r.getString(0) == "Electro Fete")
    assert(r.getDouble(1) == 0.875)
    assert(r.getString(2) == "2025-10-10 19:30")
    val r2 = spark.sql(
      """SELECT char_shingles('abcd', 3) AS g,
                ngram_jaccard('hello world', 'hello world', 3) AS j,
                size(minhash_bands('some document text', 8)) AS m""").collect()(0)
    assert(r2.getSeq[String](0) == Seq("abc", "bcd"))
    assert(r2.getDouble(1) == 1.0)
    assert(r2.getInt(2) == 16)
    val r3 = spark.sql(
      """SELECT size(word_gram_hashes('a b c d', 2, 16)) AS w,
                simhash16('some tokens here') AS s""").collect()(0)
    assert(r3.getInt(0) == 3)
    assert(r3.getLong(1) != 0L)
    val r4 = spark.sql(
      """SELECT simhash64('some tokens here') AS s64,
                char_bigrams('AbC') AS b,
                cdc_chunks('short', 8, 64) AS c""").collect()(0)
    assert(r4.getLong(0) != 0L)
    assert(r4.getSeq[String](1) == Seq("ab", "bc"))
    assert(r4.getSeq[String](2) == Seq("short")) // below window: one chunk
  }

  test("E1 pipeline: sources → consolidate → three sinks") {
    val tmp = tempDir("graft-pipe").toString
    val ev = graft.util.Tables.events(spark, sf0001)
    def nulls(n: String) = lit(null).cast("string").as(n)
    def mk(t: String, prefix: String) = ev.filter(col("event_type") === t).select(
      lit(prefix).as("provider"),
      concat(lit(prefix), lit("-"), col("event_id")).as("event_id_provider"),
      concat(lit("A"), (lit(100) + col("user_id") % 900).cast("string")).as("event_name"),
      col("ts").as("event_datetime_local"),
      floor(col("value")).cast("long").as("tickets_sold_total"),
      col("event_id").as("__ord"),
      nulls("artist_name"), nulls("venue_name"), nulls("city"))
    val out = Pipeline.run(spark, mk("purchase", "sg"), mk("view", "dc"),
      "2024-01-15", tmp, "run-t")
    assert(out.count() > 0)
    assert(spark.read.parquet(s"$tmp/consolidated").count() == out.count())
    assert(spark.read.parquet(s"$tmp/historized").count() > 0)
    assert(spark.read.json(s"$tmp/preview").count() == 20)
  }

  test("pipeline failure isolation: failing source degrades to empty") {
    val boom = Pipeline.sourceOrEmpty(spark)(
      sys.error("source down"): org.apache.spark.sql.DataFrame)
    assert(boom.count() == 0)
    assert(boom.columns.contains("event_id_provider"))
  }

  test("run() isolates a source that throws at construction time") {
    import spark.implicits._
    val tmp = tempDir("graft-pipe-iso").toString
    val sg = Seq(
      graft.etl.NormalizedEvent("sg", "sg-1", "A100 Live",
        event_datetime_local =
          Some(java.time.LocalDateTime.of(2026, 9, 10, 20, 0)),
        tickets_sold_total = Some(10L)),
      graft.etl.NormalizedEvent("sg", "sg-2", "A200 Live",
        event_datetime_local =
          Some(java.time.LocalDateTime.of(2026, 9, 11, 21, 0)),
        tickets_sold_total = Some(20L))).toDF()
    // the dc argument throws WHEN EVALUATED — by-name params mean the
    // run survives it (a strict signature would throw at the call site)
    val out = Pipeline.run(spark, sg,
      spark.read.parquet(s"$tmp/does-not-exist"), "2024-01-15",
      s"$tmp/out", "run-iso")
    assert(out.count() == 2)
    assert(out.filter(col("dice_tickets_sold").isNotNull).count() == 0)
    assert(spark.read.parquet(s"$tmp/out/historized").count() == 2)
  }
}
