package graft

import org.apache.spark.sql.functions._

import graft.etl.{Normalize, Sinks}

class NormalizeSpec extends SparkSpec {
  import spark.implicits._

  test("dice normalization: nested first-element projection + coercions") {
    val raw = spark.read.json(Seq(
      """{"id":"e1","name":" Gig ","startDatetime":"2026-09-10T20:00:00Z",
         "artists":[{"name":" DJ A "},{"name":"B"}],
         "venues":[{"name":"Hall","city":"Paris","country":"FR","timezoneName":"Europe/Paris"}],
         "tickets":{"totalCount":"123"},"currency":" EUR ","status":"on sale"}"""
        .replaceAll("\n\\s*", "")).toDS())
    val out = Normalize.diceNormalize(raw, "run-1").collect()(0)
    assert(out.getAs[String]("event_name") == "Gig")
    assert(out.getAs[String]("artist_name") == "DJ A")
    assert(out.getAs[String]("venue_name") == "Hall")
    assert(out.getAs[String]("city") == "Paris")
    assert(out.getAs[Long]("tickets_sold_total") == 123L)
    assert(out.getAs[String]("currency") == "EUR")
    assert(out.getAs[java.time.LocalDateTime]("event_datetime_local")
      == java.time.LocalDateTime.of(2026, 9, 10, 20, 0))
  }

  test("shotgun normalization: fallbacks, stats excl. today-counters, status") {
    val raw = Seq(
      ("Electro Fete @ Le Trianon\nCOMPLET\n", "", "ven. 10 oct. 2025 19:30", "",
        "", "", "1 520 billets\n350 aujourd'hui\n12 345,67 €\n73 %", "u1"),
      ("\n\n", "", "", "", "", "", "", "u2") // nameless → dropped
    ).toDF("card_text", "name_hint", "dt_attr", "dt_label",
      "artist_hint", "venue_hint", "stats_text", "source_url")
    val out = Normalize.shotgunNormalize(raw, "run-1").collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getAs[String]("event_name") == "Electro Fete @ Le Trianon")
    assert(r.getAs[String]("artist_name") == "Electro Fete")
    assert(r.getAs[String]("venue_name") == "Le Trianon")
    assert(r.getAs[String]("status") == "sold out")
    assert(r.getAs[Long]("tickets_sold_total") == 1L) // "1 520" → first digit run "1"
    assert(r.getAs[String]("event_id_provider").startsWith("electro-fete-le-trianon-"))
  }

  test("raw-card dedup by content-prefix hash (shotgun.py:209-231)") {
    val raw = Seq(("card A content", 1), ("card A content", 2), ("card B", 3))
      .toDF("card_text", "idx")
    assert(Normalize.dedupRawCards(raw, "card_text").count() == 2)
  }

  test("sinks: overwrite skip-when-empty, append partitioning, csv render") {
    val tmp = tempDir("graft-sinks").toString
    val df = Seq(("a", java.sql.Timestamp.valueOf("2026-09-10 20:00:00"), "run-1"))
      .toDF("name", "ts", "ingestion_run_id")
    assert(!Sinks.overwriteSnapshot(df.filter(lit(false)), s"$tmp/snap"))
    assert(Sinks.overwriteSnapshot(df, s"$tmp/snap"))
    Sinks.appendHistorized(df, s"$tmp/hist")
    Sinks.appendHistorized(df.withColumn("ingestion_run_id", lit("run-2")), s"$tmp/hist")
    assert(spark.read.parquet(s"$tmp/hist").count() == 2)
    assert(new java.io.File(s"$tmp/hist/ingestion_run_id=run-2").exists())
    Sinks.csvExport(df.withColumn("day", lit("2026-09-10")), s"$tmp/csv", "day")
    val csv = spark.read.option("header", "true").csv(s"$tmp/csv")
    assert(csv.collect()(0).getAs[String]("ts") == "2026-09-10T20:00:00")
  }

  test("sinks: debug artifacts drop counts, plan, and a bounded sample") {
    val tmp = tempDir("graft-debug").toString
    val df = Seq(("E1", 10L), ("E2", 20L), ("E3", 30L)).toDF("name", "sold")
    Sinks.debugArtifacts(df, s"$tmp/dbg", "name", n = 2)
    val counts = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$tmp/dbg/counts.txt"))
    assert(counts.startsWith("rows=3 sample=[E1, E2]"), counts)
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$tmp/dbg/plan.txt")).nonEmpty)
    assert(spark.read.json(s"$tmp/dbg/sample_json").count() == 2)
    // best-effort: a bogus sample column must not throw
    Sinks.debugArtifacts(df, s"$tmp/dbg2", "no_such_col")
  }
}
