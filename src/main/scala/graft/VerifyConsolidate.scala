package graft

import java.time.LocalDateTime

import org.apache.spark.sql.functions._

import graft.etl.{Consolidate, NormalizedEvent}

/** Dev harness: runs J1/J2 on the shared fixture set so the output can
  * be diffed against the reference implementation driven by
  * `scripts/ref_consolidate_fixture.py`. Not part of the driver contract.
  */
object VerifyConsolidate {
  private def ev(provider: String, eid: String, name: String,
      dt: Option[LocalDateTime], artist: Option[String] = None,
      venue: Option[String] = None, city: Option[String] = None,
      tickets: Option[Long]): NormalizedEvent =
    NormalizedEvent(
      provider = provider, event_id_provider = eid, event_name = name,
      city = city, event_datetime_local = dt,
      tickets_sold_total = tickets, artist_name = artist, venue_name = venue,
      scrape_ts_utc = java.sql.Timestamp.valueOf("2026-08-01 06:00:00"),
      ingestion_run_id = "run-0")

  def main(args: Array[String]): Unit = {
    val spark = graft.util.GraftSession.builder("4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val sg = Seq(
      ev("shotgun", "sg1", "Électro Fête @ Le Trianon",
        Some(LocalDateTime.of(2026, 9, 10, 19, 30)),
        artist = Some("Électro Fête"), venue = Some("Le Trianon"), tickets = Some(100L)),
      ev("shotgun", "sg2", "DJ Snake Live", Some(LocalDateTime.of(2026, 9, 10, 20, 0)),
        city = Some("Paris"), tickets = Some(200L)),
      ev("shotgun", "sg3", "Jazz Quartet", Some(LocalDateTime.of(2026, 9, 11, 21, 0)),
        artist = Some("Jazz Quartet"), tickets = Some(50L)),
      ev("shotgun", "sg4", "Rock Night", None, tickets = Some(5L)),
      ev("shotgun", "sg5", "Techno Bunker", Some(LocalDateTime.of(2020, 1, 1, 23, 0)),
        tickets = Some(10L)),
      ev("shotgun", "sg6", "Mega Fest feat Alpha", Some(LocalDateTime.of(2026, 9, 12, 18, 0)),
        artist = Some("Alpha & Beta"), tickets = Some(300L)),
      ev("shotgun", "sg7", "Beta Show Cover", Some(LocalDateTime.of(2026, 9, 12, 20, 0)),
        artist = Some("Beta"), tickets = Some(60L)),
      // conflict pair: dc7 AND dc8 both prefer sg8; sequential greedy
      // hands the loser (dc8) its next-best (sg9)
      ev("shotgun", "sg8", "Gamma Delta Night", Some(LocalDateTime.of(2026, 9, 13, 20, 0)),
        artist = Some("Gamma Delta"), tickets = Some(80L)),
      ev("shotgun", "sg9", "Gamma Solo", Some(LocalDateTime.of(2026, 9, 13, 21, 0)),
        artist = Some("Gamma"), tickets = Some(20L)),
      // empty name: ratio('','')==1.0 must match an empty-named DICE
      ev("shotgun", "sg10", "", Some(LocalDateTime.of(2026, 9, 14, 20, 0)),
        tickets = Some(15L)),
      // cross-midnight: within 30 min but different calendar day -> no J2 match
      ev("shotgun", "sg11", "Midnight Run", Some(LocalDateTime.of(2026, 9, 14, 23, 50)),
        artist = Some("Midnight Run"), tickets = Some(12L))
    ).zipWithIndex.map { case (e, i) => (e, i.toLong) }
      .toDF("e", "ord").select(col("e.*"), col("ord"))

    val dc = Seq(
      ev("dice", "dc1", "Electro Fete", Some(LocalDateTime.of(2026, 9, 10, 19, 35)),
        artist = Some("Electro Fête"), tickets = Some(90L)),
      ev("dice", "dc2", "Alpha", Some(LocalDateTime.of(2026, 9, 12, 18, 0)),
        artist = Some("Alpha"), tickets = Some(80L)),
      ev("dice", "dc3", "Beta Show", Some(LocalDateTime.of(2026, 9, 12, 19, 0)),
        artist = Some("Beta"), tickets = Some(70L)),
      ev("dice", "dc4", "Unknown Artist", Some(LocalDateTime.of(2026, 9, 15, 21, 0)),
        tickets = Some(40L)),
      ev("dice", "dc5", "No Date", None, tickets = Some(30L)),
      ev("dice", "dc6", "DJ Snake", Some(LocalDateTime.of(2026, 9, 10, 20, 10)),
        tickets = Some(55L)),
      ev("dice", "dc7", "Gamma Delta", Some(LocalDateTime.of(2026, 9, 13, 20, 5)),
        tickets = Some(45L)),
      ev("dice", "dc8", "Gamma Delta Show", Some(LocalDateTime.of(2026, 9, 13, 20, 30)),
        tickets = Some(35L)),
      ev("dice", "dc9", "", Some(LocalDateTime.of(2026, 9, 14, 20, 10)),
        tickets = Some(25L)),
      ev("dice", "dc10", "Midnight Run", Some(LocalDateTime.of(2026, 9, 15, 0, 10)),
        tickets = Some(65L)),
      // same canonical key (same norm name + 5-min bucket): later wins
      ev("dice", "dc11", "Dup Key Show", Some(LocalDateTime.of(2026, 9, 16, 21, 1)),
        tickets = Some(41L)),
      ev("dice", "dc12", "Dup Key Show", Some(LocalDateTime.of(2026, 9, 16, 21, 3)),
        tickets = Some(42L))
    ).zipWithIndex.map { case (e, i) => (e, i.toLong) }
      .toDF("e", "ord").select(col("e.*"), col("ord"))

    // J1 = the exact sequential greedy (bit-faithful to the reference,
    // including conflict fallthrough to the next-best unused SG)
    val j1 = Consolidate.consolidateGreedy(sg, dc, "2026-08-12", col("ord"), col("ord"))
    println("== J1 ==")
    j1.toJSON.collect().foreach(println)

    val j2 = Consolidate.mergeSimilarity(sg, dc, col("ord"), col("ord"))
      .orderBy(col("canonical_event_key"))
      .withColumn("event_datetime_local",
        date_format(col("event_datetime_local"), "yyyy-MM-dd HH:mm:ss"))
      .withColumn("scrape_ts_utc", date_format(col("scrape_ts_utc"), "yyyy-MM-dd HH:mm:ss"))
    println("== J2 ==")
    j2.toJSON.collect().foreach(println)
    spark.stop()
  }
}
