package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import Functions._

/** Source-normalization projections (SURVEY.md §2.1-2.2): the scan →
  * NormalizedEvent selects for both providers, re-expressed as single
  * codegen'd projections that pipeline into the scan stage (the
  * reference's per-card loops `shotgun.py:276-460` and per-dict builds
  * `dice.py:112-156` are row-wise maps — exactly a Spark select).
  */
object Normalize {

  /** DICE raw payload → NormalizedEvent (`dice.py:112-156`).
    *
    * Expects the flattened GraphQL shape: columns `id, name, startDatetime,
    * artists array<struct<name:string>>, venues array<struct<name:string,
    * city:string, country:string, timezoneName:string>>, tickets
    * struct<totalCount:string>, currency, status`. First-element
    * projection (`_pick_first`, dice.py:59-63) = element_at(col, 1).
    */
  def diceNormalize(raw: DataFrame, runId: String): DataFrame = {
    val venue = element_at(col("venues"), 1)
    raw.select(
      lit("dice").as("provider"),
      col("id").cast("string").as("event_id_provider"),
      trim(col("name")).as("event_name"),
      trim(venue.getField("city")).as("city"),
      trim(venue.getField("country")).as("country"),
      to_timestamp(col("startDatetime")).cast("timestamp_ntz")
        .as("event_datetime_local"),
      coalesce(venue.getField("timezoneName"), lit("Europe/Paris")).as("timezone"),
      coalesce(col("status"), lit("on sale")).as("status"),
      digitCoerce(col("tickets").getField("totalCount")).as("tickets_sold_total"),
      lit(null).cast("double").as("gross_total"),
      lit(null).cast("double").as("net_total"),
      trim(col("currency")).as("currency"),
      lit(null).cast("double").as("sell_through_pct"),
      current_timestamp().as("scrape_ts_utc"),
      lit(runId).as("ingestion_run_id"),
      trim(element_at(col("artists"), 1).getField("name")).as("artist_name"),
      trim(venue.getField("name")).as("venue_name"))
  }

  /** Shotgun semi-structured card text → NormalizedEvent
    * (`shotgun.py:276-460` S3): ordered-fallback field extraction as
    * coalesce chains over regexp projections.
    *
    * Expects columns: `card_text string, name_hint string, dt_attr
    * string, dt_label string, artist_hint string, venue_hint string,
    * stats_text string, source_url string`.
    */
  def shotgunNormalize(raw: DataFrame, runId: String): DataFrame = {
    val name = coalesce(nullif(trim(col("name_hint")), lit("")),
      nullif(trim(regexp_extract(col("card_text"), "^(.{0,120}?)\\n", 1)), lit("")))
    val dtText = coalesce(nullif(trim(col("dt_attr")), lit("")),
      nullif(trim(col("dt_label")), lit("")),
      nullif(regexp_extract(col("card_text"),
        "(\\d{4}-\\d{2}-\\d{2}T\\d{2}:\\d{2}(?::\\d{2})?)", 1), lit("")))
    val dt = parseFrDatetime(dtText)
    val dtKey = date_format(dt, "yyyy-MM-dd'T'HH:mm")
    val artist = guessArtist(name, col("artist_hint"))
    val venue = guessVenue(name, col("venue_hint"))
    // FL4: today-counters ("aujourd'hui" suffixes) excluded when picking
    // totals (shotgun.py:409-423)
    val statsClean = regexp_replace(col("stats_text"), "(?i)[^\\n]*aujourd[^\\n]*", "")
    raw.select(
        lit("shotgun").as("provider"),
        stableEventId(name, dtKey).as("event_id_provider"),
        coalesce(name, lit("")).as("event_name"),
        lit(null).cast("string").as("city"),
        lit(null).cast("string").as("country"),
        dt.as("event_datetime_local"),
        lit("Europe/Paris").as("timezone"),
        statusOf(col("card_text")).as("status"),
        parseIntFirst(statsClean).as("tickets_sold_total"),
        parseMoney(statsClean).as("gross_total"),
        lit(null).cast("double").as("net_total"),
        lit("EUR").as("currency"),
        (parseIntFirst(regexp_extract(statsClean, "(\\d+)\\s*%", 1)).cast("double"))
          .as("sell_through_pct"),
        current_timestamp().as("scrape_ts_utc"),
        lit(runId).as("ingestion_run_id"),
        artist.as("artist_name"),
        venue.as("venue_name"))
      // FL3: drop nameless cards (shotgun.py:288-289)
      .filter(length(trim(col("event_name"))) > 0)
  }

  /** S2's dedup-by-content-prefix-hash (`shotgun.py:209-231`): drop
    * duplicate raw cards by sha1 of the leading content.
    */
  def dedupRawCards(raw: DataFrame, textCol: String): DataFrame =
    raw.withColumn("card_sha", sha1(substring(col(textCol), 1, 512)))
      .dropDuplicates("card_sha")
      .drop("card_sha")
}
