package graft.etl

import java.sql.Timestamp
import java.time.LocalDateTime

/** Canonical record types (SURVEY.md §1).
  *
  * `NormalizedEvent` mirrors `concerts_etl/core/models.py:27-46` — the
  * pipeline's 17-field canonical tuple. `event_datetime_local` is a
  * naive local datetime in the reference (`shotgun.py:58`), mapped to
  * `LocalDateTime` (Spark TimestampNTZType); `scrape_ts_utc` is a UTC
  * instant (Timestamp with session TZ pinned UTC).
  */
case class NormalizedEvent(
    provider: String,
    event_id_provider: String,
    event_name: String,
    city: Option[String] = None,
    country: Option[String] = None,
    event_datetime_local: Option[LocalDateTime] = None,
    timezone: String = "Europe/Paris",
    status: String = "on sale",
    tickets_sold_total: Option[Long] = None,
    gross_total: Option[Double] = None,
    net_total: Option[Double] = None,
    currency: Option[String] = None,
    sell_through_pct: Option[Double] = None,
    scrape_ts_utc: Timestamp = Timestamp.valueOf("2025-01-01 00:00:00"),
    ingestion_run_id: String = "run-0",
    artist_name: Option[String] = None,
    venue_name: Option[String] = None)
