package graft.etl

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Functions._

/** Per-side input to the exact greedy consolidation (one row per dated
  * event; `toks` pre-computed by the codegen'd artistTokens expression).
  */
private[graft] case class GreedySide(
    day: String, ord: Long, id: String, toks: Seq[String],
    name: Option[String], artist: Option[String], venue: Option[String],
    city: Option[String], tickets: Option[Long])

/** Output row of the greedy consolidation — the reference's dynamic
  * dict rows (`consolidate_events.py:121-162`) unified into one schema.
  */
private[graft] case class GreedyOut(
    event_name: String, event_datetime_local: String,
    artist: String, venue: String,
    shotgun_tickets_sold: Option[Long], dice_tickets_sold: Option[Long],
    shotgun_event_id: Option[String], dice_event_id: Option[String])

/** The two consolidation joins (SURVEY.md §2.4) re-expressed as
  * distributed, shuffle-conscious Spark plans.
  *
  * Both take NormalizedEvent-schema DataFrames plus an explicit
  * per-side input-order column: the reference's algorithms are
  * sequential and order-dependent (greedy `used_sg` matching at
  * `consolidate_events.py:91-109`; dict insertion order at
  * `matching.py:48-55`), and a distributed engine must replicate that
  * determinism via explicit rank columns, not row arrival order.
  */
object Consolidate {

  /** J1 — flagship consolidation (`consolidate_events.py:69-169`).
    *
    * Fuzzy full-outer entity resolution on (event day × artist-token
    * overlap), greedy 1:1:
    *   - drop dateless rows on both sides (FL1);
    *   - score = |tokens(dc) ∩ tokens(sg)| for same-day pairs, > 0;
    *   - each DICE takes its max-overlap SG (ties → earliest SG in
    *     input order); each SG used at most once (conflicts → earliest
    *     DICE in input order wins; the loser goes unmatched — the one
    *     documented divergence from the reference's sequential greedy,
    *     which would hand the loser its next-best SG);
    *   - matched ∪ unmatched-SG ∪ unmatched-DICE, column-merged with
    *     SG-priority coalesce;
    *   - drop days < `today` (FL2, parameterized for determinism);
    *   - sort by (day, lower(name)) (O1).
    *
    * Scale shape: token-explode → equi-join on (day, token) → count
    * group-by, i.e. a classic similarity-join prefilter. No cartesian
    * anywhere; AQE handles day/token skew; the two window ranks
    * partition by dc_id / sg_id so they shuffle by key, not globally.
    *
    * PRECONDITION: `event_id_provider` is unique per side (the
    * reference data model's provider key, SURVEY §1.2). Duplicate ids
    * would merge token overlaps across their rows and fan out the
    * matched join. The returned frame holds MEMORY_AND_DISK persists
    * on id-sized intermediates; in a long-lived session the caller
    * should clearCache (or unpersist) between runs.
    */
  def consolidate(sg: DataFrame, dc: DataFrame, today: String,
      sgOrder: Column, dcOrder: Column): DataFrame = {
    val sgP = sg
      .withColumn("sg_ord", sgOrder)
      .filter(col("event_datetime_local").isNotNull)
      .select(
        col("event_id_provider").as("sg_id"),
        dayStr(col("event_datetime_local")).as("day"),
        artistTokens(col("artist_name"), col("event_name")).as("toks"),
        col("event_name").as("sg_name"),
        col("artist_name").as("sg_artist"),
        col("venue_name").as("sg_venue"),
        col("city").as("sg_city"),
        col("tickets_sold_total").as("sg_tickets"),
        col("sg_ord"))
      // four consumers (token explode, score join, matched join, rest
      // anti-join) would each replay the regex-heavy artistTokens
      // projection; the frame is id-sized, so cache it once
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val dcP = dc
      .withColumn("dc_ord", dcOrder)
      .filter(col("event_datetime_local").isNotNull)
      .select(
        col("event_id_provider").as("dc_id"),
        dayStr(col("event_datetime_local")).as("day"),
        artistTokens(col("artist_name"), col("event_name")).as("toks"),
        col("event_name").as("dc_name"),
        col("artist_name").as("dc_artist"),
        col("venue_name").as("dc_venue"),
        col("city").as("dc_city"),
        col("tickets_sold_total").as("dc_tickets"),
        col("dc_ord"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // (day, token) equi-join → overlap counts. Explode is the prefilter:
    // only same-day pairs sharing >= 1 token are ever materialized.
    val sgTok = sgP.select(col("sg_id"), col("day"), explode(col("toks")).as("tok"))
    val dcTok = dcP.select(col("dc_id"), col("day"), explode(col("toks")).as("tok"))
    val overlap = dcTok.join(sgTok, Seq("day", "tok"))
      .groupBy(col("dc_id"), col("sg_id"))
      .agg(count(lit(1)).as("overlap"))

    val scored = overlap
      .join(dcP.select(col("dc_id"), col("dc_ord")), Seq("dc_id"))
      .join(sgP.select(col("sg_id"), col("sg_ord")), Seq("sg_id"))

    // Each DICE's best SG; then each SG granted to its earliest DICE.
    val wDc = Window.partitionBy(col("dc_id"))
      .orderBy(col("overlap").desc, col("sg_ord").asc)
    val wSg = Window.partitionBy(col("sg_id")).orderBy(col("dc_ord").asc)
    // Persisted: three output branches (matched / SG-rest / DICE-rest)
    // consume this two-column frame; without it each branch replays the
    // token join + both window ranks (plan review showed 24 scans / 42
    // exchanges at sf0.001). It is tiny (two ids per matched pair).
    val matchedIds = scored
      .withColumn("rk_dc", row_number().over(wDc)).filter(col("rk_dc") === 1)
      .withColumn("rk_sg", row_number().over(wSg)).filter(col("rk_sg") === 1)
      .select(col("dc_id"), col("sg_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val matched = matchedIds
      .join(sgP, Seq("sg_id"))
      .join(dcP.drop("day"), Seq("dc_id"))
      .select(
        coalesce(col("sg_name"), col("dc_name"), lit("")).as("event_name"),
        col("day").as("event_datetime_local"),
        coalesce(col("sg_artist"), col("dc_artist"), lit("")).as("artist"),
        coalesce(col("sg_venue"), col("dc_venue"), col("sg_city"), col("dc_city"), lit(""))
          .as("venue"),
        col("sg_tickets").as("shotgun_tickets_sold"),
        col("dc_tickets").as("dice_tickets_sold"),
        col("sg_id").as("shotgun_event_id"),
        col("dc_id").as("dice_event_id"))

    val sgRest = sgP.join(matchedIds.select(col("sg_id")), Seq("sg_id"), "left_anti")
      .select(
        coalesce(col("sg_name"), lit("")).as("event_name"),
        col("day").as("event_datetime_local"),
        coalesce(col("sg_artist"), lit("")).as("artist"),
        coalesce(col("sg_venue"), col("sg_city"), lit("")).as("venue"),
        col("sg_tickets").as("shotgun_tickets_sold"),
        col("sg_id").as("shotgun_event_id"))

    val dcRest = dcP.join(matchedIds.select(col("dc_id")), Seq("dc_id"), "left_anti")
      .select(
        coalesce(col("dc_name"), lit("")).as("event_name"),
        col("day").as("event_datetime_local"),
        coalesce(col("dc_artist"), lit("")).as("artist"),
        coalesce(col("dc_venue"), col("dc_city"), lit("")).as("venue"),
        col("dc_tickets").as("dice_tickets_sold"),
        col("dc_id").as("dice_event_id"))

    matched
      .unionByName(sgRest, allowMissingColumns = true)
      .unionByName(dcRest, allowMissingColumns = true)
      .filter(col("event_datetime_local") >= lit(today))
      .orderBy(col("event_datetime_local"), lower(col("event_name")))
  }

  /** Observability for the (day, token) prefilter join (SURVEY §7.4:
    * "salted token join if a token is ultra-frequent"). Per key
    * present on BOTH sides: each side's row count and their product —
    * the pairs the token join materializes for that key. A ubiquitous
    * token that survives the stopword filter at corpus scale surfaces
    * here (cheap: two keyed counts + a count-sized equi-join, no pair
    * explosion) before it stalls a reducer; remedies are extending the
    * stopword list or routing the join through Skew.saltedJoin with
    * the flagged keys hot.
    */
  def hotTokenKeys(sg: DataFrame, dc: DataFrame,
      minPairs: Long = 1000000L): DataFrame = {
    def keyCounts(df: DataFrame, as: String): DataFrame =
      df.filter(col("event_datetime_local").isNotNull)
        .select(dayStr(col("event_datetime_local")).as("day"),
          explode(artistTokens(col("artist_name"), col("event_name"))).as("tok"))
        .groupBy(col("day"), col("tok")).agg(count(lit(1)).as(as))
    keyCounts(sg, "sg_rows").join(keyCounts(dc, "dc_rows"), Seq("day", "tok"))
      .withColumn("pairs", col("sg_rows") * col("dc_rows"))
      .filter(col("pairs") >= minPairs)
  }

  /** J1 exact — bit-faithful sequential greedy (`consolidate_events.py:86-130`).
    *
    * The reference's matching is inherently sequential: DICE events are
    * processed in input order, each taking its strictly-best (first-wins
    * on ties, `overlap > best[1]` at `consolidate_events.py:103`) not-
    * yet-used same-day SG event — so when two DICE events share a best
    * SG, the later one falls through to its NEXT-best unused SG, which
    * the declarative two-window variant ([[consolidate]]) cannot express
    * (its conflict loser goes unmatched; divergence documented there).
    *
    * Candidates never cross a day boundary (`sg_by_day`,
    * `consolidate_events.py:99`), so the sequential fold is EXACTLY
    * day-local: cogroup both sides by day and replay the greedy loop
    * per group. Scale shape: one hash shuffle per side on the day key,
    * then embarrassingly parallel across days; group size is bounded by
    * events-per-day (the same bound the reference's in-memory dict
    * assumes), and token arrays are pre-computed by the codegen'd
    * artistTokens projection before the shuffle. Python `or` semantics
    * (None AND '' fall through, e.g. `sg.event_name or dc.event_name
    * or ''` at `consolidate_events.py:111-119`) are reproduced exactly
    * — the declarative variant's `coalesce` only skips NULLs.
    */
  def consolidateGreedy(sg: DataFrame, dc: DataFrame, today: String,
      sgOrder: Column, dcOrder: Column): DataFrame = {
    val session = sg.sparkSession
    import session.implicits._

    def project(df: DataFrame, order: Column): Dataset[GreedySide] = df
      .withColumn("ord", order)
      .filter(col("event_datetime_local").isNotNull)
      .select(
        dayStr(col("event_datetime_local")).as("day"),
        col("ord").cast("long").as("ord"),
        col("event_id_provider").as("id"),
        artistTokens(col("artist_name"), col("event_name")).as("toks"),
        col("event_name").as("name"),
        col("artist_name").as("artist"),
        col("venue_name").as("venue"),
        col("city").as("city"),
        col("tickets_sold_total").cast("long").as("tickets"))
      .as[GreedySide]

    // Python `or` chain: first non-null AND non-empty string, else "".
    def pyOr(opts: Option[String]*): String =
      opts.flatten.find(_.nonEmpty).getOrElse("")

    val out = project(sg, sgOrder).groupByKey(_.day)
      .cogroup(project(dc, dcOrder).groupByKey(_.day)) { (day, sgIt, dcIt) =>
        val sgs = sgIt.toArray.sortBy(_.ord)
        val dcs = dcIt.toArray.sortBy(_.ord)
        val sgToks = sgs.map(_.toks.toSet)
        val usedSg = new Array[Boolean](sgs.length)
        val usedDc = new Array[Boolean](dcs.length)
        val buf = scala.collection.mutable.ArrayBuffer.empty[GreedyOut]
        var k = 0
        while (k < dcs.length) {
          val dcr = dcs(k)
          val dcT = dcr.toks.toSet
          var bestI = -1
          var bestOv = 0
          var i = 0
          while (i < sgs.length) {
            if (!usedSg(i)) {
              var ov = 0
              val it = sgToks(i).iterator
              while (it.hasNext) if (dcT.contains(it.next())) ov += 1
              // strict > : ties keep the EARLIEST SG in input order
              if (ov > 0 && ov > bestOv) { bestOv = ov; bestI = i }
            }
            i += 1
          }
          if (bestI >= 0) {
            usedSg(bestI) = true
            usedDc(k) = true
            val sgr = sgs(bestI)
            buf += GreedyOut(
              pyOr(sgr.name, dcr.name), day,
              pyOr(sgr.artist, dcr.artist),
              pyOr(sgr.venue, dcr.venue, sgr.city, dcr.city),
              sgr.tickets, dcr.tickets, Some(sgr.id), Some(dcr.id))
          }
          k += 1
        }
        var i = 0
        while (i < sgs.length) { // SG restants (consolidate_events.py:133-145)
          if (!usedSg(i)) {
            val s = sgs(i)
            buf += GreedyOut(pyOr(s.name), day, pyOr(s.artist),
              pyOr(s.venue, s.city), s.tickets, None, Some(s.id), None)
          }
          i += 1
        }
        k = 0
        while (k < dcs.length) { // DICE restants (consolidate_events.py:148-162)
          if (!usedDc(k)) {
            val c = dcs(k)
            buf += GreedyOut(pyOr(c.name), day, pyOr(c.artist),
              pyOr(c.venue, c.city), None, c.tickets, None, Some(c.id))
          }
          k += 1
        }
        buf.iterator
      }

    out.toDF()
      .filter(col("event_datetime_local") >= lit(today))
      .orderBy(col("event_datetime_local"), lower(col("event_name")))
  }

  /** J2 — alternative similarity merge (`matching.py:46-99`).
    *
    * SG rows are keyed by `canonical_key` (last-wins on collisions, as
    * dict assignment); each DICE attaches to the best same-day SG within
    * ±`toleranceMin` whose Ratcliff–Obershelp name similarity >= `tau`
    * (ties → earliest SG); multiple DICE on one SG → last DICE's ticket
    * count wins; unmatched DICE become standalone rows which overwrite
    * same-key SG rows (dict last-wins again).
    *
    * Scale shape: equi-join on the calendar day + residual range /
    * similarity predicate — the reference's O(|SG|·|DICE|) nested loop
    * (`matching.py:65-68`) is replaced by a keyed join; rows with NULL
    * datetimes (which the reference lets match any day) are handled on a
    * separate broadcast-nested-loop branch, which stays tiny because
    * dateless rows are rare by construction.
    *
    * PRECONDITION: `dcOrder` must be row-unique on the DICE side — it
    * is both the processing order AND the row identity for best-match
    * selection and the unmatched anti-join (mirroring the reference,
    * where identity is the physical row). A colliding order value
    * silently merges two DICE rows into one best-match group and drops
    * the loser from the output. Callers here pass a unique event id;
    * do NOT pass a hash of a high-cardinality key at cluster scale
    * (64-bit birthday collisions start around 2^32 rows).
    */
  def mergeSimilarity(sg: DataFrame, dc: DataFrame,
      sgOrder: Column, dcOrder: Column,
      toleranceMin: Int = 30, tau: Double = 0.90): DataFrame = {
    val sgK = sg
      .withColumn("sg_ord", sgOrder)
      .withColumn("ckey", canonicalKey(col("event_name"), col("event_datetime_local")))
    // dict: sg_index[key] = ev → last write wins
    val wKey = Window.partitionBy(col("ckey")).orderBy(col("sg_ord").desc)
    val sgD = sgK.withColumn("rk", row_number().over(wKey)).filter(col("rk") === 1)
      .select(
        col("ckey"), col("sg_ord"),
        col("event_name").as("sg_name"),
        col("event_datetime_local").as("sg_dt"),
        col("tickets_sold_total").as("sg_tickets"),
        col("scrape_ts_utc").as("sg_scrape"),
        col("ingestion_run_id").as("sg_run"))

    val dcP = dc.withColumn("dc_ord", dcOrder)
      .select(
        col("dc_ord"),
        col("event_name").as("dc_name"),
        col("event_datetime_local").as("dc_dt"),
        col("tickets_sold_total").as("dc_tickets"),
        col("scrape_ts_utc").as("dc_scrape"),
        col("ingestion_run_id").as("dc_run"))

    // Normalized names are projected per SIDE, not per pair: normName
    // (NFKD + regexes + token filter) inside the join score would be
    // re-evaluated for every candidate pair (lambdas are exempt from
    // subexpression elimination) — measured 60s vs 3s at sf0.1.
    val sgN = sgD.withColumn("sg_norm", normName(col("sg_name")))
    val dcN = dcP.withColumn("dc_norm", normName(col("dc_name")))

    // Range-banded equi-join (both datetimes present): bucket width =
    // the tolerance, DICE side exploded to adjacent buckets, so every
    // |Δt| <= tol pair co-locates while the shuffle stays keyed — the
    // standard banding rewrite of an interval join (reference runs the
    // O(|SG|·|DICE|) loop instead, matching.py:65-68). Day equality and
    // the exact tolerance remain as residual predicates.
    val tolSec = toleranceMin * 60L
    val sgDated = sgN.filter(col("sg_dt").isNotNull)
      .withColumn("bkt",
        floor(unix_timestamp(col("sg_dt").cast("timestamp")) / tolSec))
    val dcDated = dcN.filter(col("dc_dt").isNotNull)
      .withColumn("bkt0",
        floor(unix_timestamp(col("dc_dt").cast("timestamp")) / tolSec))
      .withColumn("bkt", explode(array(col("bkt0") - 1, col("bkt0"), col("bkt0") + 1)))
      .drop("bkt0")
    val dated = dcDated.join(sgDated, Seq("bkt"))
      .filter(to_date(col("dc_dt")) === to_date(col("sg_dt")) &&
        abs(unix_timestamp(col("sg_dt").cast("timestamp")) -
          unix_timestamp(col("dc_dt").cast("timestamp"))) <= tolSec)
      .drop("bkt")

    // Dateless branch: the reference skips the day/tolerance guards
    // when either side has no datetime, leaving only name similarity.
    // The BROADCAST side is always the dateless slice — small by
    // construction — never the full opposing frame: one dateless DICE
    // row must pair with every SG row, so the bounded thing to ship is
    // the dateless rows, streaming the big side locally.
    val dateless =
      sgN.crossJoin(broadcast(dcN.filter(col("dc_dt").isNull)))
        .unionByName(
          dcN.filter(col("dc_dt").isNotNull)
            .crossJoin(broadcast(sgN.filter(col("sg_dt").isNull))))

    val pairs = dated.unionByName(dateless)
      // cheap necessary length bound first (same math as the
      // SimilarityPrefilter rule), then the exact ratio
      .filter(lit(2.0) * least(length(col("sg_norm")), length(col("dc_norm"))) >=
        lit(tau) * (length(col("sg_norm")) + length(col("dc_norm"))))
      .withColumn("score", seqRatio(col("sg_norm"), col("dc_norm")))
      .filter(col("score") >= tau)
      .drop("sg_norm", "dc_norm")

    val wDc = Window.partitionBy(col("dc_ord"))
      .orderBy(col("score").desc, col("sg_ord").asc)
    // persisted: consumed by both the matched-rollup and the unmatched
    // anti-join (avoids replaying the similarity join per branch)
    val best = pairs.withColumn("rk", row_number().over(wDc)).filter(col("rk") === 1)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // Multiple DICE → one SG key: the LAST processed DICE's tickets stick.
    val wSg = Window.partitionBy(col("ckey")).orderBy(col("dc_ord").desc)
    val sgMatched = best.withColumn("rk2", row_number().over(wSg)).filter(col("rk2") === 1)
      .select(col("ckey"), col("dc_tickets").as("matched_dc_tickets"),
        col("dc_name").as("m_dc_name"), col("dc_dt").as("m_dc_dt"))

    val sgRows = sgD.join(sgMatched, Seq("ckey"), "left")
      .select(
        col("ckey").as("canonical_event_key"),
        // backfill name/date only when SG lacked them (matching.py:84-86)
        when(coalesce(col("sg_name"), lit("")) === "", col("m_dc_name"))
          .otherwise(col("sg_name")).as("event_name"),
        coalesce(col("sg_dt"), col("m_dc_dt")).as("event_datetime_local"),
        lit("Europe/Paris").as("timezone"),
        col("sg_tickets").as("tickets_sold_total_shotgun"),
        col("matched_dc_tickets").as("tickets_sold_total_dice"),
        col("sg_scrape").as("scrape_ts_utc"),
        col("sg_run").as("ingestion_run_id"),
        lit(0).as("src_priority"),
        col("sg_ord").as("ord"))

    val dcUnmatched = dcP.join(best.select(col("dc_ord")), Seq("dc_ord"), "left_anti")
      .select(
        canonicalKey(col("dc_name"), col("dc_dt")).as("canonical_event_key"),
        col("dc_name").as("event_name"),
        col("dc_dt").as("event_datetime_local"),
        lit("Europe/Paris").as("timezone"),
        lit(null).cast("long").as("tickets_sold_total_shotgun"),
        col("dc_tickets").as("tickets_sold_total_dice"),
        col("dc_scrape").as("scrape_ts_utc"),
        col("dc_run").as("ingestion_run_id"),
        lit(1).as("src_priority"),
        col("dc_ord").as("ord"))

    // dict last-wins across both families: DICE-written keys overwrite
    // SG-written ones; among DICE, the later dc_ord wins.
    val wOut = Window.partitionBy(col("canonical_event_key"))
      .orderBy(col("src_priority").desc, col("ord").desc)
    sgRows.unionByName(dcUnmatched)
      .withColumn("rk", row_number().over(wOut)).filter(col("rk") === 1)
      .drop("rk", "src_priority", "ord")
  }
}
