package graft.etl

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.functions._

import graft.etl.expressions.{ParseFrDatetime, SequenceRatio, StripAccents}

/** Column-level scalar function library — the engine's equivalent of the
  * reference's module-private helpers (SURVEY.md §2.3, F1-F19). Every
  * function here is either composed Spark builtins (codegen'd, pushdown-
  * friendly) or one of the three custom Catalyst expressions the
  * reference semantics genuinely require (StripAccents, ParseFrDatetime,
  * SequenceRatio).
  */
object Functions {
  private def lift(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    GraftBridge.column(e)
  private def expr(c: Column) = GraftBridge.expression(c)

  // ---- F1: accent strip (consolidate_events.py:18-19) ----
  def stripAccents(c: Column): Column = lift(StripAccents(expr(c)))

  // ---- F10: French datetime parse (shotgun.py:56-84) ----
  def parseFrDatetime(c: Column): Column = lift(ParseFrDatetime(expr(c)))

  // ---- F14: Ratcliff–Obershelp ratio (matching.py:29-30) ----
  def seqRatio(a: Column, b: Column): Column = lift(SequenceRatio(expr(a), expr(b)))

  // ---- F2: basic normalization (consolidate_events.py:21-26) ----
  // null/"" → ""; strip accents, lower, collapse whitespace, trim.
  def normBasic(c: Column): Column =
    trim(regexp_replace(lower(stripAccents(coalesce(c, lit("")))), "\\s+", " "))

  // ---- F3: name normalization (matching.py:11-17) ----
  // lower, strip accents, non-word runs → space, drop {live,concert,tour}.
  private val nameStopwords = Seq("live", "concert", "tour")
  def normName(c: Column): Column = {
    val cleaned = regexp_replace(lower(stripAccents(coalesce(c, lit("")))), "(?U)[\\W_]+", " ")
    array_join(
      filter(split(cleaned, " "),
        t => t =!= "" && !t.isInCollection(nameStopwords)),
      " ")
  }

  // ---- F5: artist tokenization (consolidate_events.py:13-16,40-59) ----
  // 26-entry stopword set from _STOPWORDS.
  private val tokenStopwords = Seq(
    "the", "and", "feat", "ft", "with", "x", "&", "+", "-", "–", "—",
    "le", "la", "les", "l", "de", "du", "des", "et", "au", "aux", "chez",
    "a", "an", "on", "in")

  /** Token set (as a distinct array) for one field. */
  def artistTokensOne(c: Column): Column = {
    val s1 = normBasic(c)
    val s2 = regexp_replace(s1, "\\b(feat|ft|with)\\b", ",")
    val s3 = regexp_replace(s2, "\\s+x\\s+", ",") // normBasic already lowercased
    val s4 = regexp_replace(s3, "( @ | – | — | - )", ",")
    val s5 = translate(s4, "&+/", ",,,")
    val s6 = regexp_replace(s5, "(?U)[^\\w\\s,]", " ")
    array_distinct(
      filter(split(s6, "[,\\s]+"),
        t => length(t) > 2 && !t.isInCollection(tokenStopwords)))
  }

  /** Multi-field union of token sets (reference takes *fields varargs). */
  def artistTokens(cs: Column*): Column =
    array_distinct(flatten(array(cs.map(artistTokensOne): _*)))

  // ---- F4: day string (consolidate_events.py:28-38) ----
  def dayStr(c: Column): Column = date_format(c, "yyyy-MM-dd")

  // ---- F6: money parse (shotgun.py:33-39) ----
  // Strip €/nbsp/narrow-nbsp/space; "." = thousands (dropped), "," = decimal.
  def parseMoney(c: Column): Column = {
    val t = regexp_replace(
      regexp_replace(
        regexp_replace(c, "[€   ]", ""),
        "\\.", ""),
      ",", ".")
    nullif(regexp_extract(t, "-?\\d+(?:\\.\\d+)?", 0), lit("")).cast("double")
  }

  // ---- F7: first int (shotgun.py:41-45) ----
  def parseIntFirst(c: Column): Column =
    nullif(regexp_extract(regexp_replace(c, "[  ]", " "), "\\d+", 0), lit(""))
      .cast("long")

  // ---- F8: slug (shotgun.py:47-49) ----
  // NFKD → ascii-ignore → non-alnum runs → "-" → trim dashes → lower.
  def slug(c: Column): Column = {
    val ascii = regexp_replace(stripAccents(c), "[^\\x00-\\x7F]", "")
    lower(regexp_replace(regexp_replace(ascii, "[^a-zA-Z0-9]+", "-"), "^-+|-+$", ""))
  }

  // ---- F9: stable surrogate id (shotgun.py:51-54) ----
  // slug(name or "event") + "-" + sha1(slug + "|" + dtKey)[:8]
  def stableEventId(name: Column, dtKey: Column): Column = {
    val base = when(coalesce(name, lit("")) === "", lit("event")).otherwise(slug(name))
    val key = concat(base, lit("|"), coalesce(dtKey, lit("")))
    concat(base, lit("-"), substring(sha1(key), 1, 8))
  }

  // ---- F11: artist/venue guess (shotgun.py:86-111) ----
  private val splitRe = "^\\s*(.+?)\\s*(?:@|-|–|—)\\s*(.+?)\\s*$"
  private def nullIfEmpty(c: Column): Column = nullif(trim(coalesce(c, lit(""))), lit(""))
  def guessArtist(name: Column, artistHint: Column): Column =
    regexp_replace(
      coalesce(nullIfEmpty(artistHint),
        nullIfEmpty(regexp_extract(coalesce(name, lit("")), splitRe, 1)),
        nullIfEmpty(name)),
      "\\s+", " ")
  def guessVenue(name: Column, venueHint: Column): Column =
    regexp_replace(
      coalesce(nullIfEmpty(venueHint),
        nullIfEmpty(regexp_extract(coalesce(name, lit("")), splitRe, 2))),
      "\\s+", " ")

  // ---- F12: 5-minute floor (matching.py:19-22) ----
  // Floor minutes to the 5-min bucket, zero sec/µs — equivalent to
  // flooring the epoch to 300 s (session TZ is UTC, so no DST skew).
  def round5(c: Column): Column =
    timestamp_seconds(floor(unix_timestamp(c.cast("timestamp")) / 300L) * 300L)

  // ---- F13: canonical key (matching.py:24-27) ----
  def canonicalKey(name: Column, dt: Column): Column =
    concat(normName(name), lit("|"),
      coalesce(date_format(round5(dt), "yyyy-MM-dd'T'HH:mm"), lit("na")))

  // ---- F15/F16: ISO render (dice.py:65-66) ----
  def isoZ(c: Column): Column = date_format(c, "yyyy-MM-dd'T'HH:mm:ss'Z'")

  // ---- F17: status derivation (shotgun.py:434-436) ----
  def statusOf(c: Column): Column =
    when(upper(coalesce(c, lit(""))).contains("COMPLET"), lit("sold out"))
      .otherwise(lit("on sale"))

  // ---- F18: digit-string coercion (dice.py:126-132) ----
  def digitCoerce(c: Column): Column =
    when(c.rlike("^[0-9]+$"), c.cast("long"))
}
