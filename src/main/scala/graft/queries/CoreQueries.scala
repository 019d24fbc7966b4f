package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.DecimalType

import graft.etl.{Consolidate, Normalize, Sinks, Functions => F}
import graft.streaming.Streaming
import graft.util.Tables

import Artifacts.{stagedStream, tempQueryDir}

/** Core relational operator queries (SURVEY.md §2), each paired with a
  * DuckDB oracle in [[CoreQueries.oracleSql]].
  *
  * Determinism rules (SURVEY.md §5): no current_date/uuid — "today" and
  * run ids are literals; every query ends in a total ORDER BY mirrored
  * in the oracle; double aggregation goes through DECIMAL(18,2|4)
  * (exact, associative — immune to partial-aggregation order) and is
  * cast back to DOUBLE so schemas agree.
  */
object CoreQueries extends QueryFamily {
  private val D = DecimalType(18, 2)
  private def dec(c: Column): Column = c.cast(D)
  /** Exact money sum: decimal arithmetic inside, double outside. */
  private def dsum(c: Column): Column = sum(dec(c)).cast("double")

  type Q = (SparkSession, String) => DataFrame

  /** Shared SG/DICE provider-frame derivation for the J1 queries
    * (q19 declarative / q43 exact greedy): purchases play Shotgun,
    * views play DICE, with one shared artist token per user.
    */
  private def j1Frames(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val ev = Tables.events(s, d)
    def nulls(n: String) = lit(null).cast("string").as(n)
    val sg = ev.filter(col("event_type") === "purchase").select(
      lit("shotgun").as("provider"),
      concat(lit("sg-"), col("event_id").cast("string")).as("event_id_provider"),
      concat(lit("A"), (lit(100) + col("user_id") % 900).cast("string"),
        lit(" @ V"), (lit(100) + col("event_id") % 37).cast("string")).as("event_name"),
      col("ts").as("event_datetime_local"),
      floor(col("value")).cast("long").as("tickets_sold_total"),
      col("event_id").as("ord"),
      nulls("artist_name"), nulls("venue_name"), nulls("city"))
    val dc = ev.filter(col("event_type") === "view").select(
      lit("dice").as("provider"),
      concat(lit("dc-"), col("event_id").cast("string")).as("event_id_provider"),
      concat(lit("A"), (lit(100) + col("user_id") % 900).cast("string"),
        lit(" Live")).as("event_name"),
      col("ts").as("event_datetime_local"),
      floor(col("value")).cast("long").as("tickets_sold_total"),
      col("event_id").as("ord"),
      nulls("artist_name"), nulls("venue_name"), nulls("city"))
    (sg, dc)
  }

  /** One simulated E1 daily run: the q69 raw generators (DICE
    * GraphQL shape + Shotgun card text, both derived deterministically
    * from `part`) pushed through the real normalize pipeline, with the
    * run-to-run knobs a daily scrape exhibits: `shift` advances the
    * ticket/money counters day-over-day, `extraDice` adds events that
    * exist only in the later run. q69 gates one run; q112 appends two
    * runs through the K2 sink and gates the read-back history.
    * Returned projection excludes wall-clock scrape_ts_utc and
    * sha1-based event_id_provider (gated separately via q15) — see the
    * q69 docstring.
    */
  private[graft] def normalizedRunE1(s: SparkSession, d: String, runId: String,
      shift: Int, extraDice: Boolean): DataFrame = {
    val k = col("p_partkey")
    val p = Tables.part(s, d)
    // extra day-2 dice events: odd keys hitting % 31 === 5 (all dice
    // moduli are odd-reachable, so the generator needs no other change)
    val diceSel = if (extraDice) k % 2 === 0 || k % 31 === 5 else k % 2 === 0
      // DICE raw: the flattened GraphQL shape (dice.py:112-156) —
      // nested arrays of structs, string ticket counts, nullable
      // timezone/status exercising the normalize coalesce chain.
      val diceRaw = p.filter(diceSel).select(
        k.as("id"),
        concat(lit("  Dice Show "), k.cast("string"), lit("  ")).as("name"),
        concat(lit("2024-"), lpad(((k % 12) + 1).cast("string"), 2, "0"), lit("-"),
          lpad(((k % 27) + 1).cast("string"), 2, "0"), lit("T20:30:00Z"))
          .as("startDatetime"),
        array(struct(concat(lit("Artist "), (k % 53).cast("string")).as("name")))
          .as("artists"),
        array(
          struct(concat(lit("Venue "), (k % 29).cast("string")).as("name"),
            lit("Paris").as("city"), lit("FR").as("country"),
            when(k % 5 === 0, lit(null).cast("string"))
              .otherwise(lit("Europe/Brussels")).as("timezoneName")),
          // second venue must be ignored by the first-element pick
          struct(lit("Wrong").as("name"), lit("X").as("city"),
            lit("Y").as("country"), lit("Z").as("timezoneName"))).as("venues"),
        struct(when(k % 11 === 0, lit("n/a"))
          .otherwise(((k + lit(shift)) % 500).cast("string")).as("totalCount"))
          .as("tickets"),
        lit(" EUR ").as("currency"),
        when(k % 6 === 0, lit("sold out")).otherwise(lit(null).cast("string"))
          .as("status"))
      // Shotgun raw: semi-structured card text (shotgun.py:276-460) —
      // three dt fallbacks (attr / French label / ISO inside the card),
      // hint-or-parse artist/venue, money+pct stats with an
      // "aujourd'hui" counter line FL4 must strip.
      val frMonths = array(Seq("janvier", "févr.", "mars", "avr.", "mai", "juin",
        "juil.", "août", "sept.", "oct.", "nov.", "déc.").map(lit): _*)
      val artistPart = concat(lit("Band "), k.cast("string"))
      val venuePart = concat(lit("Salle "), (k % 19).cast("string"))
      val sgName = when(k % 7 === 0, lit(""))
        .otherwise(concat(artistPart, lit(" @ "), venuePart))
      val isoTxt = concat(lit("2024-"), lpad(((k % 12) + 1).cast("string"), 2, "0"),
        lit("-"), lpad(((k % 27) + 1).cast("string"), 2, "0"), lit("T21:00:00"))
      val frTxt = concat(((k % 27) + 1).cast("string"), lit(" "),
        element_at(frMonths, ((k % 12) + 1).cast("int")), lit(" 2024 19:30"))
      // NOTE: only odd-reachable moduli below (frame is k % 2 === 1)
      val sgRaw = p.filter(k % 2 === 1).select(
        concat(sgName, lit("\n"),
          when(k % 9 === 0, lit("COMPLET\n")).otherwise(lit("")),
          lit("Infos: "), isoTxt, lit("\n")).as("card_text"),
        when(k % 3 === 0, lit("")).otherwise(sgName).as("name_hint"),
        when(k % 3 === 0, isoTxt).otherwise(lit("")).as("dt_attr"),
        when(k % 3 === 1, frTxt).otherwise(lit("")).as("dt_label"),
        when(k % 5 === 0, concat(lit("Hint "), artistPart)).otherwise(lit(""))
          .as("artist_hint"),
        when(k % 11 === 0, lit("Grande  Halle")).otherwise(lit("")).as("venue_hint"),
        when(k % 13 === 0,
          concat((k % 30).cast("string"), lit(" aujourd'hui\n"),
            ((k + lit(shift)) % 400).cast("string"), lit(",50 €\n"),
            (k % 100).cast("string"), lit(" %")))
          .otherwise(concat(((k + lit(shift)) % 400).cast("string"),
            lit(",50 €\n"),
            (k % 100).cast("string"), lit(" %"))).as("stats_text"),
        concat(lit("https://sg.example/"), k.cast("string")).as("source_url"))
      Normalize.diceNormalize(diceRaw, runId)
        .unionByName(Normalize.shotgunNormalize(sgRaw, runId))
        .select(col("provider"), col("event_name"), col("city"), col("country"),
          F.isoZ(col("event_datetime_local")).as("event_dt_iso"),
          col("timezone"), col("status"), col("tickets_sold_total"),
          col("gross_total"), col("net_total"), col("currency"),
          col("sell_through_pct"), col("ingestion_run_id"),
          col("artist_name"), col("venue_name"))
  }

  val queries: Map[String, Q] = Map(
    // ---- A1/A2 aggregation with map-side partials (TPC-H Q1 shape) ----
    "q01_pricing_summary" -> ((s, d) => {
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          sum(dec(col("l_extendedprice")) * (lit(1).cast(D) - dec(col("l_discount"))))
            .cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // ---- FL5/S1 filter + projection pushdown to parquet ----
    "q02_filter_project" -> ((s, d) => {
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("2000-01-01").cast("timestamp") &&
          col("l_quantity") < 10)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // ---- J1-physical: broadcast dim join + aggregation. The dim side
    //      carries no hint: customer GROWS with scale factor (unlike
    //      region/nation), so the broadcast decision belongs to the
    //      size threshold / AQE, which still builds a BroadcastHashJoin
    //      whenever the dim actually fits (PlanSpec pins that at test
    //      scale) and degrades to a shuffle join instead of an OOM
    //      when it does not ----
    "q03_join_agg" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
      val l = Tables.lineitem(s, d)
      // pre-aggregate lineitem per order BELOW the join: the join then
      // carries |orders| rows instead of |lineitem|, and the
      // count-distinct expansion disappears (each order is one row, so
      // COUNT(*) == COUNT(DISTINCT o_orderkey)); decimal sums are
      // exact and associative, so revenue is bit-identical
      val lAgg = l.groupBy(col("l_orderkey"))
        .agg(sum(dec(col("l_extendedprice")) * (lit(1).cast(D) - dec(col("l_discount"))))
          .as("order_rev"))
      lAgg.join(o, lAgg("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(
          count(lit(1)).as("n_orders"),
          sum(col("order_rev")).cast("double").as("revenue"))
        .orderBy(col("c_mktsegment"))
    }),

    // ---- A4/O3 window argmax / top-k per group ----
    "q04_window_topk" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 3)
        .orderBy(col("o_custkey"), col("rk"))
    }),

    // ---- U1 unionByName with missing columns ----
    "q05_union_by_name" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val urgent = o.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_totalprice"), lit("urgent").as("bucket"),
          col("o_orderpriority").as("prio"))
      val big = o.filter(col("o_totalprice") > 400000.0)
        .select(col("o_orderkey"), col("o_totalprice"), lit("big").as("bucket"))
      urgent.unionByName(big, allowMissingColumns = true)
        .orderBy(col("bucket"), col("o_orderkey"))
    }),

    // ---- U4 anti join ----
    "q06_anti_join" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),

    // ---- semi join (EXISTS) ----
    "q07_semi_join" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),

    // ---- grouping-set extension: rollup + grouping() ----
    "q08_rollup" -> ((s, d) => {
      Tables.lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"),
          grouping(col("l_returnflag")).cast("long").as("g1"),
          grouping(col("l_linestatus")).cast("long").as("g2"))
        .orderBy(col("g1").asc, col("g2").asc,
          col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }),

    // ---- O1/O2 global sort + limit ----
    "q09_topk_orders" -> ((s, d) => {
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    }),

    // ---- distinct aggregation ----
    "q10_distinct_agg" -> ((s, d) => {
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(countDistinct(col("o_custkey")).as("n_cust"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"),
          count(lit(1)).as("n"))
        .orderBy(col("o_orderpriority"))
    }),

    // ---- F4 day truncation + daily aggregate (batch twin of §2.10) ----
    "q11_events_daily" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
        .orderBy(col("day"), col("event_type"))
    }),

    // ---- F7 first-int extraction from semi-structured props ----
    "q12_props_extract" -> ((s, d) => {
      Tables.events(s, d)
        .select(col("event_id"), F.parseIntFirst(col("props")).as("k"),
          F.statusOf(col("event_type")).as("status"))
        .orderBy(col("event_id"))
    }),

    // ---- F12 5-minute bucketing ----
    "q13_bucket5" -> ((s, d) => {
      Tables.events(s, d)
        .filter(col("event_type") === "click")
        .groupBy(date_format(F.round5(col("ts")), "yyyy-MM-dd HH:mm:ss").as("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("bucket"))
    }),

    // ---- F2/F5 normalization + tokenization over documents ----
    "q14_doc_tokens" -> ((s, d) => {
      // token array projected once (lambda exprs are exempt from CSE)
      Tables.documents(s, d)
        .select(col("doc_id"), F.artistTokensOne(col("text")).as("tok_arr"))
        .select(col("doc_id"),
          array_join(array_sort(col("tok_arr")), " ").as("toks"),
          size(col("tok_arr")).cast("long").as("n_tokens"))
        .orderBy(col("doc_id"))
    }),

    // ---- F8/F9 slug + md5 surrogate key (sha1 absent in DuckDB 1.0) ----
    "q15_slug_id" -> ((s, d) => {
      val slug = F.slug(col("p_name"))
      Tables.part(s, d)
        .select(col("p_partkey"), slug.as("slug"),
          concat(slug, lit("-"),
            substring(md5(concat(slug, lit("|"), col("p_partkey").cast("string"))), 1, 8))
            .as("surrogate_id"))
        .orderBy(col("p_partkey"))
    }),

    // ---- F10 French datetime parse, validated via round-trip ----
    "q16_fr_dates" -> ((s, d) => {
      val frMonths = array(
        Seq("janvier", "févr.", "mars", "avr.", "mai", "juin", "juil.", "août",
          "sept.", "oct.", "nov.", "déc.").map(lit): _*)
      val frStr = concat(
        dayofmonth(col("o_orderdate")).cast("string"), lit(" "),
        element_at(frMonths, month(col("o_orderdate"))), lit(" "),
        year(col("o_orderdate")).cast("string"), lit(" 20:15"))
      Tables.orders(s, d)
        .filter(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey"), frStr.as("fr_text"),
          date_format(F.parseFrDatetime(frStr), "yyyy-MM-dd HH:mm").as("parsed"))
        .orderBy(col("o_orderkey"))
    }),

    // ---- F1 accent strip (parity with DuckDB strip_accents) ----
    "q17_accents" -> ((s, d) => {
      Tables.part(s, d)
        .select(col("p_partkey"),
          F.stripAccents(concat(lit("Fête à l'Élysée — "), col("p_name"))).as("stripped"),
          F.normName(concat(lit("Küsse & Böse "), col("p_name"))).as("normed"))
        .orderBy(col("p_partkey"))
    }),

    // ---- J2-physical: similarity join (char-set Jaccard, equi-prefiltered) ----
    "q18_similar_parts" -> ((s, d) => {
      // blocking key (brand, p_size) bounds the candidate set — the
      // similarity-join prefilter pattern; char sets are projected
      // BELOW the join (computed once per row, not once per pair)
      val p = Tables.part(s, d).select(col("p_partkey"), col("p_brand"), col("p_size"),
        array_distinct(split(col("p_name"), "")).as("chars"))
      val a = p.select(col("p_partkey").as("a_key"), col("p_brand").as("brand"),
        col("p_size").as("psize"), col("chars").as("a_chars"))
      val b = p.select(col("p_partkey").as("b_key"), col("p_brand").as("brand"),
        col("p_size").as("psize"), col("chars").as("b_chars"))
      val inter = size(array_intersect(col("a_chars"), col("b_chars")))
      // |A∪B| = |A|+|B|-|A∩B| avoids building the union array per pair
      val jac = inter.cast("double") /
        (size(col("a_chars")) + size(col("b_chars")) - inter).cast("double")
      a.join(b, Seq("brand", "psize"))
        .filter(col("a_key") < col("b_key"))
        .withColumn("sim", jac)
        .filter(col("sim") >= 0.92)
        .select(col("brand"), col("a_key"), col("b_key"), col("sim"))
        .orderBy(col("brand"), col("a_key"), col("b_key"))
    }),

    // ---- J1 declarative variant: two-window rank consolidation ----
    "q19_consolidate" -> ((s, d) => {
      val (sg, dc) = j1Frames(s, d)
      Consolidate.consolidate(sg, dc, "2024-01-15", col("ord"), col("ord"))
        .orderBy(col("event_datetime_local"), lower(col("event_name")),
          col("shotgun_event_id").asc_nulls_first, col("dice_event_id").asc_nulls_first)
    }),

    // ---- J1 flagship: EXACT sequential greedy (reference-faithful,
    // conflict losers fall through to their next-best unused SG) ----
    "q43_consolidate_exact" -> ((s, d) => {
      val (sg, dc) = j1Frames(s, d)
      Consolidate.consolidateGreedy(sg, dc, "2024-01-15", col("ord"), col("ord"))
        .orderBy(col("event_datetime_local"), lower(col("event_name")),
          col("shotgun_event_id").asc_nulls_first, col("dice_event_id").asc_nulls_first)
    }),

    // ---- J1 hot-key audit: the (day, token) join keys whose pair
    //      fan-out crosses a threshold (SURVEY §7.4). minPairs=2 at
    //      test scale so the gate sees real rows; at corpus scale the
    //      default flags only reducer-stalling keys ----
    "q80_hot_token_audit" -> ((s, d) => {
      val (sg, dc) = j1Frames(s, d)
      Consolidate.hotTokenKeys(sg, dc, minPairs = 2L)
        .orderBy(col("pairs").desc, col("day"), col("tok"))
    }),

    // ---- grouping-set extension: full cube ----
    "q32_cube" -> ((s, d) => {
      Tables.lineitem(s, d)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          dsum(col("l_extendedprice")).as("sum_price"),
          grouping(col("l_returnflag")).cast("long").as("g1"),
          grouping(col("l_linestatus")).cast("long").as("g2"))
        .orderBy(col("g1").asc, col("g2").asc,
          col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }),

    // ---- A5: ordered first-value pick per group ----
    "q33_first_value" -> ((s, d) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(s, d)
        .select(col("o_orderpriority"),
          first(col("o_orderkey")).over(w).as("first_orderkey"))
        .distinct()
        .orderBy(col("o_orderpriority"))
    }),

    // ---- running window aggregate (frame: unbounded preceding) ----
    "q37_running_sum" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, d)
        .filter(col("o_custkey") % 10 === 0)
        .select(col("o_custkey"), col("o_orderkey"),
          sum(dec(col("o_totalprice"))).over(w).cast("double").as("running_total"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // ---- interpolated percentiles ----
    "q38_percentiles" -> ((s, d) => {
      // ONE percentile aggregate with an array of fractions: two
      // separate percentile() calls each build and merge their own
      // per-partition value-count map over the full column (measured
      // ~2× the aggregation time at sf0.1)
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_extendedprice, array(0.5, 0.95))").as("ps"))
        .select(col("l_returnflag"),
          round(element_at(col("ps"), 1), 4).as("median_price"),
          round(element_at(col("ps"), 2), 4).as("p95_price"))
        .orderBy(col("l_returnflag"))
    }),

    // ---- ordered group concatenation (collect_list + sort) ----
    "q39_group_concat" -> ((s, d) => {
      Tables.nation(s, d)
        .groupBy(col("n_regionkey"))
        .agg(array_join(array_sort(collect_list(col("n_name"))), ",").as("nations"))
        .orderBy(col("n_regionkey"))
    }),

    // ---- as-of (point-in-time) join ----
    "q40_asof_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("event_id").as("signup_id"), col("ts").as("signup_ts"))
      graft.etl.AsOf.asofJoin(clicks, signups, "user_id",
          "click_ts", "signup_ts", "signup_id")
        .select(col("user_id"), col("click_id"), col("signup_id"))
        .orderBy(col("user_id"), col("click_id"))
    }),

    // ---- pivot (conditional aggregation across a value domain) ----
    "q41_pivot" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .count()
        .na.fill(0L)
        .orderBy(col("day"))
    }),

    // ---- typed Aggregator (§2.11 extension point) ----
    "q42_typed_agg" -> ((s, d) => {
      val centsMean = udaf(graft.etl.Aggregators.CentsMean)
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(round(centsMean(col("o_totalprice")), 4).as("mean_price"),
          count(lit(1)).as("n"))
        .orderBy(col("o_orderpriority"))
    }),

    // ---- skew-salted join (util.Skew): row-identical to the plain
    //      join — only the shuffle distribution changes, which is the
    //      point: the oracle proves salting is semantics-preserving.
    //      The join key is l_returnflag — 3 values over the whole
    //      lineitem table, i.e. maximal genuine skew — so the hot set
    //      is bounded by the DOMAIN cardinality (<= 3 rows broadcast at
    //      any corpus size), unlike a per-row key where a low threshold
    //      would make the "hot" set scale with the data. hotThreshold
    //      = 1000 marks all three flags hot at every test sf, so the
    //      salted slice carries the whole join and the oracle pins it ----
    "q50_salted_join" -> ((s, d) => {
      import s.implicits._
      val li = Tables.lineitem(s, d).select(col("l_returnflag"),
        col("l_extendedprice"), col("l_discount"))
      val flags = Seq(("R", "returned"), ("A", "accepted"), ("N", "none"))
        .toDF("l_returnflag", "flag_label")
      graft.util.Skew.saltedJoin(li, flags, Seq("l_returnflag"), salts = 8,
        hotThreshold = 1000L)
        .groupBy(col("flag_label"))
        .agg(count(lit(1)).as("n_items"),
          sum(dec(col("l_extendedprice")) * (lit(1).cast(D) - dec(col("l_discount"))))
            .cast("double").as("revenue"))
        .orderBy(col("flag_label"))
    }),

    // ---- tumbling window aggregation via the native window() operator
    //      (the batch twin of the streaming daily snapshot, §2.10) ----
    "q51_tumbling_window" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(window(col("ts"), "6 hours").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
        .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
          col("event_type"), col("n"), col("total_value"))
        .orderBy(col("w_start"), col("event_type"))
    }),

    // ---- time-RANGE window frame (trailing 1h count / average) ----
    "q52_range_frame" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("tsec"))
        .rangeBetween(-3600L, 0L)
      Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"),
          unix_timestamp(col("ts")).as("tsec"), col("value"))
        .withColumn("n_1h", count(lit(1)).over(w).cast("long"))
        .withColumn("sum_1h", sum(dec(col("value"))).over(w))
        .select(col("user_id"), col("event_id"), col("n_1h"),
          round(col("sum_1h").cast("double") / col("n_1h"), 4).as("avg_1h"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // ---- relational set operations (intersect / except) ----
    "q53_set_ops" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val urgent = o.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey")).distinct()
      val big = o.filter(col("o_totalprice") > 300000.0)
        .select(col("o_custkey")).distinct()
      urgent.intersect(big).withColumn("tag", lit("both"))
        .unionByName(urgent.except(big).withColumn("tag", lit("urgent_only")))
        .orderBy(col("tag"), col("o_custkey"))
    }),

    // ---- correlated scalar subquery, Spark-first rewrite (TPC-H Q17
    //      shape): the per-part average is a pre-aggregation joined
    //      back — one shuffle keyed by partkey instead of a per-row
    //      subquery; the oracle keeps the correlated form ----
    "q54_small_qty_rev" -> ((s, d) => {
      val l = Tables.lineitem(s, d)
      val avgQ = l.groupBy(col("l_partkey"))
        .agg((sum(dec(col("l_quantity"))).cast("double") / count(lit(1)))
          .as("avg_qty"))
      l.join(avgQ, Seq("l_partkey"))
        .filter(col("l_quantity") < lit(0.5) * col("avg_qty"))
        .agg((dsum(col("l_extendedprice")) / lit(7.0)).as("avg_yearly"))
    }),

    // ---- JSON extraction (path + parsed-struct forms agree) ----
    "q55_json_extract" -> ((s, d) => {
      val schema = org.apache.spark.sql.types.StructType.fromDDL("k BIGINT")
      Tables.events(s, d)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k_path"),
          from_json(col("props"), schema).getField("k").as("k_struct"))
        .orderBy(col("event_id"))
    }),

    // ---- lag/lead window navigation (inter-event gaps) ----
    "q56_lag_lead" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id"), col("ts"),
          unix_timestamp(col("ts")).as("tsec"))
        .select(col("user_id"), col("event_id"),
          lag(col("event_id"), 1).over(w).as("prev_id"),
          lead(col("event_id"), 1).over(w).as("next_id"),
          (col("tsec") - lag(col("tsec"), 1).over(w)).as("gap_s"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // ---- quantile binning: ntile quartiles + percent_rank (the
    //      class-balancing / quality-binning shape for training data) ----
    "q57_ntile" -> ((s, d) => {
      val w = Window.partitionBy(col("lang")).orderBy(col("n_chars"), col("doc_id"))
      Tables.documents(s, d)
        .select(col("lang"), col("doc_id"), col("n_chars"),
          ntile(4).over(w).cast("long").as("quartile"),
          round(percent_rank().over(w), 6).as("pr"))
        .orderBy(col("lang"), col("doc_id"))
    }),

    // ---- explicit GROUPING SETS (asymmetric combos rollup/cube can't) ----
    "q58_grouping_sets" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq.empty),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"),
          grouping(col("l_returnflag")).cast("long").as("g1"),
          grouping(col("l_linestatus")).cast("long").as("g2"))
        .orderBy(col("g1"), col("g2"),
          col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }),

    // ---- data profiling (ANALYZE-style statistics): one aggregation
    //      pass per column — null counts, exact distincts, min/max.
    //      Numeric min/max go through DECIMAL(18,2) so the string
    //      rendering is fixed-format on any engine ----
    "q65_profile" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      def prof(name: String, c: org.apache.spark.sql.Column) =
        li.agg(
          count(lit(1)).as("n_rows"),
          sum(when(c.isNull, 1L).otherwise(0L)).as("n_nulls"),
          countDistinct(c).as("n_distinct"),
          min(c).cast("string").as("min_val"),
          max(c).cast("string").as("max_val"))
          .select(lit(name).as("col_name"), col("n_rows"), col("n_nulls"),
            col("n_distinct"), col("min_val"), col("max_val"))
      prof("l_returnflag", col("l_returnflag"))
        .unionByName(prof("l_linestatus", col("l_linestatus")))
        .unionByName(prof("l_orderkey", col("l_orderkey")))
        .unionByName(prof("l_quantity", col("l_quantity").cast("decimal(18,2)")))
        .orderBy(col("col_name"))
    }),

    // ---- time-series gap fill: sparse daily counts densified over the
    //      full observed span (type spine × date sequence, missing days
    //      zero-filled). The span is a one-row broadcast; the spine is
    //      |types| × |days| — bounded, never row-scaled ----
    "q66_gap_fill" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val daily = ev.groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val span = ev.agg(min(to_date(col("ts"))).as("d0"),
        max(to_date(col("ts"))).as("d1"))
      val spine = ev.select(col("event_type")).distinct()
        .crossJoin(broadcast(span))
        .select(col("event_type"),
          explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
      spine.join(daily, Seq("event_type", "day"), "left")
        .select(col("event_type"), col("day"),
          coalesce(col("n"), lit(0L)).as("n"))
        .orderBy(col("event_type"), col("day"))
    }),

    // ---- conversion funnel: per signup user, first purchase AT OR
    //      AFTER signup and a 7-day conversion flag. The time predicate
    //      lives in the join condition (a post-join filter would drop
    //      users whose only purchases precede signup) ----
    "q67_funnel" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val su = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("ts")).as("signup_ts"))
      val pu = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
      su.join(pu,
          col("user_id") === col("p_user") && col("p_ts") >= col("signup_ts"),
          "left")
        .groupBy(col("user_id"), col("signup_ts"))
        .agg(min(col("p_ts")).as("p_ts"))
        .select(col("user_id"),
          date_format(col("signup_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("signup_ts"),
          date_format(col("p_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("first_purchase_ts"),
          (col("p_ts").isNotNull &&
            col("p_ts") <= col("signup_ts") + expr("INTERVAL 7 DAYS"))
            .cast("long").as("converted_7d"))
        .orderBy(col("user_id"))
    }),

    // ---- cohort retention: signup-week cohorts × week offsets, with
    //      distinct active users per cell. Both engines truncate weeks
    //      to ISO Monday, keeping the cohort keys portable ----
    "q68_cohort_retention" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val first = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(to_date(col("ts"))).as("signup_day"))
      val act = ev.select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      first.join(act, Seq("user_id"))
        .filter(col("day") >= col("signup_day"))
        .select(col("user_id"),
          date_trunc("week", col("signup_day")).cast("date").as("cohort_week"),
          floor(datediff(col("day"), col("signup_day")) / 7).cast("long")
            .as("week_offset"))
        .groupBy(col("cohort_week"), col("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_active"))
        .orderBy(col("cohort_week"), col("week_offset"))
    }),

    // ---- J2-shape: interval (range-predicate) join ----
    "q20_interval_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val a = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("event_id").as("signup_id"), col("ts").as("a_ts"))
      val b = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("b_ts"))
      a.join(b, Seq("user_id"))
        .filter(col("b_ts") >= col("a_ts") &&
          col("b_ts") <= col("a_ts") + expr("INTERVAL 30 MINUTES"))
        .select(col("user_id"), col("signup_id"), col("purchase_id"))
        .orderBy(col("user_id"), col("signup_id"), col("purchase_id"))
    }),

    // ---- E1 end-to-end: raw-shaped provider payloads through the real
    //      normalize projections (S3/P1) — puts F6 parseMoney, F11
    //      artist/venue guess, F15 ISO-Z parse, F16 isoZ render, F18
    //      digitCoerce, FL3 nameless-drop and FL4 today-counter-strip
    //      under the DuckDB hash gate (VERDICT r4 item 2). Raw frames
    //      are derived deterministically from `part`; the oracle
    //      recomputes the expected NormalizedEvent rows directly.
    //      Excluded from the compared projection: scrape_ts_utc (wall
    //      clock) and event_id_provider (sha1-based for shotgun; sha1
    //      is absent in DuckDB 1.0 — slug+surrogate-id composition is
    //      gated separately via q15) ----
    "q69_normalize_e2e" -> ((s, d) =>
      normalizedRunE1(s, d, "run-q69", shift = 0, extraDice = false)
        .orderBy(col("provider"), col("event_name"))),

    // ---- E2 capstone: the reference's real production loop — daily
    //      cron re-run + append historization (.github/workflows/
    //      daily.yml:4-6 cron, storage/google_sheets.py:20-79 append-
    //      only upsert_rows over NormalizedEvent). Two simulated run
    //      dates flow through the SAME normalize pipeline q69 gates,
    //      with day-over-day drift a daily scrape actually sees:
    //      ticket/money counters advance (shift=17) and new events
    //      appear (extraDice). Both snapshots append through the K2
    //      sink partitioned by ingestion_run_id; the compared frame is
    //      the read-back two-snapshot HISTORY, so the gate covers
    //      normalize x 2 + append + partitioned read-back in one row ----
    "q112_daily_history" -> ((s, d) => {
      val dir = tempQueryDir("graft_q112_hist_")
      Sinks.appendHistorized(
        normalizedRunE1(s, d, "run-2024-06-01", shift = 0, extraDice = false), dir)
      Sinks.appendHistorized(
        normalizedRunE1(s, d, "run-2024-06-02", shift = 17, extraDice = true), dir)
      s.read.parquet(dir)
        .select(col("provider"), col("event_name"), col("city"), col("country"),
          col("event_dt_iso"), col("timezone"), col("status"),
          col("tickets_sold_total"), col("gross_total"), col("net_total"),
          col("currency"), col("sell_through_pct"), col("ingestion_run_id"),
          col("artist_name"), col("venue_name"))
        .orderBy(col("ingestion_run_id"), col("provider"), col("event_name"))
    }),

    // ---- K2 sink read-back under the gate (VERDICT r4 item 4): write
    //      through Sinks.appendHistorized (append mode, partitioned by
    //      ingestion_run_id) into a fresh temp dir, then read the
    //      partitioned parquet back and compare against an oracle that
    //      never saw the round-trip. A fresh dir per invocation keeps
    //      append-mode runs independent; ts is rendered to string
    //      before the write so the compare covers the stored bytes,
    //      not a reader-side timestamp coercion ----
    "q70_sink_readback" -> ((s, d) => {
      val dir = tempQueryDir("graft_q70_sink_")
      val ev = Tables.events(s, d).filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_str"),
          col("value"),
          concat(lit("run-"), (col("event_id") % 3).cast("string"))
            .as("ingestion_run_id"))
      Sinks.appendHistorized(ev, dir)
      s.read.parquet(dir)
        .select(col("event_id"), col("user_id"), col("ts_str"), col("value"),
          col("ingestion_run_id"))
        .orderBy(col("event_id"), col("user_id"), col("ts_str"))
    }),

    // ---- S2 raw-card dedup under the gate: dropDuplicates by sha1 of
    //      the leading 512 chars (shotgun.py:209-231). Which row of a
    //      prefix-group survives is arbitrary under distributed
    //      dropDuplicates, so the compared projection is prefix-derived
    //      only (deterministic for every survivor choice); sha1 is
    //      injective here, so groups == distinct 512-prefixes, which
    //      DuckDB can enumerate without sha1 ----
    "q71_dedup_cards" -> ((s, d) => {
      Normalize.dedupRawCards(Tables.documents(s, d).select(col("text")), "text")
        .select(substring(col("text"), 1, 512).as("p512"))
        .select(substring(col("p512"), 1, 40).as("prefix40"), col("p512"))
        .orderBy(col("p512"))
        .select(col("prefix40"))
    }),

    // ---- K3 CSV export read-back under the gate: header + ISO-rendered
    //      timestamps + per-day partition files, written to a fresh temp
    //      dir and read back as CSV (storage/google_sheets.py:81-100).
    //      The export window is bounded to one quarter — the reference
    //      exports a recent daily snapshot, and an UNBOUNDED per-day
    //      partitionBy is the classic small-files trap (at sf0.1 it
    //      wrote 1712 directories for 3000 rows and dominated the whole
    //      bench); repartition(day) gives each day exactly one writer.
    //      All data columns come back as strings; casts restore the
    //      comparable types, and the partition column is re-cast to
    //      string in case partition type inference reads it as DATE ----
    "q72_csv_readback" -> ((s, d) => {
      val dir = tempQueryDir("graft_q72_csv_")
      val src = Tables.orders(s, d)
        .filter(col("o_orderkey") % 10 === 0 &&
          col("o_orderdate") >= lit("1997-01-01") &&
          col("o_orderdate") < lit("1997-04-01"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"),
          col("o_orderdate").cast("timestamp").as("o_ts"),
          col("o_orderpriority"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
      Sinks.csvExport(src.repartition(col("day")), dir, "day")
      s.read.option("header", "true").csv(dir)
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_custkey").cast("long").as("o_custkey"),
          col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"),
          col("o_ts"), col("o_orderpriority"),
          col("day").cast("string").as("day"))
        .orderBy(col("o_orderkey"))
    }),

    // ---- K4 JSON preview read-back under the gate: first-20 rows by a
    //      deterministic order, written as JSON to a fresh temp dir and
    //      read back (cli.py:44-55). The date is ISO-rendered before
    //      the write so the round trip is string-exact; numerics come
    //      back typed from Spark's JSON schema inference but are cast
    //      explicitly anyway ----
    "q75_json_readback" -> ((s, d) => {
      val dir = tempQueryDir("graft_q75_json_")
      val src = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"))
      Sinks.jsonPreview(src, dir, Seq("o_orderkey"))
      s.read.json(dir)
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_custkey").cast("long").as("o_custkey"),
          col("o_totalprice").cast("double").as("o_totalprice"),
          col("o_date"))
        .orderBy(col("o_orderkey"))
    }),

    // ---- §2.10 streaming under the gate: the events table replayed as
    //      a file stream (one file per microbatch) through
    //      Streaming.dailyAggregation and the K1 Complete-mode snapshot
    //      sink (reference cadence: daily.yml:4-6 cron re-run writing a
    //      fresh daily snapshot, storage/google_sheets.py:20-79). The
    //      final snapshot parquet is read back and compared against an
    //      oracle that never saw the stream — the same read-back
    //      discipline as q70 ----
    "q78_stream_daily" -> ((s, d) => {
      val dir = tempQueryDir("graft_q78_stream_")
      val out = s"$dir/out"; val ck = s"$dir/ck"
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      // 4 micro-batches: the aggregation state is genuinely carried
      // across batches
      val agg = Streaming.dailyAggregation(stagedStream(s, d, "q78_in", ev, 4))
      Streaming.drain(agg, ck, 4, OutputMode.Complete)(
        Streaming.writeBatch(_, _, out, append = false))
      s.read.parquet(out)
        .select(to_date(col("day_start")).as("day"), col("event_type"),
          col("n"), col("total_value"))
        .orderBy(col("day"), col("event_type"))
    }),

    // ---- §2.10 stream-stream interval join under the gate: both sides
    //      of the q20 batch twin replayed as file streams through
    //      intervalJoinStream and the K2 APPEND foreachBatch sink
    //      (batch_id-partitioned dirs), read back minus the partition
    //      column. The replay watermark spans the whole event history:
    //      the input files are split randomly, so a production-sized
    //      watermark would evict state whose matches arrive in a later
    //      file — bounded-state behavior is spec'd separately
    //      (StreamingSpec), correctness-vs-batch is gated here. The
    //      replay is bounded to a deterministic user slice: the
    //      full-size batch semantics are already gated by q20, and an
    //      unbounded replay spends its whole budget on state-store
    //      writes (12s vs 3s at sf0.1) ----
    "q83_stream_interval_join" -> ((s, d) => {
      val dir = tempQueryDir("graft_q83_ssjoin_")
      val out = s"$dir/out"; val ck = s"$dir/ck"
      val ev = Tables.events(s, d)
        .filter(col("user_id") % 2 === 0)
        .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
      val stream = stagedStream(s, d, "q83_in", ev, 4)
      val joined = Streaming.intervalJoinStream(
        stream.filter(col("event_type") === "signup"),
        stream.filter(col("event_type") === "purchase"),
        tolMin = 30, watermark = "3650 days")
      Streaming.drain(joined, ck, 4)(
        Streaming.writeBatch(_, _, out, append = true))
      s.read.parquet(out)
        .select(col("user_id"), col("signup_id"), col("purchase_id"))
        .orderBy(col("user_id"), col("signup_id"), col("purchase_id"))
    }),

    // ---- §2.10 streaming exact dedup under the gate: the documents
    //      table replayed as a 4-file stream through dedupStream
    //      (dropDuplicatesWithinWatermark) and the K2 append sink.
    //      WHICH row survives per content key depends on arrival order
    //      inside a microbatch (not deterministic), so the gated
    //      surface is the distinct content-hash SET — exactly the
    //      dedup property: one emission per distinct content, dups in
    //      later batches dropped by cross-batch state. The replay
    //      watermark spans the synthetic ts range so no state expires
    //      mid-replay (q83's discipline); bounded-state expiry is
    //      spec'd separately (StreamingSpec) ----
    "q106_stream_dedup" -> ((s, d) => {
      val dir = tempQueryDir("graft_q106_sdedup_")
      val out = s"$dir/out"; val ck = s"$dir/ck"
      // q21's normalized content key — the planted duplicates differ in
      // raw text, so keying on it makes the stream actually drop rows
      val docs = Tables.documents(s, d)
        .select(col("doc_id"),
          lower(substring(col("text"), 1, 40)).as("norm_key"),
          expr("timestampadd(SECOND, doc_id, timestamp'2024-01-01 00:00:00')")
            .as("ts"))
      val deduped = Streaming.dedupStream(stagedStream(s, d, "q106_in", docs, 4),
        "norm_key", "ts", watermark = "3650 days")
      Streaming.drain(deduped, ck, 4)(
        Streaming.writeBatch(_, _, out, append = true))
      // no distinct() here: a double emission must FAIL the row-count
      // compare against the oracle's DISTINCT — that is the dedup gate
      s.read.parquet(out)
        .select(col("content_hash"))
        .orderBy(col("content_hash"))
    }),

    // ---- K5 debug artifacts under the gate (shotgun.py:261-268,
    //      465-474): write the forensics bundle for an ordered frame,
    //      then read the bounded JSON sample back. counts.txt/plan.txt
    //      stay best-effort text; the JSON sample is the
    //      machine-readable artifact, so it carries the oracle. The
    //      source is orderBy'd, making the limit-10 sample
    //      deterministic (TakeOrderedAndProject) ----
    "q79_debug_artifacts" -> ((s, d) => {
      val dir = tempQueryDir("graft_q79_debug_")
      val src = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"))
        .orderBy(col("o_orderkey"))
      Sinks.debugArtifacts(src, dir, "o_orderkey", n = 10)
      s.read.json(s"$dir/sample_json")
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_custkey").cast("long").as("o_custkey"),
          col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }))

  /** 26-word stopword list rendered for DuckDB lambdas. */
  private val stopList =
    """['the','and','feat','ft','with','x','&','+','-','–','—','le','la','les','l','de','du','des','et','au','aux','chez','a','an','on','in']"""

  /** The q69/q112 oracle template — the DuckDB re-derivation of one
    * normalizedRunE1 run, with the same knobs: `shift` advances the
    * ticket/money counters, `extraDice` widens the dice key set to the
    * day-2 extras. Kept as ONE template so the Spark generator and the
    * oracle cannot desynchronize between the single-run (q69) and
    * two-run-history (q112) consumers.
    */
  private def e1RunSql(runId: String, shift: Int, extraDice: Boolean): String = {
    val diceWhere =
      if (extraDice) "(p_partkey % 2 = 0 OR p_partkey % 31 = 5)"
      else "p_partkey % 2 = 0"
    s"""SELECT 'dice' AS provider,
             'Dice Show ' || CAST(p_partkey AS VARCHAR) AS event_name,
             'Paris' AS city, 'FR' AS country,
             '2024-' || lpad(CAST(p_partkey % 12 + 1 AS VARCHAR), 2, '0') || '-' ||
               lpad(CAST(p_partkey % 27 + 1 AS VARCHAR), 2, '0') || 'T20:30:00Z'
               AS event_dt_iso,
             CASE WHEN p_partkey % 5 = 0 THEN 'Europe/Paris'
                  ELSE 'Europe/Brussels' END AS timezone,
             CASE WHEN p_partkey % 6 = 0 THEN 'sold out' ELSE 'on sale' END AS status,
             CASE WHEN p_partkey % 11 = 0 THEN NULL
                  ELSE (p_partkey + $shift) % 500 END AS tickets_sold_total,
             CAST(NULL AS DOUBLE) AS gross_total,
             CAST(NULL AS DOUBLE) AS net_total,
             'EUR' AS currency,
             CAST(NULL AS DOUBLE) AS sell_through_pct,
             '$runId' AS ingestion_run_id,
             'Artist ' || CAST(p_partkey % 53 AS VARCHAR) AS artist_name,
             'Venue ' || CAST(p_partkey % 29 AS VARCHAR) AS venue_name
           FROM part WHERE $diceWhere
           UNION ALL
           SELECT 'shotgun' AS provider,
             'Band ' || CAST(p_partkey AS VARCHAR) || ' @ Salle ' ||
               CAST(p_partkey % 19 AS VARCHAR) AS event_name,
             CAST(NULL AS VARCHAR) AS city, CAST(NULL AS VARCHAR) AS country,
             '2024-' || lpad(CAST(p_partkey % 12 + 1 AS VARCHAR), 2, '0') || '-' ||
               lpad(CAST(p_partkey % 27 + 1 AS VARCHAR), 2, '0') ||
               CASE WHEN p_partkey % 3 = 1 THEN 'T19:30:00Z'
                    ELSE 'T21:00:00Z' END AS event_dt_iso,
             'Europe/Paris' AS timezone,
             CASE WHEN p_partkey % 9 = 0 THEN 'sold out' ELSE 'on sale' END AS status,
             (p_partkey + $shift) % 400 AS tickets_sold_total,
             CAST((p_partkey + $shift) % 400 AS DOUBLE) + 0.5 AS gross_total,
             CAST(NULL AS DOUBLE) AS net_total,
             'EUR' AS currency,
             CAST(p_partkey % 100 AS DOUBLE) AS sell_through_pct,
             '$runId' AS ingestion_run_id,
             CASE WHEN p_partkey % 5 = 0
                  THEN 'Hint Band ' || CAST(p_partkey AS VARCHAR)
                  ELSE 'Band ' || CAST(p_partkey AS VARCHAR) END AS artist_name,
             CASE WHEN p_partkey % 11 = 0 THEN 'Grande Halle'
                  ELSE 'Salle ' || CAST(p_partkey % 19 AS VARCHAR) END AS venue_name
           FROM part WHERE p_partkey % 2 = 1 AND p_partkey % 7 <> 0"""
  }

  val oracleSql: Map[String, String] = Map(
    "q65_profile" ->
      """WITH p AS (
           SELECT 'l_returnflag' AS col_name, COUNT(*) AS n_rows,
             SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS n_nulls,
             COUNT(DISTINCT l_returnflag) AS n_distinct,
             CAST(MIN(l_returnflag) AS VARCHAR) AS min_val,
             CAST(MAX(l_returnflag) AS VARCHAR) AS max_val
           FROM lineitem
           UNION ALL
           SELECT 'l_linestatus', COUNT(*),
             SUM(CASE WHEN l_linestatus IS NULL THEN 1 ELSE 0 END),
             COUNT(DISTINCT l_linestatus),
             CAST(MIN(l_linestatus) AS VARCHAR), CAST(MAX(l_linestatus) AS VARCHAR)
           FROM lineitem
           UNION ALL
           SELECT 'l_orderkey', COUNT(*),
             SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END),
             COUNT(DISTINCT l_orderkey),
             CAST(MIN(l_orderkey) AS VARCHAR), CAST(MAX(l_orderkey) AS VARCHAR)
           FROM lineitem
           UNION ALL
           SELECT 'l_quantity', COUNT(*),
             SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END),
             COUNT(DISTINCT CAST(l_quantity AS DECIMAL(18,2))),
             CAST(MIN(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR),
             CAST(MAX(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR)
           FROM lineitem)
         SELECT col_name, CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_nulls AS BIGINT) AS n_nulls,
           CAST(n_distinct AS BIGINT) AS n_distinct, min_val, max_val
         FROM p ORDER BY col_name""",
    "q66_gap_fill" ->
      """WITH daily AS (SELECT event_type,
             CAST(date_trunc('day', ts) AS DATE) AS day, COUNT(*) AS n
           FROM events GROUP BY 1, 2),
         span AS (SELECT CAST(MIN(date_trunc('day', ts)) AS DATE) AS d0,
             CAST(MAX(date_trunc('day', ts)) AS DATE) AS d1 FROM events),
         spine AS (SELECT et.event_type,
             CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
               CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
           FROM (SELECT DISTINCT event_type FROM events) et, span)
         SELECT s.event_type, s.day, CAST(COALESCE(d.n, 0) AS BIGINT) AS n
         FROM spine s LEFT JOIN daily d USING (event_type, day)
         ORDER BY event_type, day""",
    "q68_cohort_retention" ->
      """WITH first AS (SELECT user_id,
             CAST(MIN(date_trunc('day', ts)) AS DATE) AS signup_day
           FROM events WHERE event_type = 'signup' GROUP BY 1),
         act AS (SELECT DISTINCT user_id,
             CAST(date_trunc('day', ts) AS DATE) AS day FROM events)
         SELECT CAST(date_trunc('week', signup_day) AS DATE) AS cohort_week,
           CAST((day - signup_day) // 7 AS BIGINT) AS week_offset,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active
         FROM first JOIN act USING (user_id)
         WHERE day >= signup_day
         GROUP BY 1, 2 ORDER BY cohort_week, week_offset""",
    "q67_funnel" ->
      """WITH su AS (SELECT user_id, MIN(ts) AS signup_ts FROM events
           WHERE event_type = 'signup' GROUP BY 1),
         fp AS (SELECT s.user_id, s.signup_ts, MIN(p.ts) AS p_ts
           FROM su s LEFT JOIN events p ON p.user_id = s.user_id
             AND p.event_type = 'purchase' AND p.ts >= s.signup_ts
           GROUP BY 1, 2)
         SELECT user_id,
           strftime(signup_ts, '%Y-%m-%d %H:%M:%S.%f') AS signup_ts,
           strftime(p_ts, '%Y-%m-%d %H:%M:%S.%f') AS first_purchase_ts,
           CAST(CASE WHEN p_ts IS NOT NULL
             AND p_ts <= signup_ts + INTERVAL 7 DAY THEN 1 ELSE 0 END AS BIGINT)
             AS converted_7d
         FROM fp ORDER BY user_id""",
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
         COUNT(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""",
    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '2000-01-01' AND l_quantity < 10
         ORDER BY l_orderkey, l_linenumber""",
    "q03_join_agg" ->
      """SELECT c_mktsegment, COUNT(DISTINCT o_orderkey) AS n_orders,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
         FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "q04_window_topk" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
         SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
         FROM orders) t WHERE rk <= 3 ORDER BY o_custkey, rk""",
    "q05_union_by_name" ->
      """SELECT * FROM (
         SELECT o_orderkey, o_totalprice, 'urgent' AS bucket, o_orderpriority AS prio
         FROM orders WHERE o_orderpriority = '1-URGENT'
         UNION ALL BY NAME
         SELECT o_orderkey, o_totalprice, 'big' AS bucket
         FROM orders WHERE o_totalprice > 400000.0) t
         ORDER BY bucket, o_orderkey""",
    "q06_anti_join" ->
      """SELECT c_custkey, c_name FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
         ORDER BY c_custkey""",
    "q07_semi_join" ->
      """SELECT c_custkey, c_name FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o
           WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
         ORDER BY c_custkey""",
    "q08_rollup" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         CAST(GROUPING(l_returnflag) AS BIGINT) AS g1,
         CAST(GROUPING(l_linestatus) AS BIGINT) AS g2
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
         ORDER BY g1, g2, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",
    "q09_topk_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""",
    "q10_distinct_agg" ->
      """SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS n_cust,
         MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price, COUNT(*) AS n
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q11_events_daily" ->
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
         COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM events GROUP BY 1, 2 ORDER BY day, event_type""",
    "q12_props_extract" ->
      """SELECT event_id,
         CAST(NULLIF(regexp_extract(props, '[0-9]+', 0), '') AS BIGINT) AS k,
         CASE WHEN contains(upper(event_type), 'COMPLET') THEN 'sold out'
              ELSE 'on sale' END AS status
         FROM events ORDER BY event_id""",
    "q13_bucket5" ->
      """SELECT strftime(make_timestamp(CAST(floor(epoch(ts)/300)*300*1000000 AS BIGINT)),
                '%Y-%m-%d %H:%M:%S') AS bucket, COUNT(*) AS n
         FROM events WHERE event_type = 'click' GROUP BY 1 ORDER BY bucket""",
    "q14_doc_tokens" -> s"""
         WITH s AS (SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(
             replace(replace(replace(
               regexp_replace(regexp_replace(
                 trim(regexp_replace(lower(strip_accents(text)), '\\s+', ' ', 'g')),
                 '\\b(feat|ft|with)\\b', ',', 'g'),
                 '\\s+x\\s+', ',', 'g'),
               '&', ','), '+', ','), '/', ','),
             '( @ | – | — | - )', ',', 'g'),
             '[^\\w\\s,]', ' ', 'g'), '', '') AS cleaned
           FROM documents),
         t AS (SELECT doc_id,
           list_distinct(list_filter(string_split_regex(cleaned, '[,\\s]+'),
             x -> len(x) > 2 AND NOT list_contains($stopList, x))) AS toks
           FROM s)
         SELECT doc_id, array_to_string(list_sort(toks), ' ') AS toks,
           CAST(len(toks) AS BIGINT) AS n_tokens
         FROM t ORDER BY doc_id""",
    "q15_slug_id" ->
      """WITH s AS (SELECT p_partkey,
           lower(trim(regexp_replace(strip_accents(p_name), '[^a-zA-Z0-9]+', '-', 'g'), '-')) AS slug
         FROM part)
         SELECT p_partkey, slug,
           slug || '-' || substr(md5(slug || '|' || CAST(p_partkey AS VARCHAR)), 1, 8) AS surrogate_id
         FROM s ORDER BY p_partkey""",
    "q16_fr_dates" ->
      """WITH m AS (SELECT ['janvier','févr.','mars','avr.','mai','juin','juil.','août','sept.','oct.','nov.','déc.'] AS names)
         SELECT o_orderkey,
           CAST(day(o_orderdate) AS VARCHAR) || ' ' || names[month(o_orderdate)] || ' ' ||
             CAST(year(o_orderdate) AS VARCHAR) || ' 20:15' AS fr_text,
           strftime(o_orderdate + INTERVAL 20 HOURS + INTERVAL 15 MINUTES, '%Y-%m-%d %H:%M') AS parsed
         FROM orders, m WHERE o_orderkey % 7 = 0 ORDER BY o_orderkey""",
    "q17_accents" ->
      """SELECT p_partkey,
         strip_accents('Fête à l''Élysée — ' || p_name) AS stripped,
         array_to_string(list_filter(
           string_split_regex(regexp_replace(lower(strip_accents('Küsse & Böse ' || p_name)), '[^a-zA-Z0-9]+', ' ', 'g'), ' '),
           x -> x <> '' AND NOT list_contains(['live','concert','tour'], x)), ' ') AS normed
         FROM part ORDER BY p_partkey""",
    "q18_similar_parts" ->
      """SELECT a.p_brand AS brand, a.p_partkey AS a_key, b.p_partkey AS b_key,
         jaccard(a.p_name, b.p_name) AS sim
         FROM part a JOIN part b ON a.p_brand = b.p_brand AND a.p_size = b.p_size
           AND a.p_partkey < b.p_partkey
         WHERE jaccard(a.p_name, b.p_name) >= 0.92
         ORDER BY brand, a_key, b_key""",
    "q19_consolidate" ->
      """WITH sgp AS (
           SELECT 'sg-' || CAST(event_id AS VARCHAR) AS sg_id, event_id AS sg_ord,
             strftime(ts, '%Y-%m-%d') AS day,
             'A' || CAST(100 + user_id % 900 AS VARCHAR) || ' @ V' ||
               CAST(100 + event_id % 37 AS VARCHAR) AS sg_name,
             CAST(floor(value) AS BIGINT) AS sg_tickets,
             'a' || CAST(100 + user_id % 900 AS VARCHAR) AS utok
           FROM events WHERE event_type = 'purchase'),
         dcp AS (
           SELECT 'dc-' || CAST(event_id AS VARCHAR) AS dc_id, event_id AS dc_ord,
             strftime(ts, '%Y-%m-%d') AS day,
             'A' || CAST(100 + user_id % 900 AS VARCHAR) || ' Live' AS dc_name,
             CAST(floor(value) AS BIGINT) AS dc_tickets,
             'a' || CAST(100 + user_id % 900 AS VARCHAR) AS utok
           FROM events WHERE event_type = 'view'),
         ov AS (
           SELECT d.dc_id, s.sg_id, COUNT(*) AS overlap,
             ANY_VALUE(d.dc_ord) AS dc_ord, ANY_VALUE(s.sg_ord) AS sg_ord
           FROM dcp d JOIN sgp s ON d.day = s.day AND d.utok = s.utok
           GROUP BY d.dc_id, s.sg_id),
         best AS (SELECT * FROM ov
           QUALIFY ROW_NUMBER() OVER (PARTITION BY dc_id ORDER BY overlap DESC, sg_ord) = 1),
         matched AS (SELECT * FROM best
           QUALIFY ROW_NUMBER() OVER (PARTITION BY sg_id ORDER BY dc_ord) = 1),
         m AS (SELECT s.sg_name AS event_name, s.day AS event_datetime_local,
             '' AS artist, '' AS venue, s.sg_tickets AS shotgun_tickets_sold,
             d.dc_tickets AS dice_tickets_sold, s.sg_id AS shotgun_event_id,
             d.dc_id AS dice_event_id
           FROM matched x JOIN sgp s ON x.sg_id = s.sg_id JOIN dcp d ON x.dc_id = d.dc_id),
         sg_rest AS (SELECT sg_name AS event_name, day AS event_datetime_local,
             '' AS artist, '' AS venue, sg_tickets AS shotgun_tickets_sold,
             CAST(NULL AS BIGINT) AS dice_tickets_sold, sg_id AS shotgun_event_id,
             CAST(NULL AS VARCHAR) AS dice_event_id
           FROM sgp WHERE sg_id NOT IN (SELECT sg_id FROM matched)),
         dc_rest AS (SELECT dc_name AS event_name, day AS event_datetime_local,
             '' AS artist, '' AS venue, CAST(NULL AS BIGINT) AS shotgun_tickets_sold,
             dc_tickets AS dice_tickets_sold, CAST(NULL AS VARCHAR) AS shotgun_event_id,
             dc_id AS dice_event_id
           FROM dcp WHERE dc_id NOT IN (SELECT dc_id FROM matched))
         SELECT * FROM (SELECT * FROM m UNION ALL SELECT * FROM sg_rest UNION ALL SELECT * FROM dc_rest) u
         WHERE event_datetime_local >= '2024-01-15'
         ORDER BY event_datetime_local, lower(event_name),
           shotgun_event_id NULLS FIRST, dice_event_id NULLS FIRST""",
    // Sequential greedy: with this derivation every DICE token set is
    // {aXXX, live} and every SG's is {aXXX, vYYY}, so overlap is 0/1 and
    // the greedy "each DICE takes the earliest unused same-day same-token
    // SG" reduces to POSITIONAL pairing within (day, utok) — expressible
    // with two ROW_NUMBERs. (The general conflict-fallthrough case is
    // covered by the reference-diff fixture harness, not SQL.)
    "q43_consolidate_exact" ->
      """WITH sgp AS (
           SELECT 'sg-' || CAST(event_id AS VARCHAR) AS sg_id, event_id AS sg_ord,
             strftime(ts, '%Y-%m-%d') AS day,
             'A' || CAST(100 + user_id % 900 AS VARCHAR) || ' @ V' ||
               CAST(100 + event_id % 37 AS VARCHAR) AS sg_name,
             CAST(floor(value) AS BIGINT) AS sg_tickets,
             'a' || CAST(100 + user_id % 900 AS VARCHAR) AS utok
           FROM events WHERE event_type = 'purchase'),
         dcp AS (
           SELECT 'dc-' || CAST(event_id AS VARCHAR) AS dc_id, event_id AS dc_ord,
             strftime(ts, '%Y-%m-%d') AS day,
             'A' || CAST(100 + user_id % 900 AS VARCHAR) || ' Live' AS dc_name,
             CAST(floor(value) AS BIGINT) AS dc_tickets,
             'a' || CAST(100 + user_id % 900 AS VARCHAR) AS utok
           FROM events WHERE event_type = 'view'),
         sgr AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY day, utok ORDER BY sg_ord) AS rn
           FROM sgp),
         dcr AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY day, utok ORDER BY dc_ord) AS rn
           FROM dcp),
         matched AS (
           SELECT d.dc_id, d.dc_tickets, s.sg_id, s.sg_name, s.sg_tickets, d.day
           FROM dcr d JOIN sgr s ON d.day = s.day AND d.utok = s.utok AND d.rn = s.rn),
         m AS (SELECT sg_name AS event_name, day AS event_datetime_local,
             '' AS artist, '' AS venue, sg_tickets AS shotgun_tickets_sold,
             dc_tickets AS dice_tickets_sold, sg_id AS shotgun_event_id,
             dc_id AS dice_event_id
           FROM matched),
         sg_rest AS (SELECT sg_name AS event_name, day AS event_datetime_local,
             '' AS artist, '' AS venue, sg_tickets AS shotgun_tickets_sold,
             CAST(NULL AS BIGINT) AS dice_tickets_sold, sg_id AS shotgun_event_id,
             CAST(NULL AS VARCHAR) AS dice_event_id
           FROM sgp WHERE sg_id NOT IN (SELECT sg_id FROM matched)),
         dc_rest AS (SELECT dc_name AS event_name, day AS event_datetime_local,
             '' AS artist, '' AS venue, CAST(NULL AS BIGINT) AS shotgun_tickets_sold,
             dc_tickets AS dice_tickets_sold, CAST(NULL AS VARCHAR) AS shotgun_event_id,
             dc_id AS dice_event_id
           FROM dcp WHERE dc_id NOT IN (SELECT dc_id FROM matched))
         SELECT * FROM (SELECT * FROM m UNION ALL SELECT * FROM sg_rest
           UNION ALL SELECT * FROM dc_rest) u
         WHERE event_datetime_local >= '2024-01-15'
         ORDER BY event_datetime_local, lower(event_name),
           shotgun_event_id NULLS FIRST, dice_event_id NULLS FIRST""",
    "q32_cube" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
         CAST(GROUPING(l_returnflag) AS BIGINT) AS g1,
         CAST(GROUPING(l_linestatus) AS BIGINT) AS g2
         FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
         ORDER BY g1, g2, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",
    "q33_first_value" ->
      """SELECT DISTINCT o_orderpriority,
         FIRST_VALUE(o_orderkey) OVER (PARTITION BY o_orderpriority
           ORDER BY o_orderdate, o_orderkey) AS first_orderkey
         FROM orders ORDER BY o_orderpriority""",
    "q37_running_sum" ->
      """SELECT o_custkey, o_orderkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
         FROM orders WHERE o_custkey % 10 = 0
         ORDER BY o_custkey, o_orderkey""",
    "q38_percentiles" ->
      """SELECT l_returnflag,
         round(quantile_cont(l_extendedprice, 0.5), 4) AS median_price,
         round(quantile_cont(l_extendedprice, 0.95), 4) AS p95_price
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q39_group_concat" ->
      """SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS nations
         FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""",
    "q40_asof_join" ->
      """WITH c AS (SELECT user_id, event_id AS click_id, ts AS click_ts
           FROM events WHERE event_type = 'click'),
         s AS (SELECT user_id, event_id AS signup_id, ts AS signup_ts
           FROM events WHERE event_type = 'signup'),
         j AS (SELECT c.user_id, c.click_id, s.signup_id,
           ROW_NUMBER() OVER (PARTITION BY c.click_id
             ORDER BY s.signup_ts DESC NULLS LAST, s.signup_id DESC NULLS LAST) AS rk
           FROM c LEFT JOIN s ON c.user_id = s.user_id AND s.signup_ts <= c.click_ts)
         SELECT user_id, click_id, signup_id FROM j WHERE rk = 1
         ORDER BY user_id, click_id""",
    "q41_pivot" ->
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         COUNT(*) FILTER (event_type = 'click') AS click,
         COUNT(*) FILTER (event_type = 'error') AS error,
         COUNT(*) FILTER (event_type = 'purchase') AS purchase,
         COUNT(*) FILTER (event_type = 'signup') AS signup,
         COUNT(*) FILTER (event_type = 'view') AS view
         FROM events GROUP BY 1 ORDER BY day""",
    "q42_typed_agg" ->
      """SELECT o_orderpriority,
         round(CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
           / 100.0 / COUNT(*), 4) AS mean_price,
         COUNT(*) AS n
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q50_salted_join" ->
      """SELECT flag_label, COUNT(*) AS n_items,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
         FROM lineitem
         JOIN (VALUES ('R', 'returned'), ('A', 'accepted'), ('N', 'none'))
           f(l_returnflag, flag_label) USING (l_returnflag)
         GROUP BY flag_label ORDER BY flag_label""",
    "q51_tumbling_window" ->
      """SELECT strftime(make_timestamp(
           CAST(floor(epoch(ts) / 21600) * 21600 * 1000000 AS BIGINT)),
           '%Y-%m-%d %H:%M:%S') AS w_start,
         event_type, COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM events GROUP BY 1, 2 ORDER BY w_start, event_type""",
    "q52_range_frame" ->
      """WITH p AS (SELECT user_id, event_id,
           CAST(floor(epoch(ts)) AS BIGINT) AS tsec, value
           FROM events WHERE event_type = 'purchase'),
         w AS (SELECT user_id, event_id,
           COUNT(*) OVER win AS n_1h,
           SUM(CAST(value AS DECIMAL(18,2))) OVER win AS sum_1h
           FROM p WINDOW win AS (PARTITION BY user_id ORDER BY tsec
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW))
         SELECT user_id, event_id, CAST(n_1h AS BIGINT) AS n_1h,
           round(CAST(sum_1h AS DOUBLE) / n_1h, 4) AS avg_1h
         FROM w ORDER BY user_id, event_id""",
    "q53_set_ops" ->
      """SELECT o_custkey, 'both' AS tag FROM (
           SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
           INTERSECT
           SELECT o_custkey FROM orders WHERE o_totalprice > 300000.0)
         UNION ALL
         SELECT o_custkey, 'urgent_only' AS tag FROM (
           SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
           EXCEPT
           SELECT o_custkey FROM orders WHERE o_totalprice > 300000.0)
         ORDER BY tag, o_custkey""",
    "q54_small_qty_rev" ->
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
           AS avg_yearly
         FROM lineitem l1
         WHERE l_quantity < 0.5 * (
           SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
           FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey)""",
    "q55_json_extract" ->
      """SELECT event_id,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_path,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_struct
         FROM events ORDER BY event_id""",
    "q56_lag_lead" ->
      """WITH c AS (SELECT user_id, event_id, ts,
           CAST(floor(epoch(ts)) AS BIGINT) AS tsec
           FROM events WHERE event_type = 'click')
         SELECT user_id, event_id,
           lag(event_id) OVER win AS prev_id,
           lead(event_id) OVER win AS next_id,
           tsec - lag(tsec) OVER win AS gap_s
         FROM c WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)
         ORDER BY user_id, event_id""",
    "q57_ntile" ->
      """SELECT lang, doc_id, n_chars,
         CAST(ntile(4) OVER win AS BIGINT) AS quartile,
         round(percent_rank() OVER win, 6) AS pr
         FROM documents WINDOW win AS (PARTITION BY lang ORDER BY n_chars, doc_id)
         ORDER BY lang, doc_id""",
    "q58_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         CAST(GROUPING(l_returnflag) AS BIGINT) AS g1,
         CAST(GROUPING(l_linestatus) AS BIGINT) AS g2
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
         ORDER BY g1, g2, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",
    "q20_interval_join" ->
      """SELECT a.user_id, a.event_id AS signup_id, b.event_id AS purchase_id
         FROM events a JOIN events b ON a.user_id = b.user_id
         WHERE a.event_type = 'signup' AND b.event_type = 'purchase'
           AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTES
         ORDER BY a.user_id, signup_id, purchase_id""",
    // The oracle recomputes the expected NormalizedEvent rows from the
    // same deterministic raw derivation: datetime strings are rebuilt
    // literally (the engine's parse→render must be the identity on
    // them), FL3 is the %7 exclusion, FL4 means tickets come from the
    // money line, never the stripped "aujourd'hui" counter. One
    // parameterized template (e1RunSql) serves q69 (one run) and q112
    // (two-run history), mirroring normalizedRunE1's knobs exactly.
    "q69_normalize_e2e" ->
      s"""SELECT * FROM (${e1RunSql("run-q69", 0, extraDice = false)}) u
         ORDER BY provider, event_name""",
    "q112_daily_history" ->
      s"""SELECT * FROM (
           ${e1RunSql("run-2024-06-01", 0, extraDice = false)}
           UNION ALL
           ${e1RunSql("run-2024-06-02", 17, extraDice = true)}) u
         ORDER BY ingestion_run_id, provider, event_name""",
    "q70_sink_readback" ->
      """SELECT event_id, user_id,
         strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str, value,
         'run-' || CAST(event_id % 3 AS VARCHAR) AS ingestion_run_id
         FROM events WHERE event_type = 'purchase'
         ORDER BY event_id, user_id, ts_str""",
    "q71_dedup_cards" ->
      """SELECT substr(p512, 1, 40) AS prefix40
         FROM (SELECT DISTINCT substr(text, 1, 512) AS p512 FROM documents)
         ORDER BY p512""",
    "q72_csv_readback" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
         strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m-%dT%H:%M:%S') AS o_ts,
         o_orderpriority, strftime(o_orderdate, '%Y-%m-%d') AS day
         FROM orders WHERE o_orderkey % 10 = 0
           AND o_orderdate >= TIMESTAMP '1997-01-01'
           AND o_orderdate < TIMESTAMP '1997-04-01'
         ORDER BY o_orderkey""",
    "q75_json_readback" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
         strftime(o_orderdate, '%Y-%m-%d') AS o_date
         FROM orders ORDER BY o_orderkey LIMIT 20""",
    "q78_stream_daily" ->
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
         COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM events GROUP BY 1, 2 ORDER BY day, event_type""",
    "q79_debug_artifacts" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
         FROM orders ORDER BY o_orderkey LIMIT 10""",
    "q106_stream_dedup" ->
      """SELECT DISTINCT md5(lower(substr(text, 1, 40))) AS content_hash
         FROM documents ORDER BY content_hash""",
    "q83_stream_interval_join" ->
      """SELECT a.user_id, a.event_id AS signup_id, b.event_id AS purchase_id
         FROM events a JOIN events b ON a.user_id = b.user_id
         WHERE a.event_type = 'signup' AND b.event_type = 'purchase'
           AND a.user_id % 2 = 0 AND b.user_id % 2 = 0
           AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTES
         ORDER BY a.user_id, signup_id, purchase_id""",
    "q80_hot_token_audit" ->
      """WITH sgc AS (
           SELECT strftime(ts, '%Y-%m-%d') AS day,
             'a' || CAST(100 + user_id % 900 AS VARCHAR) AS tok,
             COUNT(*) AS sg_rows
           FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
         dcc AS (
           SELECT strftime(ts, '%Y-%m-%d') AS day,
             'a' || CAST(100 + user_id % 900 AS VARCHAR) AS tok,
             COUNT(*) AS dc_rows
           FROM events WHERE event_type = 'view' GROUP BY 1, 2)
         SELECT s.day, s.tok, s.sg_rows, d.dc_rows,
           s.sg_rows * d.dc_rows AS pairs
         FROM sgc s JOIN dcc d ON s.day = d.day AND s.tok = d.tok
         WHERE s.sg_rows * d.dc_rows >= 2
         ORDER BY pairs DESC, s.day, s.tok""")
}
