package graft

import org.apache.spark.sql.functions._
import graft.etl.Aggregators.MisraGries

/** Value-level pins for the wave-14 queries (q185–q188) beyond the
  * DuckDB gate: the DSIR cut property, the Misra–Gries guarantee
  * (superset of the exact heavy hitters under ANY merge order, k-
  * bounded state, never an overestimate), the histogram sketch's
  * 2-bin-width error bound, and the remedy-cost report's structural
  * identities (same detector ⇒ same affected set; excision removes
  * strictly fewer tokens than dropping).
  */
class Wave14Spec extends SparkSpec {

  test("q185 DSIR: the p80 cut separates selected from unselected exactly") {
    val rows = SparkEntry.queries("q185_dsir_selection")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val (sel, unsel) = rows.partition(_.getInt(3) == 1)
    assert(sel.nonEmpty && unsel.nonEmpty, "selection is vacuous")
    val minSel = sel.map(_.getDouble(2)).min
    val maxUnsel = unsel.map(_.getDouble(2)).max
    assert(minSel > maxUnsel,
      s"selected min $minSel not above unselected max $maxUnsel")
    // a p80 cut keeps roughly the top fifth (ties can only widen it)
    val frac = sel.length.toDouble / rows.length
    assert(frac >= 0.15 && frac <= 0.35, s"selected fraction $frac")
    // src0 defines the target distribution — it is never a candidate
    val src0 = graft.util.Tables.documents(spark, sf0001)
      .filter(col("source") === "src0").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(rows.forall(r => !src0.contains(r.getLong(0))),
      "a target-domain doc leaked into the candidate pool")
  }

  test("q186 heavy hitters == the exact set; all of them boilerplate grams") {
    val rows = SparkEntry.queries("q186_heavy_hitters")(spark, sf0001).collect()
    assert(rows.nonEmpty, "no heavy hitters found — the rehearsal is vacuous")
    // the exact set, computed directly (no sketch)
    val grams = graft.queries.DedupQueries.stampedDocs(spark, sf0001)
      .select(graft.ext.TextAnalysis.normWords(col("text")).as("w"))
      .filter(size(col("w")) >= 8)
      .select(explode(transform(sequence(lit(1), size(col("w")) - 7),
        i => substring(md5(array_join(slice(col("w"), i, lit(8)), " ")),
          1, 16))).as("gh"))
    val n = grams.count()
    val exact = grams.groupBy(col("gh")).count()
      .filter(col("count") * 100 >= lit(n))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.map(_.getString(0)).toSet == exact.keySet,
      "sketch-confirmed set differs from the exact heavy-hitter set")
    rows.foreach(r => assert(r.getLong(1) == exact(r.getString(0)),
      s"count mismatch for ${r.getString(0)}"))
    // every heavy hitter is one of the stamped boilerplate's grams —
    // the organic background (max ~0.015%) can never clear 1%
    val bpWords = graft.queries.DedupQueries.boilerplateText
      .split("\\s+").toSeq
    val bpGrams = bpWords.sliding(8).map { w =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(w.mkString(" ").getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString.substring(0, 16)
    }.toSet
    assert(rows.forall(r => bpGrams.contains(r.getString(0))),
      "a non-boilerplate gram cleared the 1% bar")
  }

  test("MisraGries: k-bounded, never overestimates, hot key survives any merge order") {
    val mg = MisraGries(3)
    // 40% hot key against 12 distinct cold keys: share 20/50 > 1/(k+1)
    val stream = Seq.fill(20)("hot") ++
      (0 until 30).map(i => s"cold${i % 12}")
    val trueCounts = stream.groupBy(identity).view.mapValues(_.size.toLong)
    // deterministic shuffle so the reduce order is adversarial-ish
    val shuffled = stream.sortBy(t =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).take(4).toSeq.toString + t)
    for (parts <- Seq(1, 2, 5, 7); reversed <- Seq(false, true)) {
      val chunks0 = shuffled.grouped(
        math.max(1, shuffled.size / parts)).toSeq
      val chunks = if (reversed) chunks0.reverse else chunks0
      val partials = chunks.map(_.foldLeft(mg.zero)(mg.reduce))
      val merged = partials.reduce(mg.merge)
      assert(merged.size <= 3, s"buffer exceeded k: ${merged.size}")
      merged.foreach { case (t, est) =>
        assert(est <= trueCounts(t),
          s"estimate $est overestimates ${trueCounts(t)} for $t")
      }
      assert(merged.contains("hot"),
        s"hot key evicted with parts=$parts reversed=$reversed")
    }
  }

  test("q187 histogram quantiles: every estimate within one bin width of exact") {
    val rows = SparkEntry.queries("q187_hist_quantiles")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val ext = graft.util.Tables.documents(spark, sf0001)
      .groupBy(col("source"))
      .agg(min(col("n_chars")).as("lo"), max(col("n_chars")).as("hi"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    rows.foreach { r =>
      val (lo, hi) = ext(r.getString(0))
      val width = (hi - lo).toDouble / 256.0
      // the R-7 combination of two within-bin order-statistic
      // estimates errs at most one bin width (each true order
      // statistic sits inside the bin its estimate interpolates)
      assert(r.getDouble(4) <= width + 1e-5,
        s"${r.getString(0)} p50_err ${r.getDouble(4)} > width $width")
      assert(r.getDouble(7) <= width + 1e-5,
        s"${r.getString(0)} p95_err ${r.getDouble(7)} > width $width")
    }
  }

  test("q188 remedy cost: shared detector, strictly cheaper excision") {
    val rows = SparkEntry.queries("q188_decon_cost")(spark, sf0001).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(rows.keySet == Set("exact_drop", "fuzzy_drop", "span_excise"))
    val ex = rows("exact_drop"); val sp = rows("span_excise")
    val fz = rows("fuzzy_drop")
    // same detector (any shared held 8-gram), different remedy
    assert(ex._1 == sp._1,
      s"exact affected ${ex._1} != span affected ${sp._1}")
    // dropping a doc always costs at least as much as excising it
    assert(sp._3 < ex._3,
      s"excision tokens ${sp._3} not below drop tokens ${ex._3}")
    assert(sp._2 <= sp._1, "span dropped more docs than it affected")
    assert(ex._2 == ex._1 && fz._2 == fz._1,
      "a whole-doc remedy must drop exactly what it flags")
    Seq(ex, sp, fz).foreach { r =>
      assert(r._1 > 0, "a remedy row is vacuous")
      assert(r._4 > 0.0 && r._4 < 1.0, s"tokens_frac ${r._4} out of range")
    }
  }
}
