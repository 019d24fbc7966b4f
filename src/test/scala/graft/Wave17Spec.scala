package graft

import org.apache.spark.sql.functions._

/** Value-level pins for the wave-17 queries (q195–q198) beyond the
  * DuckDB gate: the FFD packer's bin discipline (no overflow, no
  * split, contiguous offsets, truncate-or-new-sequence), the packing
  * comparison's conservation/zero-spanning identities, the OPQ
  * deployed-recall ordering (the balanced layout must beat identity
  * on the anisotropic fixture — q184's MSE gain moved the RANKING),
  * and the retrain trigger's internal consistency.
  */
class Wave17Spec extends SparkSpec {

  test("ffdPack: truncation, first-fit, and per-source reset on a toy corpus") {
    import spark.implicits._
    // hand-computed expectation: per source, (capped DESC, doc_id ASC)
    // order, first open bin with room, 512-token budget.
    //   srcA sorted: 600→512 (bin0, full), 500 (bin1), 400 (bin2),
    //     100 (bin2: rem 112), 90 (bin1: rem 12... no — first fit:
    //     bin0 rem 0, bin1 rem 12 <90, bin2 rem 12 <90 → bin3), ...
    val docs = Seq(
      (1L, "srcA", 600L), (2L, "srcA", 500L), (3L, "srcA", 400L),
      (4L, "srcA", 100L), (5L, "srcA", 90L), (6L, "srcA", 30L),
      (7L, "srcB", 512L), (8L, "srcB", 10L))
      .toDF("doc_id", "source", "n_tokens")
    val got = graft.queries.MixtureQueries.ffdPack(docs)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6))).toMap
    // replay by hand: srcA order = 1(512),2(500),3(400),4(100),5(90),6(30)
    //   1 → new bin0 (rem 0), off 0, kept 512, dropped 88
    //   2 → bin0 full → new bin1 (rem 12), off 0
    //   3 → new bin2 (rem 112), off 0
    //   4 → bin0 no, bin1 no, bin2 yes → off 400, bin2 rem 12
    //   5 → no bin fits → new bin3 (rem 422), off 0
    //   6 → bin3 fits first? bin0 0, bin1 12 <30, bin2 12 <30,
    //       bin3 422 ≥30 → off 90, rem 392
    assert(got(1L) == ("srcA", 600L, 0L, 0L, 512L, 88L))
    assert(got(2L) == ("srcA", 500L, 1L, 0L, 500L, 0L))
    assert(got(3L) == ("srcA", 400L, 2L, 0L, 400L, 0L))
    assert(got(4L) == ("srcA", 100L, 2L, 400L, 100L, 0L))
    assert(got(5L) == ("srcA", 90L, 3L, 0L, 90L, 0L))
    assert(got(6L) == ("srcA", 30L, 3L, 90L, 30L, 0L))
    // srcB resets the bin table: 7 (512) takes a FRESH bin0, 8 follows
    assert(got(7L) == ("srcB", 512L, 0L, 0L, 512L, 0L))
    assert(got(8L) == ("srcB", 10L, 1L, 0L, 10L, 0L))
  }

  /** The FFD manifest invariants, shared by the word-priced (q195) and
    * BPE-priced (q200) packers: never split, conservation under the
    * truncation rule, no bin overflow, contiguous offsets, contiguous
    * sequence ids.
    */
  private def assertFfdManifest(queryName: String): Unit = {
    val rows = SparkEntry.queries(queryName)(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(rows.nonEmpty)
    // a doc appears exactly once — the packer never splits
    assert(rows.map(_._1).distinct.length == rows.length)
    // conservation: kept + dropped == n_tokens, kept == min(n, budget)
    val budget = graft.queries.MixtureQueries.packBudget
    rows.foreach { case (id, _, n, _, _, kept, dropped) =>
      assert(kept + dropped == n, s"doc $id conservation")
      assert(kept == math.min(n, budget), s"doc $id truncation rule")
    }
    // per (source, seq): fill ≤ budget and offsets are the prefix sums
    // of kept in offset order (the bin is a contiguous token layout)
    rows.groupBy(r => (r._2, r._4)).foreach { case ((src, seq), ds) =>
      val fill = ds.map(_._6).sum
      assert(fill <= budget, s"($src, $seq) overflows: $fill")
      val inOrder = ds.sortBy(_._5)
      val offs = inOrder.map(_._5)
      val pref = inOrder.map(_._6).scanLeft(0L)(_ + _).init
      assert(offs.sameElements(pref), s"($src, $seq) offsets not contiguous")
    }
    // sequence ids are contiguous from 0 per source
    rows.groupBy(_._2).foreach { case (src, ds) =>
      val seqs = ds.map(_._4).distinct.sorted
      assert(seqs.head == 0L && seqs.last == seqs.length - 1L,
        s"$src seq ids not contiguous")
    }
  }

  test("q195 FFD manifest: conservation, no overflow, contiguous offsets") {
    assertFfdManifest("q195_pack_ffd")
  }

  test("q200 BPE-priced FFD: same invariants in the training currency") {
    assertFfdManifest("q200_bpe_ffd")
  }

  test("q196 comparison: FFD spans nothing, waste identities hold") {
    val rows = SparkEntry.queries("q196_pack_compare")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val total = r.getLong(1)
      val ccSeqs = r.getLong(2); val ccWaste = r.getLong(3)
      val ffdSeqs = r.getLong(5); val ffdPad = r.getLong(6)
      val ffdTrunc = r.getLong(7)
      // chunking: seqs is the exact token ceiling, waste < one budget
      assert(ccSeqs == (total + 511) / 512)
      assert(ccWaste == ccSeqs * 512 - total && ccWaste < 512)
      // FFD: never spans, never beats the ceiling lower bound, and its
      // pad waste is exactly the unfilled remainder of its open bins
      assert(r.getLong(8) == 0L, s"${r.getString(0)} FFD spanned a doc")
      assert(ffdSeqs >= (total - ffdTrunc + 511) / 512)
      assert(ffdPad == ffdSeqs * 512 - (total - ffdTrunc))
    }
  }

  test("q197 OPQ recall: the balanced layout beats identity on the " +
      "anisotropic fixture") {
    slowGate()
    val rows = SparkEntry.queries("q197_opq_recall")(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getDouble(3)))
    val byLayout = rows.groupBy(_._1)
    assert(byLayout.keySet == Set("identity", "balanced"))
    // same query set on both sides (the IVF stage is layout-blind)
    assert(byLayout("identity").length == byLayout("balanced").length)
    rows.foreach { case (_, hits, rec) =>
      assert(hits >= 0 && hits <= 3)
      assert(math.abs(rec - hits / 3.0) < 1e-6)
    }
    def mean(l: String) = {
      val xs = byLayout(l).map(_._3); xs.sum / xs.length
    }
    // the q184 MSE gain must move the deployed ranking, not just the
    // reconstruction error — identity crams all the scaled energy into
    // subspace 0 and pays for it at scoring time
    assert(mean("balanced") > mean("identity"),
      s"balanced ${mean("balanced")} ≤ identity ${mean("identity")}")
  }

  test("q198 retrain trigger: internal consistency of the PSI decision") {
    val rows = SparkEntry.queries("q198_dsir_drift")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nB = r.getLong(1); val kB = r.getLong(2)
      val nD = r.getLong(4); val kD = r.getLong(5)
      val psi = r.getDouble(7); val retrain = r.getInt(8)
      // the monitor only reports sources PRESENT in the ingest — both
      // denominators are live scored-doc counts
      assert(nB > 0 && nD > 0 && kB <= nB && kD <= nD)
      assert(math.abs(r.getDouble(3) - kB.toDouble / nB) < 1e-6)
      assert(math.abs(r.getDouble(6) - kD.toDouble / nD) < 1e-6)
      // PSI is a sum of (p−q)·ln(p/q) terms — each non-negative
      assert(psi >= 0.0, s"${r.getString(0)} psi $psi")
      assert(retrain == (if (psi >= 0.1) 1 else 0),
        s"${r.getString(0)} retrain flag")
      // replay the smoothed two-bucket PSI from the integer counts
      val pbk = (kB + 1.0) / (nB + 2.0); val pdk = (kD + 1.0) / (nD + 2.0)
      val expect = (pdk - pbk) * math.log(pdk / pbk) +
        ((1.0 - pdk) - (1.0 - pbk)) * math.log((1.0 - pdk) / (1.0 - pbk))
      assert(math.abs(psi - expect) < 1e-6, s"${r.getString(0)} psi replay")
    }
  }

  test("q199 decon safety: the engaged cap's silent drop is visible " +
      "and accounted") {
    val rows = SparkEntry.queries("q199_decon_safety")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(rows.nonEmpty)
    val over = rows.filter(_._5 == 1L)
    // the rehearsal must ENGAGE: the collapsed stamp concentrates ~half
    // the corpus into one argmax cell, far over the rehearsal cap
    assert(over.nonEmpty, "no over-cap cell — the rehearsal is vacuous")
    over.foreach { case (cell, size, held, _, _, flags, unscreened) =>
      assert(size > 100, s"cell $cell flagged over-cap at size $size")
      assert(flags == 0L, s"over-cap cell $cell emitted flags — the valve " +
        "did not drop it")
      assert(unscreened == held, s"cell $cell unscreened-held accounting")
      assert(held > 0L, s"cell $cell holds no held mass — the safety " +
        "story is vacuous")
    }
    rows.filter(_._5 == 0L).foreach { case (cell, size, held, train, _, _, u) =>
      assert(size <= 100 && u == 0L, s"cell $cell under-cap accounting")
      assert(held + train == size, s"cell $cell side split")
    }
    // the per-cell flag counts must total the capped run's output
    val direct = graft.ext.Similarity.semanticContamination(
      graft.queries.Fragments.skewedEmb(spark, sf0001), "vec_id", "embedding",
      idc => substring(md5(idc.cast("string")), 1, 1) === "0",
      tau = 0.4, cellCap = 100).count()
    assert(rows.map(_._6).sum == direct, "flag totals diverge from the " +
      "capped contamination run")
  }

  test("q201 banding sweep: nested candidate sets, r=2 is the " +
      "production scheme") {
    val rows = SparkEntry.queries("q201_lsh_band_sweep")(spark, sf0001)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getDouble(4),
        r.getLong(5), r.getLong(6), r.getDouble(7))).toMap
    assert(rows.keySet == Set(1L, 2L, 4L))
    // an r-band match implies every sub-band match, so candidate sets
    // nest (r=4 ⊆ r=2 ⊆ r=1): pairs and found counts are monotone
    assert(rows(1L)._1 >= rows(2L)._1 && rows(2L)._1 >= rows(4L)._1,
      "pair counts not monotone in banding")
    assert(rows(1L)._5 >= rows(2L)._5 && rows(2L)._5 >= rows(4L)._5,
      "recall hits not monotone in banding")
    // one shared truth side: identical denominators on every row
    assert(rows.values.map(_._4).toSet.size == 1, "truth side diverged")
    // the r=2 leg IS the production bandedSignatures scheme
    val prodPairs = graft.ext.Dedup.minhashCandidates(
      graft.ext.Dedup.bandedSignatures(
        graft.util.Tables.documents(spark, sf0001), "text", "doc_id"))
      .count()
    assert(rows(2L)._1 == prodPairs, "r=2 diverged from bandedSignatures")
    // non-vacuous at the high-recall end
    assert(rows(1L)._1 > 0L)
  }
}
