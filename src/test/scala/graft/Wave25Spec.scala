package graft

/** Value-level pins for the wave-25 queries: the streaming decon
  * monitor's row-identity with the q207 batch card, and the
  * water-fill allocator's budget conservation / cap / saturation
  * invariants.
  */
class Wave25Spec extends SparkSpec {

  test("q227 streaming decon monitor is row-identical to the q207 card") {
    val stream = SparkEntry.queries("q227_stream_decon")(spark, sf0001)
      .collect().map(_.toSeq).sortBy(_.head.toString.toLong)
    val batch = SparkEntry.queries("q207_contamination_velocity")(
        spark, sf0001)
      .collect().map(_.toSeq).sortBy(_.head.toString.toLong)
    assert(stream.length == batch.length && stream.nonEmpty)
    stream.zip(batch).foreach { case (s, b) =>
      assert(s == b, s"stream row $s != batch row $b")
    }
  }

  test("q228 exact water-fill: budget conserved, caps universal, " +
      "allocations budget-monotone, saturation regime engaged at 4.5x") {
    val rows = SparkEntry.queries("q228_budget_waterfill")(spark, sf0001)
      .collect()
      .map(r => (r.getDouble(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6),
        r.getLong(7), r.getDouble(8)))
    val budgets = rows.map(_._1).distinct.sorted
    assert(budgets.sameElements(Array(2.0, 3.0, 3.875, 4.5)))
    val nLangs = rows.count(_._1 == 2.0)
    assert(nLangs == 5 && rows.length == 4 * nLangs)
    val tot = rows.filter(_._1 == 2.0).map(_._3).sum.toDouble
    budgets.foreach { bx =>
      val rs = rows.filter(_._1 == bx)
      val budget = bx * tot
      val residual = rs.head._9
      assert(rs.forall(_._9 == residual), s"$bx: residual differs by row")
      // conservation is EXACT under the exact fill (within the
      // per-lang 2-decimal output rounding): Σ final + residual = B
      assert(math.abs(rs.map(_._6).sum + residual - budget) < 0.5,
        s"$bx: water-fill does not conserve the budget")
      rs.foreach { case (_, lang, nt, _, naive, fin, epochs, capped, _) =>
        if (capped > 0) {
          assert(math.abs(fin - 4.0 * nt) < 0.01, s"$bx/$lang: cap not exact")
          assert(math.abs(epochs - 4.0) < 1e-4)
        } else {
          // the ADVICE r15 invariant, now universal: NO language ends
          // over the 4-epoch wall at ANY budget
          assert(epochs <= 4.0 + 1e-6, s"$bx/$lang: uncapped over the wall")
          assert(fin >= naive - 0.01,
            s"$bx/$lang: an uncapped language's fill fell below naive")
        }
      }
      // residual only exists once EVERYONE is capped
      if (residual > 0)
        assert(rs.forall(_._8 == 1L), s"$bx: residual with an uncapped lang")
      // capped set is the smallest-first prefix (cap/weight ∝ n^0.3)
      val bySize = rs.sortBy(r => (r._3, r._2))
      val firstUncapped = bySize.indexWhere(_._8 == 0L)
      if (firstUncapped >= 0)
        assert(bySize.drop(firstUncapped).forall(_._8 == 0L),
          s"$bx: capped set is not a prefix in size order")
    }
    // budget monotonicity: more budget never shrinks a language
    rows.groupBy(_._2).foreach { case (lang, rs) =>
      val byB = rs.sortBy(_._1).map(_._6)
      byB.sliding(2).foreach { case Array(a, b) =>
        assert(b >= a - 0.01, s"$lang: allocation dropped as budget grew")
      }
    }
    // 4.5x saturates the 4-epoch corpus: all capped, residual = 0.5*tot
    val sat = rows.filter(_._1 == 4.5)
    assert(sat.forall(_._8 == 1L), "4.5x should cap every language")
    assert(math.abs(sat.head._9 - 0.5 * tot) < 0.5,
      "saturation residual should be the 0.5x excess")
    // 2x and 3x are the pure temperature regime: nothing capped
    Seq(2.0, 3.0).foreach { bx =>
      assert(rows.filter(_._1 == bx).forall(_._8 == 0L),
        s"$bx: expected the uncapped temperature regime")
    }
    // 3.875x engages the partial regime: tail capped, head filled
    val lo = rows.filter(_._1 == 3.875)
    assert(lo.exists(_._8 == 1L) && lo.exists(_._8 == 0L),
      "3.875x should cap the tail and water-fill the head")
  }
}
