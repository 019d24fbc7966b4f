package graft

/** Value-level pins for q226, the run-assembly capstone: the
  * (phase × shard) grid must re-aggregate to the q215 phase-budget
  * card exactly (same fold, same thresholds — composition adds a
  * shard split, never changes the packing), and its arithmetic
  * identities must hold per cell.
  */
class Wave24Spec extends SparkSpec {

  test("q226 release assembly re-aggregates to the q215 phase card " +
      "and keeps the pad identity per cell") {
    val grid = SparkEntry.queries("q226_release_assembly")(spark, sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(grid.nonEmpty)
    grid.foreach { case (ph, sh, nSeqs, nDocs, kept, pad) =>
      assert(Set(1L, 2L, 3L).contains(ph) && sh >= 0 && sh < 8)
      assert(pad == nSeqs * 512 - kept, s"($ph, $sh): pad identity broken")
      assert(nDocs >= nSeqs)
    }
    val byPhase = grid.groupBy(_._1).map { case (ph, cells) =>
      ph -> (cells.map(_._3).sum, cells.map(_._4).sum, cells.map(_._5).sum)
    }
    val card = SparkEntry.queries("q215_curriculum_packing")(spark, sf0001)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(1), r.getLong(3)))
      .toMap
    assert(byPhase.keySet == card.keySet)
    byPhase.foreach { case (ph, (seqs, docs, kept)) =>
      assert(seqs == card(ph)._1, s"phase $ph: grid seqs != q215 card")
      assert(docs == card(ph)._2, s"phase $ph: grid docs != q215 card")
      assert(kept == card(ph)._3, s"phase $ph: grid kept != q215 card")
    }
  }
}
