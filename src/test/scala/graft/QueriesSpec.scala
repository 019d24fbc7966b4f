package graft

/** Smoke: registered queries run at sf0.001 and the oracle map stays
  * in sync with the query map. Value-level correctness is the DuckDB
  * gate (scripts/verify_local.py + driver t2), which covers the FULL
  * registry at sf0.01 — so the default suite smokes a deterministic
  * sample instead of paying ~230 serial eager runs per wave iteration
  * (VERDICT r15 #5: the full smoke alone was most of a 937 s `sbt
  * test`). Sample = a fixed md5 quarter of the registry plus the 10
  * lexicographically-newest names (the wave under construction).
  * Round close runs the FULL sweep:
  *
  *   GRAFT_FULL_SMOKE=1 sbt test        // full registry smoke
  *   sbt test                           // sampled smoke, fast gate
  */
class QueriesSpec extends SparkSpec {

  test("oracle keys ⊆ query keys") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
    // per family: its oracles are for its own queries, and no name is
    // registered twice (`++` would let a later family shadow it)
    for (f <- SparkEntry.families) {
      val orphans = f.oracleSql.keySet -- f.queries.keySet
      assert(orphans.isEmpty, s"${f.getClass.getSimpleName}: oracles without queries: $orphans")
    }
    val names = SparkEntry.families.flatMap(_.queries.keys)
    val twice = names.diff(names.distinct).toSet
    assert(twice.isEmpty, s"registered by more than one family: $twice")
    assert(names.size == SparkEntry.queries.size)
  }

  test("entry() smoke returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  private val all = SparkEntry.queries.toSeq.sortBy(_._1)
  // first md5 byte < 48: a stable ~19% of any registry size — the
  // sample changes only when a NAME changes, never run-to-run.
  // Eager-at-build queries (ingest loops, trainings — PlanAudit's
  // list) are excluded from the md5 draw: each costs 5-25 s, has its
  // own wave-spec pins, and the driver's full sweep runs it every
  // round; the newest-10 rule below still smokes them while they ARE
  // the wave under construction.
  private def inSample(name: String): Boolean =
    !PlanAudit.eagerAtBuild(name) &&
      (java.security.MessageDigest.getInstance("MD5")
        .digest(name.getBytes("UTF-8"))(0) & 0xff) < 48
  // "newest" by NUMERIC query id, not lexicographic name order —
  // takeRight on the sorted names permanently picked q90-q99 and
  // silently excluded the wave under construction (ADVICE r16 #1)
  private def qNum(name: String): Int =
    name.drop(1).takeWhile(_.isDigit).toInt
  private val newest = all.map(_._1).sortBy(qNum).takeRight(10).toSet
  private val chosen =
    if (fullSmoke) all
    else all.filter { case (n, _) => inSample(n) || newest(n) }

  test(s"smoke selection is deterministic and non-trivial " +
      s"(${chosen.size}/${all.size}${if (fullSmoke) ", full" else ""})") {
    assert(chosen.size >= math.min(all.size, 30))
    assert(newest.subsetOf(chosen.map(_._1).toSet))
    // the wave under construction is IN the default gate: the
    // max-numbered registered query must be sampled
    val maxQ = all.map(_._1).maxBy(qNum)
    assert(chosen.map(_._1).toSet.contains(maxQ), s"$maxQ not sampled")
  }

  chosen.foreach { case (name, fn) =>
    test(s"$name runs at sf0.001") {
      val df = fn(spark, sf0001)
      assert(df.columns.nonEmpty)
      assert(df.count() >= 0)
    }
  }
}
