package graft

import org.apache.spark.sql.functions._

/** The always-on registry-wide plan gate (VERDICT r7 #4): every
  * registered query's physical plan must be free of cartesian products
  * and non-allowlisted BroadcastNestedLoopJoins. Plans are only BUILT
  * (never executed) — with known exceptions: q112, the streaming
  * ingest queries (q115/q123/q135/q137/q144/q149/q160), the
  * cluster-maintenance queries (q141/q142, whose CC loop iterates
  * eagerly), the chained-release capstone (q171, whose plan build
  * materializes the intermediate v2 release bundle — 11 parquet
  * artifact writes — before the audited v3 read-back plan exists;
  * q172/q173 materialize the same maintained bundle for their cards;
  * q179 runs its whole micro-batch ingest loop at build time and the
  * audited plan is the last bundle version's ledger scan; q183/q184
  * collect their bounded training artifacts — 64 variances, two 1024-
  * double codebooks — at build time, pqRefinedCodebook's discipline;
  * q186 runs its Misra-Gries sketch pass and stream-length count at
  * build time — two bounded driver artifacts, ≤128 strings + one
  * long — before the audited exact re-score plan exists; q189/q190
  * run their whole micro-batch ingest loops at build time, q179's
  * shape, and the audited plans are the merged-sketch report and the
  * exact re-score; q197 collects the two q184 trained codebooks at
  * build time — opqRefined's memoized 1024-double artifacts),
  * and the persisted-artifact consumers (dedupDropSets for
  * q113/q117/q124/q138, corpusSignatures, the owner/count tables),
  * whose first cold-session plan build writes the artifact and whose
  * audited plan is then the read-back scan — these materialize
  * their pipelines EAGERLY while the DataFrame is constructed, so for
  * those the sweep audits the final read-back/label-join plan, not
  * every interior join shape. Those interior plans are gated DIRECTLY by the
  * "streaming/capstone interior plans" test below
  * (streamBatchCandidates, streamBatchSimhash, streamBatchSemantic,
  * streamBatchQuantIndex, normalizedRunE1). The sweep is cheap
  * enough for every `sbt test` run — any future query that ships an
  * unkeyed join fails CI here rather than surviving until someone runs
  * the dev main.
  */
class PlanAuditSpec extends SparkSpec {

  // Default-suite budget (VERDICT r16 #7): the full two-half sweep is
  // ~8 min of the default `sbt test` wall. The default run audits the
  // QueriesSpec sample (same md5-quarter + newest-10 rule, so the
  // wave under construction is ALWAYS plan-gated); GRAFT_FULL_SMOKE=1
  // restores the full registry sweep — mandatory at round close.
  private def inSample(name: String): Boolean = fullSmoke ||
    (java.security.MessageDigest.getInstance("MD5")
      .digest(name.getBytes("UTF-8"))(0) & 0xff) < 64 || {
      def qNum(n: String) = n.drop(1).takeWhile(_.isDigit).toInt
      val newest = SparkEntry.queries.keySet.toSeq.sortBy(qNum).takeRight(10)
      newest.contains(name)
    }

  test("registry sweep: no cartesian / unexpected BNLJ / plan error " +
      s"(pure plan-construction half${if (fullSmoke) ", full" else ", sampled"})") {
    val fast = SparkEntry.queries.view
      .filterKeys(!PlanAudit.eagerAtBuild(_)).toMap
    // the two halves must exactly tile the registry (guards a renamed
    // query silently dropping out of both sweeps)
    assert(PlanAudit.eagerAtBuild.subsetOf(SparkEntry.queries.keySet),
      "eagerAtBuild names a query that is not registered")
    assert(fast.size + PlanAudit.eagerAtBuild.size == SparkEntry.queries.size)
    assert(fast.size >= 100, s"registry unexpectedly small: ${fast.size}")
    val swept = fast.view.filterKeys(inSample).toMap
    assert(swept.size >= math.min(fast.size, 40))
    val rs = PlanAudit.sweep(spark, sf0001, swept)
    val bad = PlanAudit.failures(rs)
    assert(bad.isEmpty, "plan audit failures:\n" +
      bad.map { case (n, v, d) => s"  $n: $v $d" }.mkString("\n"))
  }

  test("registry sweep: eager-at-build half (ingest loops, trainings)",
      SlowPlanAudit) {
    // the eager half EXECUTES real work (ingest loops, trainings) —
    // full-smoke only; the default run still plan-gates any sampled
    // eager query through its own wave spec's value pins
    if (fullSmoke) {
      val eager = SparkEntry.queries.view
        .filterKeys(PlanAudit.eagerAtBuild).toMap
      val rs = PlanAudit.sweep(spark, sf0001, eager)
      assert(rs.size == PlanAudit.eagerAtBuild.size)
      val bad = PlanAudit.failures(rs)
      assert(bad.isEmpty, "plan audit failures:\n" +
        bad.map { case (n, v, d) => s"  $n: $v $d" }.mkString("\n"))
    } else cancel("eager-at-build sweep runs under GRAFT_FULL_SMOKE=1 " +
      "(round close); skipped in the fast default suite")
  }

  test("streaming/capstone interior plans are keyed (q112/q115 executed shapes)") {
    // q112/q115 run their joins inside foreachBatch / eager sink
    // materialization, so the registry sweep only sees the read-back
    // scan — audit the interior plan builders directly
    def assertKeyed(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"$name plan has a cartesian")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$name plan has a BNLJ")
    }
    val docs = graft.util.Tables.documents(spark, sf0001)
    val baseSig = graft.ext.Dedup.bandedSignatures(
      docs.filter(col("doc_id") % 2 === 0), "text", "doc_id", k = 8)
    assertKeyed("streamBatchCandidates",
      graft.queries.Fragments.streamBatchCandidates(
        docs.filter(col("doc_id") % 2 === 1).select(col("doc_id"), col("text")),
        baseSig))
    assertKeyed("streamBatchSimhash",
      graft.queries.Fragments.streamBatchSimhash(
        docs.filter(col("doc_id") % 2 === 1).select(col("doc_id"), col("text")),
        graft.queries.Fragments.simhashBaseSig(
          docs.filter(col("doc_id") % 2 === 0))))
    // q160's interior plan: candidates keyed on (band, minhash), gram
    // rescore keyed on delta_id/base_id — no unkeyed join anywhere
    assertKeyed("streamBatchContainment",
      graft.queries.Fragments.streamBatchContainment(
        docs.filter(col("doc_id") % 2 === 1).select(col("doc_id"), col("text")),
        baseSig, docs.filter(col("doc_id") % 2 === 0)))
    assertKeyed("normalizedRunE1",
      graft.queries.CoreQueries.normalizedRunE1(spark, sf0001, "r1", 0, false))
    // q135's interior batch plan legitimately carries the DESIGNED
    // 16-row centroid BNLJ (q86's allowlisted fan-out) — assert no
    // cartesian and that the pair join itself is keyed
    val embAll = graft.util.Tables.embeddings(spark, sf0001)
    val semPlan = graft.queries.AnnQueries.streamBatchSemantic(
      embAll.filter(col("vec_id") % 2 === 1)
        .select(col("vec_id"), col("embedding")),
      graft.ext.Similarity.cellIndex(
        embAll.filter(col("vec_id") % 2 === 0), "vec_id", "embedding"))
      .queryExecution.executedPlan.toString
    assert(!semPlan.contains("CartesianProduct"),
      "streamBatchSemantic plan has a cartesian")
    assert(semPlan.contains("SortMergeJoin") || semPlan.contains("ShuffledHashJoin")
      || semPlan.contains("BroadcastHashJoin"),
      "streamBatchSemantic pair join is not keyed")
    // q137's interior batch plan is pure per-batch work: the designed
    // 16-row centroid BNLJ and NOTHING else — no base-side join of any
    // kind (the whole point of incremental index maintenance)
    val idxPlan = graft.queries.AnnQueries.streamBatchQuantIndex(
      embAll.filter(col("vec_id") % 2 === 1)
        .select(col("vec_id"), col("embedding")))
      .queryExecution.executedPlan.toString
    assert(!idxPlan.contains("CartesianProduct"),
      "streamBatchQuantIndex plan has a cartesian")
    assert(!idxPlan.contains("SortMergeJoin") && !idxPlan.contains("ShuffledHashJoin"),
      "streamBatchQuantIndex should need no shuffled join at all")
  }

  test("PLANS.md is fresh: exactly one entry per registered query") {
    // PLANS.md is regenerated by hand (runMain graft.Dev plans); a
    // stale copy silently misdescribes plans. Set-compare its `## qNN`
    // headers against the registry so adding/removing a query without
    // regenerating fails CI (VERDICT r8 #4).
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("PLANS.md")), "UTF-8")
    val entries = "(?m)^## (q\\w+)$".r.findAllMatchIn(txt).map(_.group(1)).toSet
    val registry = SparkEntry.queries.keySet
    val missing = registry.diff(entries)
    val stale = entries.diff(registry)
    assert(missing.isEmpty && stale.isEmpty,
      s"PLANS.md out of date — regenerate with `sbt \"runMain graft.Dev plans\"`. " +
        s"missing: $missing stale: $stale")
  }

  test("allowlist is not stale: every allowlisted query still exists") {
    val missing = PlanAudit.allowedBnlj.keySet.diff(SparkEntry.queries.keySet)
    assert(missing.isEmpty, s"allowlisted but unregistered: $missing")
  }

  test("sweep detects an injected unkeyed join (the gate actually fires)") {
    val poison: Map[String, (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame] = Map(
      "zz_poison_cartesian" -> ((s, d) => {
        val docs = graft.util.Tables.documents(s, d).select(col("doc_id"))
        // inner join with no condition on two non-broadcastable sides
        // (threshold forced to -1 via hint-free crossJoin) = cartesian
        docs.crossJoin(docs.select(col("doc_id").as("b_id")))
      }))
    val rs = PlanAudit.sweep(spark, sf0001, poison)
    val verdicts = rs.map(r => r._1 -> r._2).toMap
    assert(Set("CARTESIAN", "UNEXPECTED-BNLJ")
        .contains(verdicts("zz_poison_cartesian")),
      s"poison query not flagged: $verdicts")
  }

  test("sweep detects an injected array-typed output column (driver-verifier gate)") {
    // the driver's pandas verifier crashes on unhashable cells
    // (ndarray/dict/bytes) — q81 (r6) and q137 (r10) both shipped
    // array outputs before this became a sweep verdict. Prove the
    // COMPLEX-OUTPUT gate fires on each banned shape.
    val poison: Map[String, (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame] = Map(
      "zz_poison_array" -> ((s, d) =>
        graft.util.Tables.documents(s, d)
          .select(col("doc_id"), split(col("text"), " ").as("toks"))),
      "zz_poison_map" -> ((s, d) =>
        graft.util.Tables.documents(s, d)
          .select(col("doc_id"),
            map(lit("k"), col("source")).as("m"))),
      "zz_poison_binary" -> ((s, d) =>
        graft.util.Tables.documents(s, d)
          .select(col("doc_id"), col("text").cast("binary").as("b"))),
      "zz_poison_nested" -> ((s, d) =>
        graft.util.Tables.documents(s, d)
          .select(col("doc_id"),
            struct(split(col("text"), " ").as("toks")).as("st"))))
    val verdicts = PlanAudit.sweep(spark, sf0001, poison)
      .map(r => r._1 -> r._2).toMap
    poison.keys.foreach { k =>
      assert(verdicts(k) == "COMPLEX-OUTPUT", s"$k not flagged: $verdicts")
    }
  }
}
