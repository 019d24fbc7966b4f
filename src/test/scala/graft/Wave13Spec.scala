package graft

import org.apache.spark.sql.functions._

/** Value-level pins for the wave-13 queries (q172–q184) beyond the
  * DuckDB gate: maintained-vs-rebuilt report consistency, bloom-path
  * ≡ broadcast-path identity, the skew rehearsal's cap actually
  * engaging AND matching the real capped generator, the two-key
  * funnel's roll-up identity, the fuzzy/semantic decontamination
  * split discipline, and the OPQ-lite gain theorem (balanced layout
  * beats identity on the anisotropic rehearsal fixture).
  */
class Wave13Spec extends SparkSpec {

  // the maintenance-equivalence gates in this wave re-run full
  // ledger builds / streaming ingest loops (~2 min combined) —
  // full-smoke only via SparkSpec.slowGate (VERDICT r16 #7)

  test("q172 maintained card: n_docs == the rebuild ledger's kept count") {
    slowGate()
    val card = SparkEntry.queries("q172_maintained_card")(spark, sf0001)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val kept = SparkEntry.queries("q162_curated_corpus")(spark, sf0001)
      .filter(col("drop_reason") === "kept").count()
    assert(card("n_docs") == kept.toDouble,
      s"card n_docs ${card("n_docs")} != rebuild kept $kept")
    // a card over a curated corpus must actually reflect curation
    val full = graft.util.Tables.documents(spark, sf0001).count()
    assert(kept < full, "kept set not smaller than the corpus")
  }

  test("q173 diff: new side IS q172's card, delta = new - base") {
    slowGate()
    val card = SparkEntry.queries("q172_maintained_card")(spark, sf0001)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val diff = SparkEntry.queries("q173_maintained_diff")(spark, sf0001)
      .collect()
    assert(diff.length == card.size, "metric sets differ")
    diff.foreach { r =>
      val (m, b, n, d) = (r.getString(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3))
      assert(n == card(m), s"$m: diff new_value $n != card ${card(m)}")
      assert(math.abs(d - (n - b)) < 1e-6, s"$m: delta $d != $n - $b")
    }
  }

  test("q174 bloom-decontamination ledger == q168's broadcast-path ledger") {
    slowGate()
    val bloom = SparkEntry.queries("q174_ledger_bloom")(spark, sf0001)
    val bcast = SparkEntry.queries("q168_ledger_incremental")(spark, sf0001)
    assert(bloom.schema == bcast.schema, "ledger schemas differ")
    assert(bloom.exceptAll(bcast).isEmpty && bcast.exceptAll(bloom).isEmpty,
      "bloom and broadcast decontamination paths disagree")
  }

  test("q175 skew rehearsal: cap engages and matches the REAL generator") {
    val rows = SparkEntry.queries("q175_skew_cap_rehearsal")(spark, sf0001)
      .collect()
    // the rehearsal must actually fire: over-cap buckets exist and the
    // cap dropped pairs (otherwise the row is the organic no-op again)
    assert(rows.map(_.getLong(3)).sum > 0, "no over-cap bucket in any band")
    assert(rows.map(_.getLong(4)).sum < rows.map(_.getLong(5)).sum,
      "cap dropped no pairs")
    // the bucket-arithmetic pair counts must equal what the REAL
    // capped generator (windowed cap + collect_list machinery) emits:
    // sum of n_bands over its pairs == total within-bucket pairs
    val sig = graft.queries.DedupQueries.skewedSig(spark, sf0001)
    def generatorPairs(cap: Int): Long =
      graft.ext.Dedup.minhashCandidates(sig, maxBucket = cap)
        .agg(sum(col("n_bands"))).head().getLong(0)
    assert(generatorPairs(100) == rows.map(_.getLong(4)).sum,
      "capped generator != capped_pairs arithmetic")
    assert(generatorPairs(0) == rows.map(_.getLong(5)).sum,
      "uncapped generator != uncapped_pairs arithmetic")
  }

  test("q177 append-store maintenance ledger == q168 rewrite-path ledger") {
    slowGate()
    val app = SparkEntry.queries("q177_ledger_append")(spark, sf0001)
    val rew = SparkEntry.queries("q168_ledger_incremental")(spark, sf0001)
    // parquet read-back loosens nullability; names+types must agree
    assert(app.schema.map(f => (f.name, f.dataType)) ==
      rew.schema.map(f => (f.name, f.dataType)), "ledger schemas differ")
    assert(app.exceptAll(rew).isEmpty && rew.exceptAll(app).isEmpty,
      "append-store and rewrite-path ledgers disagree")
  }

  test("q178 cell-cap rehearsal: engages, and the REAL machinery agrees") {
    slowGate()
    import graft.ext.Similarity
    val rows = SparkEntry.queries("q178_cell_cap_rehearsal")(spark, sf0001)
      .collect()
    val hot = rows.filter(_.getLong(2) == 1L)
    assert(hot.length == 1, s"expected exactly one hot cell, got ${hot.length}")
    assert(rows.map(_.getLong(3)).sum < rows.map(_.getLong(4)).sum,
      "cap dropped no candidate pairs")
    // the production audit twin flags exactly the same (cell, size)
    val emb = graft.queries.Fragments.skewedEmb(spark, sf0001)
    val audited = Similarity.hotCells(emb, "vec_id", "embedding",
        nCells = 16, cellCap = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(audited == hot.map(r => (r.getLong(0), r.getLong(1))).toSet,
      "hotCells audit disagrees with the rehearsal's over-cap rows")
    // the real detector: cap engaged => the hot cell emits NOTHING;
    // cap off => the collapsed vectors (cosine 1.0) flood out of it
    val hotCell = hot.head.getLong(0)
    val capped = Similarity.semanticDedup(emb, "vec_id", "embedding",
      tau = 0.99, nCells = 16, cellCap = 100)
    assert(capped.filter(col("cell") === hotCell).count() == 0,
      "capped semanticDedup still emitted pairs from the hot cell")
    val uncapped = Similarity.semanticDedup(emb, "vec_id", "embedding",
      tau = 0.99, nCells = 16, cellCap = 0)
    assert(uncapped.filter(col("cell") === hotCell).count() > 0,
      "uncapped semanticDedup found nothing in the hot cell")
  }

  test("q179 streaming ledger == the shipped v2 release ledger (q162)") {
    slowGate()
    val str = SparkEntry.queries("q179_stream_ledger")(spark, sf0001)
    val rebuilt = SparkEntry.queries("q162_curated_corpus")(spark, sf0001)
    assert(str.schema.map(f => (f.name, f.dataType)) ==
      rebuilt.schema.map(f => (f.name, f.dataType)), "ledger schemas differ")
    assert(str.exceptAll(rebuilt).isEmpty && rebuilt.exceptAll(str).isEmpty,
      "streaming-maintained ledger disagrees with the rebuild")
  }

  test("q180 span excision: excised docs == q59's flagged docs, cuts are partial") {
    val rows = SparkEntry.queries("q180_decontaminate_spans")(spark, sf0001)
      .collect()
    // a doc loses tokens iff it shares ≥1 gram with the held split —
    // exactly q59's whole-doc verdict, so the two detectors must flag
    // the identical doc set (the excision is the finer-grained remedy,
    // not a different rule)
    val excised = rows.filter(_.getLong(2) > 0).map(_.getLong(0)).toSet
    val flagged = SparkEntry.queries("q59_decontaminate")(spark, sf0001)
      .collect().map(_.getLong(0)).toSet
    assert(excised == flagged, "excised set != q59's contaminated set")
    assert(excised.nonEmpty, "no doc was excised — the rule is vacuous")
    // the point of excision: at least one doc SURVIVES with a cut
    assert(rows.exists(r => r.getLong(2) > 0 && r.getLong(2) < r.getLong(1)),
      "every excised doc lost everything — no partial cuts")
    rows.foreach { r =>
      val kf = r.getDouble(3)
      assert(kf >= 0.0 && kf <= 1.0, s"kept_frac $kf out of range")
      assert(r.getLong(2) >= 0 && r.getLong(2) <= r.getLong(1))
    }
  }

  test("q181 fuzzy decon: orientation, threshold, and the exact-leak relation") {
    val rows = SparkEntry.queries("q181_fuzzy_decon")(spark, sf0001).collect()
    def held(id: Long): Boolean =
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .take(1).map(b => f"${b & 0xff}%02x").mkString.startsWith("0")
    rows.foreach { r =>
      assert(!held(r.getLong(0)), s"flagged doc ${r.getLong(0)} is held-side")
      assert(held(r.getLong(1)), s"witness ${r.getLong(1)} is not held-side")
      assert(r.getDouble(2) >= 0.5, s"jac ${r.getDouble(2)} below threshold")
    }
    // one best witness per flagged doc; the planted near-dup families
    // cross the held split, so a flag must actually fire
    assert(rows.nonEmpty, "no fuzzy contamination found — the rule is vacuous")
    val ids = rows.map(_.getLong(0))
    assert(ids.distinct.length == ids.length, "duplicate flagged doc rows")
  }

  test("q182 semantic decon: orientation, τ, and the cell discipline") {
    val rows = SparkEntry.queries("q182_semantic_decon")(spark, sf0001).collect()
    def held(id: Long): Boolean =
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .take(1).map(b => f"${b & 0xff}%02x").mkString.startsWith("0")
    rows.foreach { r =>
      assert(!held(r.getLong(0)), s"flagged vec ${r.getLong(0)} is held-side")
      assert(held(r.getLong(1)), s"witness ${r.getLong(1)} is not held-side")
      assert(r.getDouble(2) >= 0.4, s"sim ${r.getDouble(2)} below τ")
    }
    assert(rows.nonEmpty, "no semantic contamination found — the rule is vacuous")
    val ids = rows.map(_.getLong(0))
    assert(ids.distinct.length == ids.length, "duplicate flagged vec rows")
  }

  test("q183 anisotropy audit: subspace 0 carries the energy, shares sum to 1") {
    val rows = SparkEntry.queries("q183_aniso_audit")(spark, sf0001).collect()
    assert(rows.length == 8)
    val shares = rows.map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // dims 0-7 scaled 4x => sub 0 holds ~16/23 of the total variance
    assert(shares(0L) > 0.5, s"sub-0 share ${shares(0L)} — fixture not anisotropic")
    (1L to 7L).foreach(s => assert(shares(s) < shares(0L),
      s"sub $s share ${shares(s)} >= sub-0 share"))
    assert(math.abs(rows.map(_.getDouble(2)).sum - 1.0) < 1e-3,
      "shares do not sum to 1")
  }

  test("q184 OPQ-lite: balanced layout beats identity; identity pays at sub 0") {
    slowGate()
    val rows = SparkEntry.queries("q184_opq_gain")(spark, sf0001).collect()
    assert(rows.length == 16, s"expected 16 (layout, sub) rows, got ${rows.length}")
    val id = rows.filter(_.getString(0) == "identity")
    val bal = rows.filter(_.getString(0) == "balanced")
    // same trained-row population on every row (layouts permute dims,
    // never drop vectors)
    assert(rows.map(_.getLong(2)).distinct.length == 1,
      "n_vecs differs across (layout, sub) rows")
    val idTotal = id.map(_.getDouble(3)).sum
    val balTotal = bal.map(_.getDouble(3)).sum
    assert(balTotal < idTotal,
      s"balanced total MSE $balTotal not below identity $idTotal")
    // under identity, the scaled dims all sit in subspace 0 — its
    // distortion must dwarf every other subspace's
    val idBySub = id.map(r => r.getLong(1) -> r.getDouble(3)).toMap
    (1L to 7L).foreach(s => assert(idBySub(0L) > idBySub(s),
      s"identity sub-0 mse not the maximum (sub $s)"))
  }

  test("pqTrainIteration: perm = Some(identity) == perm = None") {
    import graft.ext.Similarity
    val aniso = graft.queries.AnnQueries.anisoEmb(spark, sf0001)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2))
    val viaPerm = Similarity.pqTrainIteration(aniso, "vec_id", "vec",
        perm = Some(0 until 64)).collect()
      .map(r => key(r) -> (r.getDouble(3), r.getLong(4))).toMap
    val viaSlice = Similarity.pqTrainIteration(aniso, "vec_id", "vec")
      .collect().map(r => key(r) -> (r.getDouble(3), r.getLong(4))).toMap
    assert(viaPerm == viaSlice,
      "identity-layout gather disagrees with the contiguous-slice trainer")
  }

  test("q176 two-key funnel rolls up to q169's per-source funnel") {
    val two = SparkEntry.queries("q176_funnel_2key")(spark, sf0001)
    val rolled = two.groupBy(col("source"), col("drop_reason"))
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("n_words")).as("n_words"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    val one = SparkEntry.queries("q169_curation_funnel")(spark, sf0001)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(rolled == one, "two-key funnel does not roll up to q169")
    // within every (source, lang) cell the doc shares sum to 1
    two.groupBy(col("source"), col("lang"))
      .agg(sum(col("doc_share")).as("s")).collect().foreach { r =>
      assert(math.abs(r.getDouble(2) - 1.0) < 1e-3,
        s"${r.getString(0)}/${r.getString(1)} shares sum to ${r.getDouble(2)}")
    }
  }
}
