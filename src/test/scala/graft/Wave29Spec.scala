package graft

import org.apache.spark.sql.functions._

/** Round-18 pins. Opens with the VERDICT r17 #1 hardening gate: the
  * weighted closed-form rank must stay exact PAST the Long overflow
  * wall (~3e9 rows in one source — exactly the regime its Scaladoc
  * advertises for a 100 TB corpus with a dominant source). The spans
  * are synthetic — the rank is pure arithmetic over the bounded span
  * broadcast, so no big data is needed: a handful of manifest rows
  * with n and src_pos in the billions exercise every cross product
  * the formula evaluates, compared against BigInt truth.
  */
class Wave29Spec extends SparkSpec {

  test("weightedInterleaveRank: exact past the Long overflow wall " +
      "(DECIMAL-widened cross products vs BigInt truth)") {
    import spark.implicits._
    // two sources in the billions: a × b cross products reach 1.2e19,
    // past Long.MaxValue (9.22e18) — the regime the r17 verdict named
    val nA = 3000000000L
    val nB = 4000000000L
    val spans = Seq((1L, "a", nA), (1L, "b", nB))
      .toDF("phase", "source", "n")
    val manifest = Seq(
      (1L, "a", 0L, nA), (1L, "a", 1L, nA),
      (1L, "a", 1500000000L, nA), (1L, "a", 2999999999L, nA),
      (1L, "b", 0L, nB), (1L, "b", 2249999999L, nB),
      (1L, "b", 3999999999L, nB))
      .toDF("phase", "source", "src_pos", "dn")
    val spanList = Seq(("a", nA), ("b", nB))
    def truth(source: String, srcPos: Long, dn: Long): BigInt =
      spanList.map { case (s, n) =>
        val prod = BigInt(srcPos + 1) * BigInt(n)
        val below = ((prod - 1) / BigInt(dn)).min(BigInt(n))
        val tie = if (s < source && prod % BigInt(dn) == 0) BigInt(1)
          else BigInt(0)
        below + tie
      }.sum
    val got = graft.queries.MixtureQueries.weightedInterleaveRank(manifest, spans)
      .select(col("source"), col("src_pos"), col("dn"), col("phase_pos"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.length == 7)
    got.foreach { case (src, pos, dn, rank) =>
      val want = truth(src, pos, dn)
      assert(want.isValidLong && BigInt(rank) == want,
        s"$src/$pos: widened rank $rank != BigInt truth $want")
    }
    // the regime is genuinely adversarial: the raw Long arithmetic
    // WOULD have wrapped on the big rows (documents why the widening
    // exists — if this stops holding the fixture lost its teeth)
    val wrapped = spanList.map { case (_, n) =>
      ((3000000000L * n - 1) / nA).min(n) }.sum
    assert(BigInt(wrapped) != truth("a", 2999999999L, nA),
      "fixture no longer exercises the overflow regime")
    // and the last row of each source lands at the span total minus
    // its own tie-free tail — cheap structural sanity on the formula
    val total = nA + nB
    val lastA = got.find(r => r._1 == "a" && r._2 == nA - 1).get._4
    val lastB = got.find(r => r._1 == "b" && r._2 == nB - 1).get._4
    assert(lastB == total - 1, "last row of the longest source must rank last")
    assert(lastA < total - 1 && lastA > total - 3,
      "last row of the shorter source must rank near the tail")
  }

  test("q241 mixture append: released block frozen as a dense prefix, " +
      "appended block a weighted-geometry tail, seq cursor past the " +
      "released max, per-block closed form ≡ exact-fraction sort") {
    val rows = SparkEntry.queries("q241_mixture_append")(spark, sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getString(7), r.getString(8)))
    val rel = rows.filter(_._8 == "released")
    val app = rows.filter(_._8 == "appended")
    assert(rel.nonEmpty && app.nonEmpty)
    // dense global order: released exactly [0, |rel|), appended the tail
    assert(rows.sortBy(_._1).map(_._1).toSeq == rows.indices.map(_.toLong))
    assert(rel.map(_._1).max == rel.length - 1L,
      "a released position moved past the cursor — immutability broken")
    assert(app.map(_._1).min == rel.length.toLong,
      "the appended tail must start exactly at cursor |v1|")
    // cursor discipline at the composite key: every appended seq id
    // is past the released per-(phase, source) max
    val relMaxSeq = rel.groupBy(r => (r._2, r._3))
      .map { case (k, rs) => k -> rs.map(_._4).max }
    app.foreach { r =>
      relMaxSeq.get((r._2, r._3)).foreach(mx =>
        assert(r._4 > mx, s"appended seq ${r._4} not past released max $mx"))
    }
    // draws are globally distinct across blocks and epochs
    val draws = rows.map(r => (r._2, r._3, r._4, r._5, r._7))
    assert(draws.distinct.length == draws.length, "draw collision")
    // per block: phases contiguous, and the closed form reproduces
    // the exact-fraction sort on the block's LOCAL positions
    def checkBlock(blk: Array[(Long, Long, String, Long, Long, Long,
        String, String)], off: Map[(Long, String), Long]): Unit = {
      val phaseOf = blk.sortBy(_._1).map(_._2)
      assert(phaseOf.sameElements(phaseOf.sorted),
        "a phase interleaves into another phase's block")
      blk.groupBy(_._2).foreach { case (phase, ph) =>
        val n = ph.groupBy(_._3).map { case (s, rs) => s -> rs.length.toLong }
        def local(r: (Long, Long, String, Long, Long, Long, String,
            String)) = r._6 - off.getOrElse((r._2, r._3), 0L)
        val sorted = ph.sortWith { (a, b) =>
          val l = (local(a) + 1) * n(b._3); val r = (local(b) + 1) * n(a._3)
          if (l != r) l < r else a._3 < b._3
        }
        val base = ph.map(_._1).min
        sorted.zipWithIndex.foreach { case (r, i) =>
          assert(r._1 == base + i,
            s"phase $phase ${r._3}/${r._4}: closed form != fraction sort")
        }
      }
    }
    checkBlock(rel, Map.empty)
    val relCnt = rel.groupBy(r => (r._2, r._3))
      .map { case (k, rs) => k -> rs.length.toLong }
    checkBlock(app, relCnt)
  }

  test("q242 streamed OPQ index: identity perm ≡ the identity builder; " +
      "the dealt layout is ENGAGED (codes differ from q232's); " +
      "base/delta tile the md5 rule") {
    import graft.ext.Similarity
    val emb = graft.util.Tables.embeddings(spark, sf0001)
      .limit(200)
    // a tiny shared bundle: any coarse/codebook works for the
    // identity-equivalence pin — the two builders must agree code
    // for code when perm = identity
    val coarse = Seq(0 -> Seq.fill(64)(0.05), 1 -> Seq.fill(64)(-0.05))
    val cb = (0 until 8).map(s => s ->
      Seq(Seq.fill(8)(0.1), Seq.fill(8)(-0.1), Seq.fill(8)(0.0))).toMap
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df
      .select(col("cell"), col("id"),
        array_join(transform(col("code"), _.cast("string")), ",").as("c"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val a = rowsOf(Similarity.ivfPqResidualIndex(
      emb, "vec_id", "embedding", coarse, cb, perm = None))
    val b = rowsOf(Similarity.ivfPqResidualIndex(
      emb, "vec_id", "embedding", coarse, cb, perm = Some(0 until 64)))
    assert(a.nonEmpty && a == b,
      "identity-perm builder must be value-identical to the identity one")
    // the gated row: base/delta labels tile the md5 rule; every code
    // is 8 bytes; the frozen layout actually changes codes vs q232
    def gated(name: String) =
      SparkEntry.queries(name)(spark, sf0001).collect()
        .map(r => (r.getLong(1), r.getString(2), r.getString(3)))
    val opq = gated("q242_stream_opq_index")
    val idn = gated("q232_stream_pq_index").map(r => r._1 -> r._2).toMap
    assert(opq.nonEmpty)
    val md = java.security.MessageDigest.getInstance("MD5")
    def hex1(id: Long) = md.digest(id.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 1)
    opq.foreach { case (id, code, src) =>
      assert(code.split(",").length == 8, s"$id: code must be m=8 bytes")
      val want = if (Set("0", "1", "2")(hex1(id))) "delta" else "base"
      assert(src == want, s"$id: src label breaks the md5 rule")
    }
    assert(opq.map(_._1).toSet == idn.keySet,
      "OPQ index must cover exactly the q232 population")
    assert(opq.exists { case (id, code, _) => idn(id) != code },
      "the frozen layout left every code unchanged — perm not engaged")
  }

  test("q243 ADC+R: the exact re-rank recovers recall over the pure " +
      "ADC leg at shortlist-bounded cost") {
    val rows = SparkEntry.queries("q243_adc_rerank")(spark, sf0001)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(rows.map(_._1).toSeq == Seq("adc", "adc_rerank"))
    def rd(v: Double) = BigDecimal(v)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    rows.foreach { case (l, _, nt, nf, rec) =>
      assert(nt == 150, s"$l: truth side should be 50 queries x top-3")
      assert(nf >= 0 && nf <= nt && rec == rd(nf.toDouble / nt),
        s"$l: recall arithmetic broken")
    }
    val byL = rows.map(r => r._1 -> r).toMap
    assert(byL("adc")._2 == 3L && byL("adc_rerank")._2 == 10L)
    // same candidates, exact scores on the shortlist: the rerank can
    // only fix quantization mistakes, and on the aniso fixture (the
    // widest ADC gap — q237's 0.11 identity leg) it must visibly
    // recover some of it
    assert(byL("adc_rerank")._4 > byL("adc")._4,
      "the exact re-rank must recover recall on the aniso fixture")
  }

  test("q245 rerank sweep: recall and cost monotone in the shortlist, " +
      "endpoints cross-pin q243's two legs") {
    val rows = SparkEntry.queries("q245_rerank_operating_point")(
        spark, sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4)))
    assert(rows.map(_._1).toSeq == Seq(3L, 5L, 10L, 20L))
    def rd(v: Double) = BigDecimal(v)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    rows.foreach { case (ks, nt, nf, rec, ne) =>
      assert(nt == 150 && rec == rd(nf.toDouble / nt),
        s"k'=$ks: recall arithmetic broken")
      assert(ne >= 0, s"k'=$ks: negative exact-dot budget")
    }
    // monotone: a bigger shortlist can only swap a displaced truth
    // item for another truth item (exact-IP argument), and can only
    // cost more exact dots
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b._3 >= a._3, s"recall must be monotone in k' (${a._1}->${b._1})")
      assert(b._5 >= a._5, s"cost must be monotone in k' (${a._1}->${b._1})")
    }
    // endpoint cross-pins: k'=3 re-ranks the pure-ADC top-3 SET (same
    // found count as q243's adc leg); k'=10 IS q243's rerank leg
    val q243 = SparkEntry.queries("q243_adc_rerank")(spark, sf0001)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    val byK = rows.map(r => r._1 -> r._3).toMap
    assert(byK(3L) == q243("adc"), "k'=3 must equal the pure-ADC set")
    assert(byK(10L) == q243("adc_rerank"), "k'=10 must equal q243's rerank")
  }

  test("q246 OPQ serving: the perm LUT path over the BUILT index ≡ " +
      "the direct corpus encode path row-for-row; card arithmetic") {
    import graft.ext.Similarity
    // serving equivalence on the real frozen bundle at sf0.001: the
    // artifact round-trip (encode -> parquet-shape frame -> LUT scan)
    // must reproduce the direct path exactly
    val s = spark
    val emb = graft.util.Tables.embeddings(s, sf0001)
    val q = emb.filter(col("vec_id") < 50)
    val (coarse, perm, cbRows) =
      graft.queries.AnnQueries.ivfPqOpqTrained(s, sf0001)
    val cb = cbRows.groupBy(_._1)
      .map { case (sub, xs) => sub -> xs.sortBy(_._2).map(_._3) }
    val idx = Similarity.ivfPqResidualIndex(emb, "vec_id", "embedding",
      coarse, cb, perm = Some(perm))
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val served = rowsOf(Similarity.ivfPqAdcTopKIndex(q, idx,
      "vec_id", "embedding", k = 3, coarse, cb, perm = Some(perm)))
    val direct = rowsOf(Similarity.ivfPqAdcTopKOn(q, emb,
      "vec_id", "embedding", k = 3, coarse, cb, residual = true,
      perm = Some(perm)))
    assert(served.nonEmpty && served == direct,
      "serving the built artifact must equal the direct encode path")
    // the gated card: two layouts, same truth, valid arithmetic
    val rows = SparkEntry.queries("q246_opq_index_serving")(spark, sf0001)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    assert(rows.map(_._1).toSeq == Seq("balanced", "identity"))
    def rd(v: Double) = BigDecimal(v)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    rows.foreach { case (l, nt, nf, rec) =>
      assert(nt == 150 && nf >= 0 && nf <= nt && rec == rd(nf.toDouble / nt),
        s"$l: card arithmetic broken")
    }
  }

  test("q250 mixture chain: dense prefix-immutable blocks, chained " +
      "seq cursors, per-block closed form ≡ fraction sort, released " +
      "block identical to q241's") {
    val rows = SparkEntry.queries("q250_mixture_chain")(spark, sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getString(7), r.getString(8)))
    val byO = rows.groupBy(_._8)
    assert(Seq("released", "append1", "append2").forall(o =>
      byO.get(o).exists(_.nonEmpty)), "all three chain steps must ship rows")
    // dense, with the blocks in chain order — prefix immutability's
    // positional half
    assert(rows.sortBy(_._1).map(_._1).toSeq == rows.indices.map(_.toLong))
    val rel = byO("released"); val a1 = byO("append1"); val a2 = byO("append2")
    assert(rel.map(_._1).max == rel.length - 1L)
    assert(a1.map(_._1).min == rel.length.toLong &&
      a1.map(_._1).max == rel.length + a1.length - 1L)
    assert(a2.map(_._1).min == (rel.length + a1.length).toLong)
    // chained seq cursors: every step's seq ids are past the running
    // per-(phase, source) max of everything shipped before it
    def maxSeq(blks: Array[(Long, Long, String, Long, Long, Long,
        String, String)]) = blks.groupBy(r => (r._2, r._3))
      .map { case (k, rs) => k -> rs.map(_._4).max }
    val m0 = maxSeq(rel); val m01 = maxSeq(rel ++ a1)
    a1.foreach(r => m0.get((r._2, r._3)).foreach(mx =>
      assert(r._4 > mx, s"append1 seq ${r._4} not past released max")))
    a2.foreach(r => m01.get((r._2, r._3)).foreach(mx =>
      assert(r._4 > mx, s"append2 seq ${r._4} not past the running max")))
    // draws globally distinct
    val draws = rows.map(r => (r._2, r._3, r._4, r._5, r._7))
    assert(draws.distinct.length == draws.length, "draw collision")
    // per block: weighted closed form ≡ exact-fraction sort on LOCAL
    // positions (offsets reconstructed from the prior blocks)
    def checkBlock(blk: Array[(Long, Long, String, Long, Long, Long,
        String, String)], off: Map[(Long, String), Long]): Unit =
      blk.groupBy(_._2).foreach { case (phase, phB) =>
        val n = phB.groupBy(_._3).map { case (s, rs) => s -> rs.length.toLong }
        def local(r: (Long, Long, String, Long, Long, Long, String,
            String)) = r._6 - off.getOrElse((r._2, r._3), 0L)
        val sorted = phB.sortWith { (a, b) =>
          val l = (local(a) + 1) * n(b._3); val r = (local(b) + 1) * n(a._3)
          if (l != r) l < r else a._3 < b._3
        }
        val base = phB.map(_._1).min
        sorted.zipWithIndex.foreach { case (r, i) =>
          assert(r._1 == base + i,
            s"phase $phase ${r._3}/${r._4}: closed form != fraction sort")
        }
      }
    def cnt(blks: Array[(Long, Long, String, Long, Long, Long, String,
        String)]) = blks.groupBy(r => (r._2, r._3))
      .map { case (k, rs) => k -> rs.length.toLong }
    checkBlock(rel, Map.empty)
    checkBlock(a1, cnt(rel))
    checkBlock(a2, cnt(rel ++ a1))
    // the chain's step 1 is EXACTLY q241's released block (two
    // independently registered queries, same frozen artifacts)
    val q241rel = SparkEntry.queries("q241_mixture_append")(spark, sf0001)
      .collect()
      .filter(_.getString(8) == "released")
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getString(7)))
      .toSet
    assert(rel.map(r => (r._1, r._2, r._3, r._4, r._5, r._6, r._7)).toSet
      == q241rel, "chain step 1 diverged from q241's released block")
  }

  test("q251 operating grid: k'-monotone at fixed probe, cost columns " +
      "consistent, the probe-4 column cross-pins q243's legs") {
    val rows = SparkEntry.queries("q251_ann_operating_grid")(spark, sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6)))
    assert(rows.map(r => (r._1, r._2)).toSeq ==
      Seq((1L, 3L), (1L, 10L), (4L, 3L), (4L, 10L), (16L, 3L), (16L, 10L)))
    def rd(v: Double) = BigDecimal(v)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    rows.foreach { case (p, ks, nc, ne, nt, nf, rec) =>
      assert(nt == 150 && rec == rd(nf.toDouble / nt),
        s"($p,$ks): recall arithmetic broken")
      // the rerank never spends more exact dots than the shortlist
      // could hold, and never scans more than the probed candidates
      assert(ne <= 50 * ks && ne <= nc, s"($p,$ks): cost columns broken")
    }
    // q245's theorem per fixed candidate set: recall and cost
    // monotone in k' at fixed probe
    rows.groupBy(_._1).foreach { case (p, g) =>
      val s = g.sortBy(_._2)
      s.sliding(2).foreach { case Array(a, b) =>
        assert(b._7 >= a._7 && b._4 >= a._4,
          s"probe $p: k' monotonicity broken")
      }
    }
    // candidate mass strictly grows with the probe budget
    val ncByP = rows.groupBy(_._1).map { case (p, g) => p -> g.head._3 }
    assert(ncByP(1L) < ncByP(4L) && ncByP(4L) < ncByP(16L))
    // the probe-4 column IS q243's two legs (index path ≡ corpus
    // path at the identity layout)
    val q243 = SparkEntry.queries("q243_adc_rerank")(spark, sf0001)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    val byCell = rows.map(r => (r._1, r._2) -> r._6).toMap
    assert(byCell((4L, 3L)) == q243("adc"),
      "(4,3) must equal q243's pure-ADC leg")
    assert(byCell((4L, 10L)) == q243("adc_rerank"),
      "(4,10) must equal q243's rerank leg")
  }

  test("q248 serving stack: the rerank leg strictly recovers recall " +
      "over the index-ADC leg on the deployed configuration") {
    val rows = SparkEntry.queries("q248_serving_stack")(spark, sf0001)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(rows.map(_._1).toSeq == Seq("adc_index", "adc_index_rerank"))
    def rd(v: Double) = BigDecimal(v)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    rows.foreach { case (l, _, nt, nf, rec) =>
      assert(nt == 150 && nf >= 0 && nf <= nt && rec == rd(nf.toDouble / nt),
        s"$l: card arithmetic broken")
    }
    val byL = rows.map(r => r._1 -> r).toMap
    assert(byL("adc_index")._2 == 3L && byL("adc_index_rerank")._2 == 10L)
    // exact re-scoring of a superset shortlist can only fix
    // quantization mistakes; on this fixture it roughly doubles
    // recall (sf0.01: 17 -> 34 of 150)
    assert(byL("adc_index_rerank")._4 > byL("adc_index")._4,
      "the rerank leg must strictly recover recall")
  }

  test("q249 PQ-index tombstones: retained rows are q232's minus " +
      "exactly the md5-'f' ids, codes untouched (no re-encode)") {
    def rowsOf(name: String) =
      SparkEntry.queries(name)(spark, sf0001).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          r.getString(3)))
    val retained = rowsOf("q249_pq_index_tombstones")
    val full = rowsOf("q232_stream_pq_index")
    val md = java.security.MessageDigest.getInstance("MD5")
    def hex1(id: Long) = md.digest(id.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 1)
    val tombed = full.filter(r => hex1(r._2) == "f")
    assert(retained.nonEmpty && tombed.nonEmpty,
      "the tombstone rule must be engaged on the fixture")
    // deletion = a pure row drop: the survivors keep cell and code
    // verbatim (frozen artifacts untouched), the tombstoned ids are
    // gone, nothing else moved
    assert(retained.map(r => (r._1, r._2, r._3)).toSet ==
      full.filter(r => hex1(r._2) != "f")
        .map(r => (r._1, r._2, r._3)).toSet,
      "retained rows must be the maintained index minus the 'f' ids")
    assert(retained.forall(r => hex1(r._2) != "f"),
      "a tombstoned id survived the delete")
  }

  test("q247 takedown stream cost: conservation, engaged mask, and " +
      "the occurrence counts are q236's group counts exactly") {
    val rows = SparkEntry.queries("q247_takedown_stream_cost")(
        spark, sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getDouble(7)))
    assert(rows.nonEmpty && rows.exists(_._6 > 0),
      "the tombstone rule must be engaged in the stream")
    def rd(v: Double) = BigDecimal(v)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    rows.foreach { case (ph, src, nr, nm, st, mt, lt, rate) =>
      assert(mt + lt == st && mt >= 0 && lt >= 0 && nm <= nr,
        s"$ph/$src: stream-token conservation broken")
      assert(rate == rd(mt.toDouble / st), s"$ph/$src: mask rate broken")
    }
    // the cost card's multiplicity IS the committed order's: per
    // (phase, source), n_rows must equal q236's occurrence count
    val q236 = SparkEntry.queries("q236_mixture_order")(spark, sf0001)
      .collect()
      .map(r => (r.getLong(1), r.getString(2)))
      .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    assert(rows.map(r => (r._1, r._2) -> r._3).toMap == q236,
      "cost-card occurrence counts diverge from the committed order")
  }

  test("q244 tombstones: conservation per row and per shard, positions " +
      "are q230's verbatim, the mask rule follows md5, the span " +
      "fingerprint is empty iff nothing is masked") {
    val rows = SparkEntry.queries("q244_order_tombstones")(spark, sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7),
        r.getLong(8), r.getLong(9), r.getLong(10), r.getString(11),
        r.getLong(12), r.getLong(13)))
    assert(rows.nonEmpty && rows.exists(_._9 > 0),
      "the tombstone rule must be engaged on the fixture")
    val emptyFp = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest("".getBytes("UTF-8")).map("%02x".format(_)).mkString
        .substring(0, 16)
    }
    rows.foreach { r =>
      // conservation: masked + live = kept, and masked ≤ kept
      assert(r._10 + r._11 == r._8 && r._10 >= 0 && r._11 >= 0,
        s"seq ${r._2}/${r._3}: token conservation broken")
      assert((r._9 == 0) == (r._12 == emptyFp),
        s"seq ${r._2}/${r._3}: span fp disagrees with the mask count")
    }
    // per-shard accounting = the shard group sums, on every row
    val byShard = rows.groupBy(_._4)
    byShard.foreach { case (sh, rs) =>
      val m = rs.map(_._10).sum; val l = rs.map(_._11).sum
      rs.foreach(r => assert(r._13 == m && r._14 == l,
        s"shard $sh: windowed loss accounting disagrees with the sums"))
    }
    // released positions NEVER move under deletion: the order columns
    // are q230's row-for-row
    val q230 = SparkEntry.queries("q230_training_order")(spark, sf0001)
      .collect()
      .map(r => (r.getString(1), r.getLong(2)) ->
        (r.getLong(0), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    assert(rows.length == q230.size)
    rows.foreach { r =>
      val (gp, sh, so, sp) = q230((r._2, r._3))
      assert(r._1 == gp && r._4 == sh && r._5 == so && r._6 == sp,
        s"seq ${r._2}/${r._3}: a released position moved")
    }
  }
}
