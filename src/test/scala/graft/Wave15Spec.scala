package graft

import org.apache.spark.sql.functions._

/** Value-level pins for the wave-15 queries (q189–q192) beyond the
  * DuckDB gate: the streaming sketches land EXACTLY what a batch
  * rebuild lands (histogram merge identity, heavy-hitter set
  * identity), PSI's term-wise non-negativity and population
  * accounting, and the packing manifest's conservation laws.
  */
class Wave15Spec extends SparkSpec {

  private def isDelta(id: Long): Boolean = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8"))
    "012".contains(f"${h(0) & 0xff}%02x".charAt(0))
  }

  test("q189 streamed histogram == batch rebuild under the same boundaries") {
    val streamed = SparkEntry.queries("q189_stream_histogram")(spark, sf0001)
      .collect().map(_.toSeq).toSeq
    val docs = graft.util.Tables.documents(spark, sf0001)
    val bounds = docs
      .filter(substring(md5(col("doc_id").cast("string")), 1, 1)
        .isin("0", "1", "2") === false)
      .groupBy(col("source"))
      .agg(min(col("n_chars")).as("lo"), max(col("n_chars")).as("hi"))
    val rebuilt = graft.queries.TextQueries.histReport(docs,
        graft.queries.TextQueries.histBinCounts(docs, bounds))
      .collect().map(_.toSeq).toSeq
    assert(streamed == rebuilt,
      "streamed sketch report differs from the batch rebuild")
  }

  test("q190 streamed heavy hitters == q186's batch result, row for row") {
    val streamed = SparkEntry.queries("q190_stream_heavy_hitters")(
      spark, sf0001).collect().map(_.toSeq).toSeq
    val batch = SparkEntry.queries("q186_heavy_hitters")(spark, sf0001)
      .collect().map(_.toSeq).toSeq
    assert(streamed == batch,
      "streaming sketch maintenance landed a different heavy-hitter set")
    assert(streamed.nonEmpty, "vacuous: no heavy hitters")
  }

  test("q191 PSI: non-negative, and the two slices account for every doc") {
    val rows = SparkEntry.queries("q191_psi_drift")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val bySource = graft.util.Tables.documents(spark, sf0001)
      .select(col("source"), col("doc_id")).collect()
      .groupBy(_.getString(0))
    rows.foreach { r =>
      // every PSI term (p_d - p_b)·ln(p_d/p_b) is >= 0, so the sum is
      assert(r.getDouble(3) >= 0.0, s"${r.getString(0)} psi negative")
      val ids = bySource(r.getString(0)).map(_.getLong(1))
      assert(r.getLong(1) == ids.count(!isDelta(_)),
        s"${r.getString(0)} n_base mismatch")
      assert(r.getLong(2) == ids.count(isDelta),
        s"${r.getString(0)} n_delta mismatch")
    }
    // the delta ingest is a different random slice of the same
    // generator, so SOME drift signal must register somewhere
    assert(rows.exists(_.getDouble(3) > 0.0), "all PSI exactly zero")
  }

  test("q192 packing manifest: conservation, contiguity, in-seq offsets") {
    val rows = SparkEntry.queries("q192_concat_chunk")(spark, sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    rows.groupBy(_._2).foreach { case (src, ds) =>
      val ordered = ds.sortBy(_._1)
      // offsets replay the running total exactly
      var off = 0L
      ordered.foreach { case (id, _, n, sf, sl, oin) =>
        assert(sf == off / 512, s"$src doc $id seq_first")
        assert(sl == (off + n - 1) / 512, s"$src doc $id seq_last")
        assert(oin == off % 512 && oin >= 0 && oin < 512,
          s"$src doc $id offset_in_seq")
        assert(sl >= sf, s"$src doc $id inverted span")
        off += n
      }
      // every sequence index up to the last is produced (no gaps):
      // token positions are contiguous by construction, so the last
      // doc's seq_last must cover ceil(total/512) sequences
      val total = ordered.map(_._3).sum
      assert(ordered.last._5 == (total - 1) / 512,
        s"$src last sequence index does not match the token total")
      assert(ordered.head._4 == 0L, s"$src first doc not in sequence 0")
    }
  }
}
