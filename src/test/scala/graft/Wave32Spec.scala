package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.queries.MixtureQueries

/** Round-19 OPTIMIZATION pin: the fused single-pass
  * [[MixtureQueries.chainedMixtureOrder]] (one ffdPack under the
  * origin-composite key + closed-form seq/position cursors + ONE
  * weightedInterleaveRank) must be row-for-row identical to the
  * per-step chained fold it replaces (q241's released→appended pair,
  * q250's three-step greatest/full-join cursor chain). The OLD fold
  * is inlined below VERBATIM (generalized over the step list exactly
  * as q250's was) and both forms run on an adversarial fixture:
  * phases ≥ 10 (longs — a string sort would misorder them), a source
  * absent from the middle step (full-join cursor keep), a source
  * first appearing in the last step (coalesce(seq0, 0)), fractional
  * final-epoch fills (partial-epoch cut), docs over the pack budget
  * (n_dropped > 0), multi-seq groups, and an empty trailing step. The
  * one-step chain is q236's single ordered block.
  */
class Wave32Spec extends SparkSpec {

  import org.apache.spark.sql.expressions.Window

  /** The round-18 per-step fold, verbatim from q250 (q241's two-step
    * released/appended fold is this with steps.size == 2 — same
    * cursor join, same orderedBlock, same shift joins).
    */
  private def oldChained(ph: DataFrame, fill: DataFrame,
      steps: Seq[(String, Column)]): DataFrame = {
    def seqsOf(df: DataFrame) = df.groupBy(col("source"), col("seq_id"))
      .agg(sum(col("n_kept")).as("kept_tokens"))
      .select(split(col("source"), ":").getItem(0).cast("long").as("phase"),
        split(col("source"), ":").getItem(1).as("source"),
        col("seq_id"), col("kept_tokens"))
    def orderedBlock(seqs: DataFrame): DataFrame = {
      val np = seqs.groupBy(col("phase"), col("source"))
        .agg(count(lit(1)).as("n_ps"))
      val ep = np.join(fill, Seq("source"))
        .withColumn("fe", floor(col("final_epochs")))
        .withColumn("n_part", floor(round(
          (col("final_epochs") - floor(col("final_epochs")).cast("double"))
            * col("n_ps").cast("double"), 6)))
        .select(col("phase"), col("source"), col("fe"), col("n_part"))
      val wEp = Window.partitionBy(col("phase"), col("source"), col("epoch"))
        .orderBy(col("draw"), col("seq_id"))
      val wSrc = Window.partitionBy(col("phase"), col("source"))
        .orderBy(col("epoch"), col("draw"), col("seq_id"))
      val rows = seqs.join(broadcast(ep), Seq("phase", "source"))
        .withColumn("epoch", explode(sequence(lit(0L), col("fe"))))
        .withColumn("draw", substring(md5(concat_ws(":",
          lit("graft-order-v2"), col("epoch").cast("string"),
          col("phase").cast("string"), col("source"),
          col("seq_id").cast("string"))), 1, 8))
        .withColumn("er", row_number().over(wEp).cast("long"))
        .filter(col("epoch") < col("fe") || col("er") <= col("n_part"))
        .withColumn("src_pos", row_number().over(wSrc).cast("long") - 1)
        .select(col("phase"), col("source"), col("seq_id"), col("epoch"),
          col("kept_tokens"), col("draw"), col("src_pos"))
      val spans = rows.groupBy(col("phase"), col("source"))
        .agg(count(lit(1)).as("n"))
      val wPh = Window.orderBy(col("phase"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val phOff = spans.groupBy(col("phase")).agg(sum(col("n")).as("np"))
        .withColumn("poff", coalesce(sum(col("np")).over(wPh), lit(0L)))
        .select(col("phase"), col("poff"))
      MixtureQueries.weightedInterleaveRank(
          rows.join(broadcast(spans.withColumnRenamed("n", "dn")),
            Seq("phase", "source")),
          spans)
        .join(broadcast(phOff), Seq("phase"))
        .withColumn("block_pos", col("phase_pos") + col("poff"))
    }
    var seqCursor: DataFrame = null // (source composite, seq0)
    var out: DataFrame = null
    steps.foreach { case (name, pred) =>
      val pk0 = MixtureQueries.ffdPack(ph.filter(pred))
      val pk =
        if (seqCursor == null) pk0
        else pk0.join(broadcast(seqCursor), Seq("source"), "left")
          .withColumn("seq_id", col("seq_id") + coalesce(col("seq0"), lit(0L)))
          .drop("seq0")
      val mx = pk.groupBy(col("source"))
        .agg((max(col("seq_id")) + 1).as("m"))
      seqCursor =
        if (seqCursor == null) mx.withColumnRenamed("m", "seq0")
        else seqCursor.withColumnRenamed("seq0", "p")
          .join(mx, Seq("source"), "full")
          .select(col("source"),
            greatest(coalesce(col("p"), lit(0L)),
              coalesce(col("m"), lit(0L))).as("seq0"))
      val blk = orderedBlock(seqsOf(pk))
      val shifted =
        if (out == null) blk
        else {
          val cumPs = out.groupBy(col("phase"), col("source"))
            .agg(count(lit(1)).as("rc"))
          val cumTot = out.agg(count(lit(1)).as("tc"))
          blk.join(broadcast(cumPs), Seq("phase", "source"), "left")
            .withColumn("src_pos",
              col("src_pos") + coalesce(col("rc"), lit(0L)))
            .drop("rc")
            .crossJoin(broadcast(cumTot))
            .withColumn("block_pos", col("block_pos") + col("tc"))
            .drop("tc")
        }
      val tagged = shifted.withColumn("origin", lit(name))
      out = if (out == null) tagged else out.unionByName(tagged)
    }
    out.select(col("block_pos").as("global_pos"), col("phase"),
        col("source"), col("seq_id"), col("epoch"), col("src_pos"),
        col("kept_tokens"), col("draw"), col("origin"))
      .orderBy(col("global_pos"))
  }

  /** Adversarial phased corpus: step membership = doc_id % 3. */
  private def fixture: (DataFrame, DataFrame) = {
    import spark.implicits._
    // (phase, source, steps the source ships in, docs per step)
    val groups = Seq(
      (0L, "web", Seq(0, 1, 2), 7),
      (0L, "code", Seq(0, 1, 2), 5),
      (1L, "web", Seq(0, 2), 6),     // absent from the MIDDLE step
      (1L, "books", Seq(1, 2), 5),
      (11L, "web", Seq(0, 1, 2), 6), // phase ≥ 10: long vs string sort
      (11L, "late", Seq(2), 8),      // first appears in the LAST step
      (2L, "gap", Seq(0, 2), 4))     // another middle gap
    var id = 0L
    val rows = groups.flatMap { case (phase, src, inSteps, k) =>
      inSteps.flatMap { st =>
        (0 until k).map { _ =>
          id += 3
          val docId = id + st // doc_id % 3 == st
          // sizes straddle the 512 pack budget; deterministic variety
          val n = 37L + (docId * 131) % 700
          (docId, s"$phase:$src", n)
        }
      }
    }
    val ph = rows.toDF("doc_id", "source", "n_tokens")
    val fill = Seq(("web", 1.5), ("code", 0.75), ("books", 2.0),
      ("late", 1.25), ("gap", 2.25)).toDF("source", "final_epochs")
    (ph, fill)
  }

  private def steps3 = Seq(
    ("released", pmod(col("doc_id"), lit(3)) === 0),
    ("append1", pmod(col("doc_id"), lit(3)) === 1),
    ("append2", pmod(col("doc_id"), lit(3)) === 2))

  private def collectAll(df: DataFrame): Seq[Seq[Any]] = {
    val out = df.collect().toSeq.map(_.toSeq)
    // global_pos must already be a total order — pin that too, so the
    // .orderBy(global_pos) presentation is deterministic
    assert(out.map(_.head).distinct.size == out.size,
      "global_pos is not unique")
    out.sortBy(_.head.asInstanceOf[Long])
  }

  /** The fused order and the old fold give the same rows on the fixture. */
  private def assertSameAsOldFold(steps: Seq[(String, Column)]): Unit = {
    val (ph, fill) = fixture
    val old = collectAll(oldChained(ph, fill, steps))
    val neu = collectAll(MixtureQueries.chainedMixtureOrder(ph, fill, steps))
    assert(neu.size == old.size && neu.nonEmpty)
    old.zip(neu).zipWithIndex.foreach { case ((o, n), i) =>
      assert(n == o, s"row $i differs: old=$o new=$n")
    }
  }

  test("chainedMixtureOrder ≡ the per-step chained fold — 3-step " +
      "chain (q250 shape), middle-gap + late sources, phase ≥ 10") {
    assertSameAsOldFold(steps3)
  }

  test("chainedMixtureOrder ≡ the per-step chained fold — 2-step " +
      "chain (q241 shape)") {
    assertSameAsOldFold(Seq(
      ("released", pmod(col("doc_id"), lit(3)) =!= 2),
      ("appended", pmod(col("doc_id"), lit(3)) === 2)))
  }

  test("chainedMixtureOrder ≡ the per-step chained fold — 1-step " +
      "chain (q236 shape)") {
    assertSameAsOldFold(Seq(("all", lit(true))))
  }

  test("chainedMixtureOrder ≡ the per-step chained fold — empty " +
      "trailing step contributes nothing and breaks nothing") {
    assertSameAsOldFold(steps3 :+ (("phantom", lit(false))))
  }
}
