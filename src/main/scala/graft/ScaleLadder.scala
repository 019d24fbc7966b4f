package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The sf-scale ladder for the dedup/ANN safety caps (VERDICT r7 #7):
  * for each fixture scale factor, the bucket/cell distributions every
  * capped candidate generator shuffles on, and how close the hottest
  * key comes to its cap:
  *
  *   - MinHash r=2 band buckets (`Dedup.bandedSignatures` →
  *     (band, minhash) key; cap 10000 in `minhashCandidates`)
  *   - SimHash64 16-bit band buckets (q85's pigeonhole key; same cap)
  *   - IVF cells (`Similarity` assignment; cap 10000 in
  *     `semanticDedup`/ANN search)
  *   - span-hash keys (q92's 16-hex md5 prefix; windowed first-owner
  *     spills, no cap — recorded for the distribution evidence)
  *
  * The measurement is a pure function over one sf dir so it has two
  * entry points sharing one rule set (the PlanAudit discipline,
  * VERDICT r8 #3): [[report]] (`graft.Dev scale-ladder`) prints the
  * markdown rows committed as SCALE_LADDER.md; `ScaleLadderSpec`
  * asserts zero over-cap keys at sf0.001 in every `sbt test` run, so
  * a fixture or banding change that opens a degenerate-bucket hole
  * fails CI instead of waiting for someone to re-run the dev main.
  */
object ScaleLadder {

  /** The four capped key families as (family, per-key sizes) frames —
    * `sizes` has columns (k string, n long).
    */
  private[graft] def familySizes(spark: SparkSession,
      d: String): Seq[(String, DataFrame)] = {
    import graft.ext.{Dedup, Similarity, TextAnalysis => TA}
    import graft.util.Tables
    val docs = Tables.documents(spark, d)
    def keyedSizes(keyed: DataFrame): DataFrame =
      keyed.groupBy(col("k")).agg(count(lit(1)).as("n"))
    Seq(
      "minhash-band" -> keyedSizes(
        Dedup.bandedSignatures(docs, "text", "doc_id", k = 8)
          .select(concat_ws("|", col("band"), col("minhash")).as("k"))),
      "simhash64-band" -> keyedSizes(
        docs.select(Dedup.simhash64(col("text")).as("sh"))
          .select(posexplode(array((0 until 4).map(b =>
            shiftright(col("sh"), b * 16).bitwiseAND(lit(0xffffL))): _*))
            .as(Seq("band", "nib")))
          .select(concat_ws("|", col("band"), col("nib")).as("k"))),
      "ivf-cell" ->
        Similarity.hotCells(Tables.embeddings(spark, d), "vec_id", "embedding",
            nCells = 16, cellCap = 0)
          .select(col("cell").cast("string").as("k"), col("cell_size").as("n")),
      "span-key" -> keyedSizes(
        docs.select(col("doc_id"), TA.wsTokens(lower(col("text"))).as("toks"))
          .withColumn("n_spans", ceil(size(col("toks")) / lit(8.0)).cast("long"))
          .filter(col("n_spans") >= 1)
          .select(posexplode(transform(sequence(lit(0L), col("n_spans") - 1),
            i => array_join(slice(col("toks"), (i * 8 + 1).cast("int"), lit(8)), " ")))
            .as(Seq("i", "span")))
          .select(substring(md5(col("span")), 1, 16).as("k"))),
      // q156/q158/q160's prune evidence: keys = the distinct candidate
      // ids the containment rescore BROADCASTS (its semi-join build
      // side), n = each id's pair degree (the multiplicity that made
      // the fused per-pair rescore 2.5x slower — a hub doc re-shingled
      // once per pair). Bounded by construction: pairs come from the
      // capped minhash buckets above
      "containment-pair-degree" -> keyedSizes(
        Dedup.minhashCandidates(
            Dedup.bandedSignatures(docs, "text", "doc_id", k = 8))
          .filter(col("n_bands") >= 2)
          .select(explode(array(col("a_id"), col("b_id"))).as("id"))
          .select(col("id").cast("string").as("k"))))
  }

  /** q175's deliberately skewed minhash-band family (half the corpus
    * stamped with one boilerplate text): the ONE ladder row where a
    * cap actually engages — at the rehearsal cap of 100, not the
    * production 10000 (the organic fixtures never get near either;
    * the rehearsal proves the trigger machinery, the production cap
    * stays the backstop). Oracle-gated end to end by q175.
    */
  private[graft] def skewedSizes(spark: SparkSession, d: String): DataFrame =
    graft.queries.DedupQueries.skewedSig(spark, d)
      .select(concat_ws("|", col("band"), col("minhash")).as("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n"))

  /** q178's embedding-family twin: half the vectors collapsed to one
    * constant direction, measured through the production `hotCells`
    * distribution (cap disabled = full sizes). One cell holds ~n/2.
    */
  private[graft] def skewedCellSizes(spark: SparkSession, d: String): DataFrame =
    graft.ext.Similarity.hotCells(
        graft.queries.Fragments.skewedEmb(spark, d), "vec_id", "embedding",
        nCells = 16, cellCap = 0)
      .select(col("cell").cast("string").as("k"), col("cell_size").as("n"))

  private[graft] val rehearsalCap = 100

  /** Distribution stats over a (k, n) sizes frame: (keys, max bucket,
    * p99 bucket, over-cap count). One bounded driver-side aggregate.
    */
  private[graft] def stats(sizes: DataFrame,
      cap: Int = 10000): (Long, Long, Long, Long) = {
    val row = sizes.agg(count(lit(1)).as("keys"),
      max(col("n")).as("mx"),
      expr("percentile_approx(n, 0.99)").as("p99"),
      sum(when(col("n") > cap, 1).otherwise(0)).as("over")).head()
    (row.getLong(0), row.getAs[Number](1).longValue(),
      row.getAs[Number](2).longValue(), row.getLong(3))
  }

  private[graft] def report(spark: SparkSession, sfs: Seq[String]): Unit = {
    println("| sf | family | keys | max bucket | p99 bucket | over-cap (10000) |")
    println("|---|---|---|---|---|---|")
    sfs.foreach { d =>
      val sf = new java.io.File(d).getName
      familySizes(spark, d).foreach { case (family, sizes) =>
        val (keys, mx, p99, over) = stats(sizes)
        println(s"| $sf | $family | $keys | $mx | $p99 | $over |")
      }
      val (keys, mx, p99, over) = stats(skewedSizes(spark, d), cap = rehearsalCap)
      println(s"| $sf | minhash-band-SKEWED (cap $rehearsalCap) | $keys | $mx | $p99 | $over |")
      val (ck, cm, cp, co) = stats(skewedCellSizes(spark, d), cap = rehearsalCap)
      println(s"| $sf | ivf-cell-SKEWED (cap $rehearsalCap) | $ck | $cm | $cp | $co |")
    }
  }
}
