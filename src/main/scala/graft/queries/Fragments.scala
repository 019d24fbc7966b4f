package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Similarity, TextAnalysis => TA}
import graft.util.Tables

import Artifacts.{artifact, sharedInputDir}

/** A query family: its registry queries and their DuckDB oracles. */
trait QueryFamily {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracleSql: Map[String, String]
}

/** The rules two or more query families share, each defined once per
  * engine: Spark helpers first, then their DuckDB oracle mirrors.
  * A helper only one family uses stays private to that family.
  */
object Fragments {
  type Q = (SparkSession, String) => DataFrame

  /** The q108 frozen-logistic per-doc quality score — (doc_id, source,
    * quality_score rounded at 6) — factored so q108 (the gate) and
    * q205 (the DoReMi step consuming per-source means of the SAME
    * score) cannot desynchronize on a coefficient.
    */
  private[queries] def docQuality(s: SparkSession, d: String): DataFrame =
    qualityOf(Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("text")))

  /** [[docQuality]] over an arbitrary (doc_id, source, text) frame —
    * factored so the streaming mixture maintenance (q214) can score
    * each arriving micro-batch with the IDENTICAL frozen coefficients
    * the batch chain (q212) and the q108 gate use.
    */
  private[queries] def qualityOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("source"), col("text"),
        TA.wsTokens(col("text")).as("toks"),
        TA.wsTokens(lower(col("text"))).as("ltoks"))
      .select(col("doc_id"), col("source"),
        size(col("toks")).cast("double").as("n_words"),
        TA.meanWordLenFromTokens(col("toks")).as("mwl"),
        TA.punctRatio(col("text")).as("punct"),
        TA.stopwordRatioFromTokens(col("ltoks")).as("stop"))
      .select(col("doc_id"), col("source"),
        qualityLogistic.as("quality_score"))

  /** q108's frozen logistic, rounded at 6, over the `n_words`, `mwl`,
    * `punct` and `stop` feature columns [[qualityOf]] builds (q116 and
    * q151 build the same features beside their label battery).
    */
  private[queries] def qualityLogistic: Column = {
    val z = lit(0.5) + lit(4.0) * col("stop") - lit(6.0) * col("punct") -
      lit(0.4) * abs(col("mwl") - lit(5.0)) +
      lit(0.15) * log(lit(1.0) + col("n_words"))
    round(lit(1.0) / (lit(1.0) + exp(-z)), 6)
  }

  /** The deterministic per-doc uniform draw of q119, q120, q133, q161
    * and q166: md5(doc_id)'s first 6 hex chars over 0xffffff, rounded
    * at 6.
    */
  private[queries] def md5Uniform: Column =
    round(conv(substring(md5(col("doc_id").cast("string")), 1, 6), 16, 10)
      .cast("double") / lit(16777215.0), 6)

  /** The corpus vocabulary rule shared by q63 (vocab construction) and
    * q88 (OOV scoring): whitespace tokens of lowercased text, top `k`
    * by (freq desc, term asc) — a TakeOrderedAndProject, so the result
    * is k-bounded however large the corpus. One definition so the two
    * consumers cannot desynchronize on tokenization or tie-break.
    */
  private[queries] def corpusVocab(s: SparkSession, d: String, k: Int): DataFrame =
    Tables.documents(s, d)
      .select(explode(TA.wsTokens(lower(col("text")))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("term")).limit(k)

  /** The corpus-wide banded-signature TABLE shared by the whole MinHash
    * dedup family (q22/q24/q45/q64/q91/q102/q109). At 100 TB signatures
    * are an output of the corpus build — computed once per version,
    * persisted as (doc_id, band, minhash) ~1% the corpus width — and
    * every dedup consumer SCANS that table rather than re-running the
    * shingle+minhash pass over raw text (q95 already proved the
    * read-back path incrementally; this is the same discipline for the
    * full-corpus consumers). Session-materialized on first use via
    * [[Artifacts.artifact]] (per-process, cleaned at JVM exit);
    * k=8 / r=2 / b=8 fixed because every consumer and every oracle is
    * calibrated to that banding. Value-identity with the recompute path
    * is inherent — bandedSignatures is per-row, so write+read-back
    * cannot change rows — and the unchanged DuckDB oracles gate it.
    */
  private[queries] def corpusSignatures(s: SparkSession, d: String): DataFrame =
    // Derived from the shared minima artifact (NOT raw text): the
    // banding step is pure array arithmetic, so the session pays the
    // full-text shingle+minhash scan exactly once across this table
    // AND the q201 sweep's r=1/r=4 bandings.
    artifact(s, d, "sig8")(
      Dedup.bandedSignaturesFromMinima(corpusMinima(s, d), r = 2))

  /** The 16 per-nibble minhash minima per doc — the one full-text
    * shingle+hash scan the whole LSH family derives from, persisted
    * once per session ([[corpusSignatures]]' discipline one stage
    * earlier). At corpus scale this is the table a build would
    * version alongside the signature table: |docs| rows x 16 short
    * strings.
    */
  private[queries] def corpusMinima(s: SparkSession, d: String): DataFrame =
    artifact(s, d, "minima16")(Tables.documents(s, d)
      .select(col("doc_id"), Dedup.minhashBands(col("text"), 8).as("mh")))

  /** The streaming ingest loop's generic per-batch candidate core,
    * shared by the MinHash (q115) and SimHash (q123) incremental
    * detectors: a batch signature frame `(band, minhash, delta_id,
    * payload...)` equi-joined against a persisted base signature frame
    * `(band, minhash, base_id, payload...)` on the banding key, pairs
    * counted and thresholded at `minBands`. Any extra payload columns
    * (e.g. the fingerprints a rescore needs) ride through the pair
    * aggregation via any_value — constant per (delta_id, base_id) by
    * construction since each id carries one signature.
    *
    * Carries the SAME degenerate-bucket safety valve as
    * [[graft.ext.Dedup.minhashCandidates]]: buckets whose base+batch
    * size exceeds `maxBucket` are dropped BEFORE the pair join (a
    * boilerplate bucket would otherwise emit |base|×|batch| rows into
    * the stage). The hot set is computed by one keyed count over the
    * union of the two key streams and removed from the batch side with
    * an anti-join — the hot frame is empty-to-tiny by construction
    * (SCALE_LADDER: zero over-cap buckets at every fixture scale), so
    * the anti-join broadcasts. Counting is per base+THIS-batch where
    * the batch paths (q91/q95, q85) count the whole corpus — identical
    * below the cap, i.e. everywhere outside degenerate boilerplate
    * buckets; see the q115 divergence note.
    */
  private[graft] def streamSigCandidates(batchSig: DataFrame,
      baseSig: DataFrame, minBands: Int, maxBucket: Int = 10000,
      baseCounts: Option[DataFrame] = None): DataFrame = {
    val capped =
      if (maxBucket > 0) {
        // Hot set = buckets where base+batch size exceeds the cap.
        // Computed as batch-side agg + join against base-side counts
        // (bn): value-identical to counting the union (bn + bb is the
        // union size; base-only buckets can't produce a pair so their
        // absence from the batch agg is harmless), but the base table
        // is no longer rescanned per micro-batch when `baseCounts`
        // carries the PERSISTED (band, minhash, bn) artifact a
        // deployment stores next to its signature table — counts are
        // additive, so that artifact is itself incrementally
        // maintainable. Without `baseCounts` the bn frame is derived
        // here (one agg, map-side combinable — still cheaper than the
        // former union+agg which shuffled base AND batch rows).
        val bn = baseCounts.getOrElse(
          baseSig.groupBy(col("band"), col("minhash"))
            .agg(count(lit(1)).as("bn")))
        val hot = batchSig.groupBy(col("band"), col("minhash"))
          .agg(count(lit(1)).as("bb"))
          .join(bn, Seq("band", "minhash"), "left")
          .filter(coalesce(col("bn"), lit(0L)) + col("bb") > maxBucket)
          .select(col("band"), col("minhash"))
        batchSig.join(hot, Seq("band", "minhash"), "left_anti")
      } else batchSig
    val joined = capped.join(baseSig, Seq("band", "minhash"))
    val payload = joined.columns
      .filterNot(Set("band", "minhash", "delta_id", "base_id"))
      .map(c => any_value(col(c)).as(c))
    joined.groupBy(col("delta_id"), col("base_id"))
      .agg(count(lit(1)).as("n_bands"), payload.toIndexedSeq: _*)
      .filter(col("n_bands") >= minBands)
  }

  /** q115's per-micro-batch body: the new batch's banded MinHash
    * signatures against the persisted base signature table — factored
    * out so the replay-idempotence spec can drive it directly.
    */
  private[graft] def streamBatchCandidates(batch: DataFrame,
      baseSig: DataFrame, maxBucket: Int = 10000,
      baseCounts: Option[DataFrame] = None): DataFrame =
    streamSigCandidates(
      Dedup.bandedSignatures(batch, "text", "doc_id", k = 8)
        .select(col("band"), col("minhash"), col("doc_id").as("delta_id")),
      baseSig.select(col("band"), col("minhash"), col("doc_id").as("base_id")),
      minBands = 2, maxBucket = maxBucket, baseCounts = baseCounts)
      .select(col("delta_id"), col("base_id"), col("n_bands"))

  /** The (band, minhash, bn) bucket counts of a signature table: the
    * persisted artifact the streaming cap consults instead of
    * rescanning the base signature table per micro-batch.
    */
  private def bucketCounts(sig: DataFrame): DataFrame =
    sig.groupBy(col("band"), col("minhash")).agg(count(lit(1)).as("bn"))

  /** The bucket counts of [[v1SigArtifact]] (q95's count key), read by
    * the MinHash streaming and cluster-ingest loops and the v1 bundle.
    */
  private[queries] def v1SigCountArtifact(s: SparkSession, d: String): DataFrame =
    artifact(s, d, "q95cnt")(bucketCounts(v1SigArtifact(s, d)))

  /** The bucket counts of [[v1SimhashSigArtifact]] (q123's count key). */
  private[queries] def v1SimhashCountArtifact(s: SparkSession, d: String): DataFrame =
    artifact(s, d, "q123cnt")(bucketCounts(v1SimhashSigArtifact(s, d)))

  /** The 64-bit SimHash banding shared by q85's detector, the q113
    * drop sets, and q123's streaming twin: 4 pigeonhole bands of 16
    * bits each — a pair within hamming distance 3 MUST agree exactly
    * on at least one band (in fact on >= 1 of any 4 with <= 3 flipped
    * bits), so the (band, nib) equi-join is a lossless candidate
    * filter for the <= 3 rescore. Keeps `sh` alongside so consumers
    * can rescore without a second corpus join.
    */
  private[queries] def sh64Sig(shFrame: DataFrame): DataFrame =
    shFrame.select(col("doc_id"), col("sh"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("sh"), b * 16).bitwiseAND(lit(0xffffL))): _*))
        .as(Seq("band", "minhash")))

  /** The (doc_id, sh, band, nib) frame q123 persists as the base
    * SimHash signature table — factored so the replay spec and the
    * interior-plan audit build the same frame the query writes.
    */
  private[graft] def simhashBaseSig(docs: DataFrame): DataFrame =
    sh64Sig(docs.select(col("doc_id"), Dedup.simhash64(col("text")).as("sh")))

  /** q123's per-micro-batch body: the batch's SimHash64 band
    * signatures against the persisted base signature table, exact
    * hamming rescore on the fingerprints carried through the pair
    * aggregation. Same shape as [[streamBatchCandidates]] over the
    * generic [[streamSigCandidates]] core.
    */
  private[graft] def streamBatchSimhash(batch: DataFrame,
      baseSig: DataFrame, maxBucket: Int = 10000,
      baseCounts: Option[DataFrame] = None): DataFrame = {
    val bsh = batch.select(col("doc_id"), Dedup.simhash64(col("text")).as("sh"))
    streamSigCandidates(
      sh64Sig(bsh).select(col("band"), col("minhash"),
        col("doc_id").as("delta_id"), col("sh").as("d_sh")),
      baseSig.select(col("band"), col("minhash"),
        col("doc_id").as("base_id"), col("sh").as("b_sh")),
      minBands = 3, maxBucket = maxBucket, baseCounts = baseCounts)
      .withColumn("hamming",
        bit_count(col("d_sh").bitwiseXOR(col("b_sh"))).cast("long"))
      .filter(col("hamming") <= 3)
      .select(col("delta_id"), col("base_id"), col("hamming"))
  }

  /** The containment family's shared rescore (q156/q158/q160): each
    * doc side is PRUNED to the ids that actually appear in a candidate
    * pair (broadcast semi-join on the candidate-id set — bounded by
    * 2×|pairs|, itself bounded by the capped banding) BEFORE any
    * shingle work, so gram arrays are computed for and shuffled with
    * candidate docs only — never the whole corpus. Per pair the
    * distinct-gram intersection is one hash-set `array_intersect`
    * over the two carried arrays. (Measured at sf0.1: a fused
    * per-pair NGramJaccard rescore that avoided carrying arrays
    * re-shingled each doc once per PAIR and ran 2.5x slower — pair
    * multiplicity, not array width, is the dominant cost here; the
    * prune bounds the array shuffle instead.)
    */
  private[queries] def containmentRescore(cand: DataFrame, leftId: String,
      rightId: String, leftDocs: DataFrame, rightDocs: DataFrame,
      leftCont: String, rightCont: String,
      onPersist: DataFrame => Unit = _ => ()): DataFrame = {
    // onPersist hands the cached frame to per-micro-batch callers
    // (q160) so they can unpersist after the batch action — otherwise
    // one cached candidate frame per batch accumulates for the session
    val candP = graft.util.Persist(cand)
    onPersist(candP)
    def grams(df: DataFrame, idCol: String) = df
      .join(broadcast(candP.select(col(idCol).as("doc_id")).distinct()),
        Seq("doc_id"), "left_semi")
      .select(col("doc_id"), Dedup.charShingles(col("text"), 8).as("g"))
    candP
      .join(grams(leftDocs, leftId).select(col("doc_id").as(leftId),
        col("g").as("ga")), Seq(leftId))
      .join(grams(rightDocs, rightId).select(col("doc_id").as(rightId),
        col("g").as("gb")), Seq(rightId))
      .select(col(leftId), col(rightId),
        size(col("ga")).cast("long").as("na"),
        size(col("gb")).cast("long").as("nb"),
        size(array_intersect(col("ga"), col("gb"))).cast("long")
          .as("n_common"))
      .filter(col("na") > 0 && col("nb") > 0)
      .select(col(leftId), col(rightId), col("n_common"),
        round(col("n_common").cast("double") /
          (col("na") + col("nb") - col("n_common")), 6).as("jaccard"),
        round(col("n_common").cast("double") / col("na"), 6).as(leftCont),
        round(col("n_common").cast("double") / col("nb"), 6).as(rightCont))
      .filter(greatest(col(leftCont), col(rightCont)) >= 0.5)
  }

  /** q160's per-micro-batch body: the batch's LSH candidates against
    * the persisted base signature table ([[streamBatchCandidates]]
    * verbatim), rescored with q156/q158's directed containment — gram
    * sets computed for the batch rows and for exactly the candidate
    * base docs (candidates-keyed join into the base corpus scan; the
    * base side is never self-paired and never fully gram-exploded).
    * Factored so the replay spec and the interior-plan audit drive
    * the same frame the query appends.
    */
  private[graft] def streamBatchContainment(batch: DataFrame,
      baseSig: DataFrame, baseDocs: DataFrame, maxBucket: Int = 10000,
      baseCounts: Option[DataFrame] = None,
      onPersist: DataFrame => Unit = _ => ()): DataFrame =
    // containmentRescore prunes the base side to the batch's candidate
    // ids (delta-proportional) before any shingle work, so the
    // per-batch base cost is the candidate lookup, never a corpus-wide
    // gram pass (measured: 13.7 s unpruned -> ~4 s pruned at sf0.1)
    containmentRescore(
      streamBatchCandidates(batch, baseSig, maxBucket, baseCounts)
        .select(col("delta_id"), col("base_id")),
      "delta_id", "base_id", batch, baseDocs, "cont_delta", "cont_base",
      onPersist)

  /** The md5 delta/base corpus split every incremental path shares:
    * first hex nibble 0–2 ⇒ delta (~19% of rows). It splits documents
    * by `doc_id` and embeddings by `vec_id` alike. Users: the v1 base
    * artifacts (`v1*Artifact`, `baseClusterArtifacts`,
    * `baseSpanOwners`, `v1ReleaseLedger`), `maintainedRelease` and
    * `driftSlices`; the stream-maintenance loops
    * (q115/q123/q135/q137/q144/q149/q160/q189/q232/q242); the release
    * chains (q95/q141/q142/q165/q171/q193/q231/q233); and the
    * staleness, drift and serving cards (q154/q213/q234/q246/q248/q249
    * and their families).
    */
  private[queries] def isDeltaDoc(c: Column): Column =
    substring(md5(c.cast("string")), 1, 1).isin("0", "1", "2")

  /** DuckDB mirror of [[isDeltaDoc]] over the id column `id`. */
  private[queries] def duckDelta(id: String): String = duckSplit(id, "IN")

  /** The complement of [[duckDelta]]: the md5 base slice. */
  private[queries] def duckBase(id: String): String = duckSplit(id, "NOT IN")

  private def duckSplit(id: String, op: String): String =
    s"substr(md5(CAST($id AS VARCHAR)), 1, 1) $op ('0', '1', '2')"

  /** The md5 tombstone rule of the deletion lifecycles (q244/q247's
    * manifest masks, q249's index drops): first hex nibble 'f' (~1/16
    * of ids), orthogonal to the [[isDeltaDoc]] split so the two
    * lifecycles compose.
    */
  private[queries] def isTombstoned(c: Column): Column =
    substring(md5(c.cast("string")), 1, 1) === "f"

  /** DuckDB mirror of [[isTombstoned]] over the id column `id`. */
  private[queries] def duckTombstoned(id: String): String =
    s"substr(md5(CAST($id AS VARCHAR)), 1, 1) = 'f'"

  /** Sub-split of the delta slice into two consecutive ingests (q142):
    * second md5 nibble 0–7 ⇒ first ingest.
    */
  private[queries] def isFirstIngest(c: Column): Column =
    substring(md5(c.cast("string")), 2, 1)
      .isin("0", "1", "2", "3", "4", "5", "6", "7")

  /** The (doc_id, n_spans, span_idx, k) frame of q92's 8-token span
    * keys (16-hex md5), shared by q148/q149.
    */
  private[queries] def spanFrame(side: DataFrame): DataFrame = side
    .select(col("doc_id"), TA.wsTokens(lower(col("text"))).as("toks"))
    .withColumn("n_spans", ceil(size(col("toks")) / lit(8.0)).cast("long"))
    .filter(col("n_spans") >= 1)
    .select(col("doc_id"), col("n_spans"),
      posexplode(transform(sequence(lit(0L), col("n_spans") - 1),
        i => substring(md5(array_join(
          slice(col("toks"), (i * 8 + 1).cast("int"), lit(8)), " ")), 1, 16)))
        .as(Seq("span_idx", "k")))

  /** The min-(doc_id, span_idx) owner of each span key `k` among
    * `claims` (q148's rule). min is associative and commutative, so
    * owner tables merge and compact in any order.
    */
  private[queries] def minOwners(claims: DataFrame): DataFrame =
    claims.groupBy(col("k"))
      .agg(min(struct(col("doc_id"), col("span_idx"))).as("o"))
      .select(col("k"), col("o.doc_id").as("doc_id"),
        col("o.span_idx").as("span_idx"))

  /** Exact per-source quantiles of `n_chars` via the distributed
    * value-count shape shared by q153 (distribution report) and q159
    * (robust trim): group to (source, n_chars) counts, one per-source
    * window over DISTINCT values (bounded by length resolution, never
    * corpus rows), then R-7 interpolation v_lo + frac·(v_hi − v_lo)
    * at h = (n−1)·p from the two covering rows per quantile —
    * DuckDB's quantile_cont definition exactly (gated by q153's
    * oracle; unit-spec'd against Spark's in-memory percentile
    * aggregate). Returns one row per key group: (keys..., n_docs,
    * <name> per requested quantile). `keys` defaults to the q153/q159
    * per-source shape; q163 passes (source, lang_guess) — the window
    * stays bounded by DISTINCT lengths per key group either way.
    */
  private[queries] def sourceQuantiles(docs: DataFrame,
      qs: Seq[(Double, String)],
      keys: Seq[String] = Seq("source"),
      valueCol: String = "n_chars"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keyCols = keys.map(col)
    val vc = docs.groupBy(keyCols :+ col(valueCol): _*)
      .agg(count(lit(1)).as("cnt"))
    val bySrc = Window.partitionBy(keyCols: _*)
    val cum = vc
      .withColumn("cum_before", coalesce(sum(col("cnt")).over(
        bySrc.orderBy(col(valueCol))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n", sum(col("cnt")).over(bySrc))
    // per quantile: the value at rank floor(h) and ceil(h) over
    // 0-based ranks; a (keys..., value) row covers ranks
    // [cum_before, cum_before + cnt)
    val aggCols = qs.flatMap { case (p, nm) =>
      val h = (col("n") - 1).cast("double") * lit(p)
      val lo = floor(h); val hi = ceil(h)
      Seq(
        max(when(col("cum_before") <= lo &&
          lo < col("cum_before") + col("cnt"), col(valueCol)))
          .as(s"${nm}_lo"),
        max(when(col("cum_before") <= hi &&
          hi < col("cum_before") + col("cnt"), col(valueCol)))
          .as(s"${nm}_hi"))
    }
    val agg = cum.groupBy(keyCols: _*)
      .agg(max(col("n")).as("n_docs"), aggCols: _*)
    qs.foldLeft(agg) { case (df, (p, nm)) =>
      val h = (col("n_docs") - 1).cast("double") * lit(p)
      df.withColumn(nm, round(col(s"${nm}_lo").cast("double") +
        (h - floor(h).cast("double")) *
        (col(s"${nm}_hi") - col(s"${nm}_lo")).cast("double"), 6))
    }
  }

  /** The four detector families' per-doc DROP SETS as one
    * (det, doc_id) frame — each rule is the detector's own gated
    * pipeline verbatim (see the q113 docstring). Shared by q113
    * (pairwise agreement), q117 (per-source curation report), q124
    * (planted-truth eval) and q138 (token impact).
    *
    * PERSISTED as a parquet artifact (session-materialized once via
    * [[Artifacts.artifact]]) rather than memory-Persist'd:
    * at 100 TB the drop sets are an OUTPUT of the corpus build — every
    * curation report reads the drop-set table of the release, it does
    * not re-run four detector pipelines per report — the same
    * discipline [[corpusSignatures]] applies to the signature table.
    * Value-identity with the recompute path is inherent (write +
    * read-back cannot change rows) and the four consumers' unchanged
    * DuckDB oracles gate it.
    */
  private[queries] def dedupDropSets(s: SparkSession, d: String): DataFrame =
    artifact(s, d, "dropsets", Some(1))(dropSetsRecompute(s, d))

  /** The batch containment detector's rescored pairs (q156's frame) as
    * a session-persisted parquet artifact — the [[dedupDropSets]]
    * discipline applied to the fifth detector family: at 100 TB the
    * containment pairs are a build OUTPUT; q156 (the detector report)
    * and q162 (the release artifact) both SCAN the persisted table
    * instead of re-running the candidate + gram rescore per query.
    * Value-identity is inherent (write + read-back) and q156's
    * unchanged DuckDB oracle gates it.
    */
  private[queries] def containmentPairs(s: SparkSession, d: String): DataFrame = {
    val dir = sharedInputDir(d, "contpairs") { p =>
      val docs = Tables.documents(s, d)
      val cand = Dedup.minhashCandidates(corpusSignatures(s, d))
        .filter(col("n_bands") >= 2).select(col("a_id"), col("b_id"))
      // one-shot artifact write: drop the rescore's cached candidate
      // frame as soon as the parquet lands (ADVICE r11 — the q160 fix
      // applied to the non-streaming writers)
      var cached: Option[DataFrame] = None
      containmentRescore(cand, "a_id", "b_id", docs, docs,
          "cont_a", "cont_b", onPersist = f => cached = Some(f))
        .repartition(1).write.mode("overwrite").parquet(p)
      cached.foreach(_.unpersist())
    }
    Tables.parquet(s, dir)
  }

  /** The v1 release's banded signature table (the SAME persisted
    * artifact the incremental family reads — q95's key). */
  private[queries] def v1SigArtifact(s: SparkSession, d: String): DataFrame =
    artifact(s, d, "q95_sig")(Dedup.bandedSignatures(
      Tables.documents(s, d).filter(!isDeltaDoc(col("doc_id"))),
      "text", "doc_id", k = 8))

  /** The v1 release's SimHash signature table (q123's key):
    * (doc_id, sh, band, nib), ~4 narrow rows per doc. */
  private[queries] def v1SimhashSigArtifact(s: SparkSession, d: String): DataFrame =
    artifact(s, d, "q123_sig")(
      simhashBaseSig(Tables.documents(s, d).filter(!isDeltaDoc(col("doc_id")))))

  /** The v1 release's semantic cell index (q135's key):
    * (cell, id, vec, nrm) — the corpus build's embedding-index
    * output at 100 TB. */
  private[queries] def v1CellIndexArtifact(s: SparkSession, d: String): DataFrame =
    artifact(s, d, "q135_idx")(Similarity.cellIndex(
      Tables.embeddings(s, d).filter(!isDeltaDoc(col("vec_id"))),
      "vec_id", "embedding"))

  /** The (cell, cn) count artifact next to [[v1CellIndexArtifact]] —
    * per-batch cell caps read this instead of re-aggregating the
    * index (q135's key). */
  private[queries] def v1CellCountArtifact(s: SparkSession, d: String): DataFrame =
    artifact(s, d, "q135cnt")(
      v1CellIndexArtifact(s, d).groupBy(col("cell")).agg(count(lit(1)).as("cn")))

  /** Frames `Persist()`ed by NON-materialized [[ledgerMaintainStep]]
    * invocations (q168's body, q171's second step, q174): the query
    * function returns its DataFrame before the harness action runs, so
    * the step cannot unpersist them at build time (they'd recompute).
    * Instead every new step build DRAINS the previous one's frames —
    * unpersist on a never-materialized frame is a no-op — bounding
    * per-session cache accumulation to ONE step's frames instead of
    * one per invocation (ADVICE r12; the materialized path already
    * unpersists inside its write closure).
    */
  private[queries] val stepCached = new scala.collection.mutable.ArrayBuffer[DataFrame]
  private[queries] def stepOnPersist(f: DataFrame): Unit =
    stepCached.synchronized { stepCached += f }
  private[queries] def drainStepCache(): Unit = stepCached.synchronized {
    stepCached.foreach(f => try f.unpersist()
      catch { case scala.util.control.NonFatal(_) => () })
    stepCached.clear()
  }

  /** The four detector pipelines, verbatim — the artifact WRITE path
    * (full corpus). */
  private[queries] def dropSetsRecompute(s: SparkSession, d: String): DataFrame =
    dropSetsRecomputeFrom(Tables.documents(s, d), corpusSignatures(s, d),
      Tables.embeddings(s, d))

  /** The four detector pipelines over EXPLICIT inputs — the full-
    * corpus artifact path above and the v1-release path (q167: base
    * docs + the q95 base signature artifact + base embeddings) run the
    * SAME code, so a release's ledger and the current ledger cannot
    * desynchronize on detector rules.
    */
  private[queries] def dropSetsRecomputeFrom(docs: DataFrame, sig: DataFrame,
      emb: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val mh = Dedup.minhashCandidates(sig)
      .filter(col("n_bands") >= 2)
      .select(col("b_id").as("doc_id")).distinct()
      .select(lit("minhash").as("det"), col("doc_id"))
    val shFrame = docs.select(col("doc_id"), Dedup.simhash64(col("text")).as("sh"))
    val shSig = sh64Sig(shFrame).drop("sh")
    val sh = Dedup.minhashCandidates(shSig)
      .filter(col("n_bands") >= 3)
      .join(shFrame.select(col("doc_id").as("a_id"), col("sh").as("a_sh")), Seq("a_id"))
      .join(shFrame.select(col("doc_id").as("b_id"), col("sh").as("b_sh")), Seq("b_id"))
      .filter(bit_count(col("a_sh").bitwiseXOR(col("b_sh"))) <= 3)
      .select(col("b_id").as("doc_id")).distinct()
      .select(lit("simhash").as("det"), col("doc_id"))
    // span branch rides the shared spanFrame (q92's 16-hex keys —
    // identical key rule: md5 of the space-joined 8-token slice); one
    // window + one per-doc aggregate replaces the old explode + kept
    // count + join-back (rows per doc == n_spans, so count(*) IS
    // n_spans and no join against a per-doc token frame is needed).
    // Docs with zero kept spans aggregate to n_kept = 0 here, exactly
    // what the old left-join's coalesce produced
    val sp = spanFrame(docs)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("k")).orderBy(col("doc_id"), col("span_idx"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        count(when(col("rn") === 1, lit(1))).as("n_kept"))
      .filter(col("n_kept") * 2 < col("n_spans"))
      .select(lit("span").as("det"), col("doc_id"))
    val se = Similarity.semanticDedup(emb, "vec_id",
        "embedding", tau = 0.4, nCells = 16)
      .select(col("dropped_id").as("doc_id")).distinct()
      .select(lit("semantic").as("det"), col("doc_id"))
    mh.unionByName(sh).unionByName(sp).unionByName(se)
  }

  /** q96's 5-round BPE trainer loop, factored out so q122 can APPLY
    * the trained merge table. Each round: pair stats over the
    * vocab-sized distinct-word table (the ONLY corpus-wide shuffle is
    * the word-freq group-by, Persist'd once), argmax via a one-row
    * bounded collect, merge applied with one codegen'd replace. The
    * result is memoized per input dir — train once per session, every
    * consumer (q96's presentation, q122's encode chain) reads the same
    * table, the corpusSignatures discipline applied to the tokenizer.
    */
  private[queries] val bpeMergeCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(Long, String, String, Long)]]()

  private[graft] def bpeTrainedMerges(s: SparkSession,
      d: String): Seq[(Long, String, String, Long)] =
    bpeMergeCache.computeIfAbsent(d, { _ =>
      val S = "\u0001"; val SS = S + S
      val words0 = graft.util.Persist(Tables.documents(s, d)
        .select(explode(TA.wsTokens(lower(col("text")))).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("freq"))
        .filter(length(col("word")) >= 2)
        .select(concat(lit(SS), regexp_replace(col("word"), "(.)", "$1" + SS)).as("rep"),
          col("freq")))
      var words: DataFrame = words0
      val merges = scala.collection.mutable.ArrayBuffer[(Long, String, String, Long)]()
      for (it <- 1 to 5) {
        val top = words
          .select(col("freq"),
            filter(split(col("rep"), SS), x => x =!= lit("")).as("syms"))
          .filter(size(col("syms")) >= 2)
          .select(col("freq"),
            explode(transform(sequence(lit(1), size(col("syms")) - 1),
              i => struct(element_at(col("syms"), i).as("a"),
                element_at(col("syms"), i + 1).as("b")))).as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum(col("freq")).as("pair_freq"))
          .orderBy(col("pair_freq").desc, col("a"), col("b"))
          .limit(1).collect()
        if (top.nonEmpty) {
          val (a, b, f) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
          merges += ((it.toLong, a, b, f))
          words = words.withColumn("rep",
            replace(col("rep"), lit(S + a + SS + b + S), lit(S + a + b + S)))
        }
      }
      merges.toSeq
    })

  /** The corpus encoded with [[bpeTrainedMerges]]' trained table —
    * per-doc whitespace-word and BPE-token counts, shared by q122
    * (fertility report) and q125 (sequence packing). The merge table
    * collects to the driver (vocab-bounded) and inlines as a chain of
    * literal codegen'd replace()s inside one transform() over each
    * doc's token array — pure scan-stage arithmetic, zero shuffles.
    */
  private[queries] def bpeEncoded(s: SparkSession, d: String): DataFrame = {
    val S = "\u0001"; val SS = S + S
    val merges = bpeTrainedMerges(s, d)
    def encodeLen(w: Column): Column = {
      val rep0 = concat(lit(SS), regexp_replace(w, "(.)", "$1" + SS))
      val repN = merges.foldLeft(rep0) { case (r, (_, a, b, _)) =>
        replace(r, lit(S + a + SS + b + S), lit(S + a + b + S)) }
      // same length-arithmetic segment count as q126's lenOf (round 18)
      ((length(repN) - length(replace(repN, lit(S), lit("")))) / 2 - 1)
        .cast("int")
    }
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        TA.wsTokens(lower(col("text"))).as("toks"))
      .select(col("doc_id"), col("source"),
        size(col("toks")).cast("long").as("n_words"),
        coalesce(aggregate(col("toks"), lit(0L),
          (acc, w) => acc + encodeLen(w).cast("long")), lit(0L)).as("n_tokens"))
  }

  /** q178's deliberately skewed embedding table: vectors whose vec_id
    * md5 head is 0–7 (half the table) replaced by one constant
    * all-ones direction — the embedding-collapse degenerate shape
    * (dead encoder, zero/constant outputs) the IVF cell cap exists
    * for. Every stamped vector lands in the same argmax cell.
    */
  private[graft] def skewedEmb(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).select(col("vec_id"),
      when(substring(md5(col("vec_id").cast("string")), 1, 1)
          .isin("0", "1", "2", "3", "4", "5", "6", "7"),
        array_repeat(lit(1.0), 64))
        .otherwise(col("embedding").cast("array<double>")).as("embedding"))

  private[queries] def duckToks(expr: String) =
    s"list_filter(string_split_regex(trim(lower($expr)), '\\s+'), x -> x <> '')"

  /** DuckDB mirror of [[TA.normWords]]. */
  private[queries] val duckNormWords =
    """list_filter(string_split_regex(
       trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\s+'),
       x -> x <> '')""".replaceAll("\n\\s*", " ")

  /** Every word-8-gram window of the `$src` CTE's `words` list, as
    * (doc_id, words, i) rows; docs under 8 words have none.
    */
  private[queries] def gramPosSql(src: String): String =
    s"""SELECT doc_id, words,
             unnest(generate_series(1, len(words) - 7)) AS i
           FROM $src WHERE len(words) >= 8"""

  /** DuckDB mirror of [[TA.wordGramHashes]] (n = 8, 16 hex chars): the
    * hash of the window of `words` starting at `i`.
    */
  private[queries] val duckGramHash =
    "substr(md5(array_to_string(words[i:i+7], ' ')), 1, 16)"

  /** DuckDB mirror of [[TA.stopwordRatioFromTokens]] over the `toks` list. */
  private[queries] def duckStopRatio(toks: String): String =
    s"""CAST(len(list_filter($toks, x ->
                 list_contains(['the','and','of','a','to','in','is','it'], x))) AS DOUBLE)
               / CAST(len($toks) AS DOUBLE)"""

  /** DuckDB mirror of [[TA.meanWordLenFromTokens]] over the `toks` list. */
  private[queries] def duckMeanWordLen(toks: String): String =
    s"""CAST(list_sum(list_transform($toks, x -> len(x))) AS DOUBLE)
               / CAST(len($toks) AS DOUBLE)"""

  /** DuckDB mirror of [[TA.punctRatio]] over the `text` column. */
  private[queries] val duckPunctRatio =
    """CAST(len(text) - len(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
               / CAST(len(text) AS DOUBLE)"""

  /** The frozen-logistic quality features ([[qualityOf]]'s inputs) over
    * a `t(doc_id, <cols>, text, toks)` CTE, as
    * `f(doc_id, <cols>, n_words, mwl, punct, stop)`.
    */
  private[queries] def duckQualityFeatures(cols: String = ""): String =
    s"""f AS (SELECT doc_id$cols,
             CAST(len(toks) AS DOUBLE) AS n_words,
             ${duckMeanWordLen("toks")} AS mwl,
             $duckPunctRatio AS punct,
             ${duckStopRatio("toks")} AS stop
           FROM t)"""

  /** Prefixed/filtered variant of the banded-signature chain so a
    * release-slice instance (q167's v1) can coexist with the full-
    * corpus instance in one WITH list. `px` prefixes every CTE name;
    * `pred` filters the seeding `documents` scan.
    */
  private[queries] def bandedSigSqlFor(px: String, pred: String): String = {
    val cols = "0123456789abcdef".zipWithIndex.map { case (h, i) =>
      s"MIN(minhash) FILTER (band = '$h') AS b$i"
    }.mkString(", ")
    val keys = (0 until 8).map(j => s"b$j || '#' || b${j + 8} AS k$j").mkString(", ")
    val karr = (0 until 8).map(j => s"k$j").mkString("[", ", ", "]")
    s"""${px}pos AS (SELECT doc_id, text,
         unnest(generate_series(1, greatest(len(text) - 7, 1))) AS i
         FROM documents WHERE $pred),
       ${px}sh AS (SELECT DISTINCT doc_id, substr(text, i, 8) AS shingle
         FROM ${px}pos),
       ${px}sig AS (SELECT doc_id, substr(md5(shingle), 1, 1) AS band,
         MIN(md5(shingle)) AS minhash FROM ${px}sh GROUP BY 1, 2),
       ${px}piv AS (SELECT doc_id, $cols FROM ${px}sig GROUP BY doc_id),
       ${px}keyed AS (SELECT doc_id, $keys FROM ${px}piv),
       ${px}lng0 AS (SELECT doc_id, unnest(generate_series(0, 7)) AS band,
         unnest($karr) AS sigkey FROM ${px}keyed),
       ${px}lng AS (SELECT l.doc_id, l.band, l.sigkey FROM ${px}lng0 l
         JOIN (SELECT band, sigkey, COUNT(*) AS bs
               FROM ${px}lng0 WHERE sigkey IS NOT NULL GROUP BY 1, 2) s
         ON l.band = s.band AND l.sigkey = s.sigkey
         WHERE l.sigkey IS NOT NULL AND s.bs <= 10000)"""
  }

  /** Shared oracle CTEs for the r=2 banded MinHash signature,
    * mirroring `Dedup.bandedSignatures` + `minhashCandidates` exactly:
    * a band key exists only when BOTH nibble minima are present (`||`
    * propagates NULL, and `lng` drops NULL keys — matching absence
    * against absence is not near-dup evidence), and rows of an
    * over-cap (band, sigkey) bucket are excluded, which drops exactly
    * that bucket's pair contributions — so the oracle and the Spark
    * side agree even on a corpus with a degenerate bucket (never the
    * case at fixture scale, but the gate should not silently depend on
    * that).
    */
  private[queries] val bandedSigSql: String = bandedSigSqlFor("", "TRUE")

  /** The LSH band self-join over the `${px}lng` band keys: one row per
    * candidate pair (a_id < b_id) sharing at least `minBands` bands,
    * with `cols` appended to the select list.
    */
  private[queries] def lshPairsSql(minBands: Int = 1, cols: String = "",
      px: String = ""): String = {
    val having = if (minBands > 1) s" HAVING COUNT(*) >= $minBands" else ""
    s"""SELECT a.doc_id AS a_id, b.doc_id AS b_id$cols
           FROM ${px}lng a JOIN ${px}lng b ON a.band = b.band AND a.sigkey = b.sigkey
             AND a.doc_id < b.doc_id
           GROUP BY 1, 2$having"""
  }

  /** Connected components by recursive reachability (the query opens
    * WITH RECURSIVE): `edges` holds the `$pairs` CTE's (`a`, `b`) pairs
    * in both directions, and `reach(id, comp)` each node with every
    * node it reaches. MIN(comp) per id is the component's min label.
    */
  private[queries] def reachSql(pairs: String, a: String = "a_id",
      b: String = "b_id"): String =
    s"""edges AS (SELECT $a AS s, $b AS t FROM $pairs
           UNION SELECT $b AS s, $a AS t FROM $pairs),
         reach AS (SELECT s AS id, s AS comp FROM edges
           UNION SELECT e.t AS id, r.comp AS comp
           FROM reach r JOIN edges e ON r.id = e.s)"""

  /** IVF centroid VALUES rows for the q44 oracle — the exact constants
    * the Spark side folds into its plan (test embeddings are 64-dim).
    */
  private[queries] val ivfCentroids: String =
    (0 until 16).map { cl =>
      val vals = (0 until 64).map(i => graft.ext.Similarity.centroidVal(cl, i)).mkString(", ")
      s"($cl, [$vals]::DOUBLE[])"
    }.mkString(", ")

  /** q96 oracle: the 5-round BPE trainer unrolled into a CTE chain
    * (w0 -> p1/t1/w1 -> ... -> t5), generated programmatically — the
    * "scripted oracle" discipline (cf. simhashTerms). Each round: pair
    * stats over the symbol-split reps, argmax via ORDER BY/LIMIT 1,
    * merge applied with the same single replace() as the Spark side
    * (left join keeps w_i intact if a round produces no pair).
    */
  private[queries] lazy val bpeTrainCtes: String = {
    val S = "\u0001"; val SS = S + S
    val rounds = (1 to 5).map { i =>
      s"""p$i AS (SELECT syms[j] AS a, syms[j + 1] AS b, freq
           FROM (SELECT list_filter(string_split(rep, '$SS'), x -> x <> '') AS syms,
                   freq FROM w${i - 1}),
             LATERAL unnest(generate_series(1, len(syms) - 1)) AS u(j)
           WHERE len(syms) >= 2),
         t$i AS (SELECT a, b, CAST(SUM(freq) AS BIGINT) AS pair_freq
           FROM p$i GROUP BY 1, 2 ORDER BY pair_freq DESC, a, b LIMIT 1),
         w$i AS (SELECT CASE WHEN t$i.a IS NULL THEN rep
               ELSE replace(rep, '$S' || t$i.a || '$SS' || t$i.b || '$S',
                            '$S' || t$i.a || t$i.b || '$S') END AS rep, freq
           FROM w${i - 1} LEFT JOIN t$i ON TRUE)"""
    }.mkString(",\n         ")
    s"""w0 AS (SELECT '$SS' || regexp_replace(word, '(.)', '\\1$SS', 'g') AS rep,
           CAST(freq AS BIGINT) AS freq FROM (
             SELECT word, COUNT(*) AS freq
             FROM (SELECT unnest(${duckToks("text")}) AS word FROM documents) t
             WHERE len(word) >= 2 GROUP BY 1) f),
         $rounds"""
  }

  /** q122 oracle: replay the trained merge table (the SAME t1..t5 CTE
    * chain q96's oracle builds) over every doc's token list — the
    * per-word symbol rep, five CASE-guarded replace()s in training
    * order (guarded so an empty round leaves the rep intact, mirroring
    * the Spark side's fold over collected merges), then count
    * non-empty symbols and sum per doc.
    */
  private[queries] lazy val bpeEncodeCtes: String = {
    val S = "\u0001"; val SS = S + S
    val rep0 = s"'$SS' || regexp_replace(w, '(.)', '\\1$SS', 'g')"
    val repN = (1 to 5).foldLeft(rep0) { (acc, i) =>
      s"""CASE WHEN t$i.a IS NULL THEN $acc
         ELSE replace($acc, '$S' || t$i.a || '$SS' || t$i.b || '$S',
                      '$S' || t$i.a || t$i.b || '$S') END"""
        .replaceAll("\\n\\s*", " ")
    }
    val joins = (1 to 5).map(i => s"LEFT JOIN t$i ON TRUE").mkString(" ")
    s"""$bpeTrainCtes,
         dt AS (SELECT doc_id, source, ${duckToks("text")} AS toks FROM documents),
         enc AS (SELECT doc_id, source, len(toks) AS n_words,
             list_sum(list_transform(toks, w ->
               len(list_filter(string_split($repN, '$SS'), x -> x <> ''))))
               AS n_tokens
           FROM dt $joins)"""
  }

  /** The q86/q89 shared oracle CTE chain: IVF-cell assignment (inlined
    * centroids), cell-size cap, zero-norm filter, within-cell pairs,
    * best-witness window (`ev`, filter `rn = 1` to get the drop list).
    */
  private[queries] def semanticPairCtesFor(px: String, pred: String): String =
    s"""${px}cents(cell, cvec) AS (VALUES $ivfCentroids),
         ${px}a0 AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec
           FROM embeddings
           WHERE embedding IS NOT NULL AND len(embedding) > 0 AND $pred),
         ${px}asg AS (SELECT id, vec, cell,
             ROW_NUMBER() OVER (PARTITION BY id
               ORDER BY round(list_inner_product(vec, cvec), 6) DESC, cell) AS rn
           FROM ${px}a0, ${px}cents),
         ${px}cl AS (SELECT id, vec, cell FROM ${px}asg WHERE rn = 1),
         ${px}sz AS (SELECT cell, COUNT(*) AS cs FROM ${px}cl GROUP BY 1),
         ${px}c AS (SELECT ${px}cl.id, ${px}cl.vec, ${px}cl.cell,
             sqrt(list_inner_product(${px}cl.vec, ${px}cl.vec)) AS nrm
           FROM ${px}cl JOIN ${px}sz ON ${px}cl.cell = ${px}sz.cell
           WHERE ${px}sz.cs <= 10000
             AND list_inner_product(${px}cl.vec, ${px}cl.vec) > 0),
         ${px}pairs AS (SELECT a.cell, a.id AS kept_id, b.id AS dropped_id,
             list_inner_product(a.vec, b.vec) / (a.nrm * b.nrm) AS sim
           FROM ${px}c a JOIN ${px}c b ON a.cell = b.cell AND a.id < b.id),
         ${px}ev AS (SELECT cell, dropped_id, kept_id, sim,
             ROW_NUMBER() OVER (PARTITION BY dropped_id
               ORDER BY round(sim, 6) DESC, kept_id) AS rn
           FROM ${px}pairs WHERE round(sim, 6) >= 0.4)"""

  /** 64-term SimHash64 oracle: bit j votes on bit (j mod 4) of hex
    * nibble (j div 4) of md5(token), mirroring
    * [[graft.etl.expressions.SimHash64]]. Bit 63's weight is written
    * as (-max - 1): the bare literal would not parse as a BIGINT, and
    * DuckDB promotes the sum to HUGEINT otherwise; the final CAST back
    * to BIGINT is exact either way but this keeps it int64-native.
    */
  private[queries] val simhash64Terms: String = (0 until 64).map { j =>
    val n = j / 4
    val k = j % 4
    val w = if (j == 63) "(-9223372036854775807 - 1)" else (1L << j).toString
    s"""CASE WHEN 2 * len(list_filter(toks, t ->
       (((strpos('0123456789abcdef', substr(md5(t), ${n + 1}, 1)) - 1) >> $k) & 1) = 1))
       > len(toks) THEN $w ELSE 0 END""".replaceAll("\n\\s*", " ")
  }.mkString(" + ")

  private[queries] def simhashCandCtesFor(p: String, pred: String): String = s"""${p}t AS (SELECT doc_id, ${duckToks("text")} AS toks FROM documents WHERE $pred),
         ${p}s AS (SELECT doc_id, CAST($simhash64Terms AS BIGINT) AS sh FROM ${p}t),
         ${p}n AS (SELECT doc_id, sh, unnest([0, 1, 2, 3]) AS band FROM ${p}s),
         ${p}nb0 AS (SELECT doc_id, sh, band, (sh >> (band * 16)) & 65535 AS nib FROM ${p}n),
         ${p}nbs AS (SELECT band, nib, COUNT(*) AS bs FROM ${p}nb0 GROUP BY 1, 2),
         ${p}nb AS (SELECT ${p}nb0.doc_id, ${p}nb0.sh, ${p}nb0.band, ${p}nb0.nib FROM ${p}nb0
           JOIN ${p}nbs ON ${p}nb0.band = ${p}nbs.band AND ${p}nb0.nib = ${p}nbs.nib
           WHERE ${p}nbs.bs <= 10000),
         ${p}cand AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             any_value(a.sh) AS ash, any_value(b.sh) AS bsh
           FROM ${p}nb a JOIN ${p}nb b ON a.band = b.band AND a.nib = b.nib
             AND a.doc_id < b.doc_id
           GROUP BY 1, 2 HAVING COUNT(*) >= 3)"""

  /** Prefixed/filtered variant of the four-family drop-set chain so a
    * release-slice instance (q167's v1 ledger) can coexist with the
    * full-corpus instance in one WITH list. `docPred` filters the
    * `documents` seeds, `embPred` the `embeddings` seed.
    */
  private[queries] def dedupDropsCtesFor(px: String, docPred: String,
      embPred: String): String = s"""${bandedSigSqlFor(px, docPred)},
         ${px}mhp AS (${lshPairsSql(2, px = px)}),
         ${simhashCandCtesFor(px + "x", docPred)},
         ${px}pn AS (SELECT doc_id, toks,
             CAST(ceil(len(toks) / 8.0) AS BIGINT) AS n_spans FROM ${px}xt),
         ${px}psp AS (SELECT doc_id, i AS span_idx,
             array_to_string(toks[i*8+1 : i*8+8], ' ') AS span
           FROM (SELECT doc_id, toks,
               unnest(generate_series(0, n_spans - 1)) AS i
             FROM ${px}pn WHERE n_spans >= 1)),
         ${px}pk AS (SELECT doc_id, span_idx, span, ROW_NUMBER() OVER (
             PARTITION BY substr(md5(span), 1, 16)
             ORDER BY doc_id, span_idx) AS rn FROM ${px}psp),
         ${px}pr AS (SELECT doc_id, COUNT(*) AS n_kept FROM ${px}pk
           WHERE rn = 1 GROUP BY doc_id),
         ${semanticPairCtesFor(px, embPred)},
         ${px}drops AS (
           SELECT DISTINCT 'minhash' AS det, b_id AS doc_id FROM ${px}mhp
           UNION ALL
           SELECT DISTINCT 'simhash' AS det, b_id AS doc_id FROM ${px}xcand
             WHERE bit_count(xor(ash, bsh)) <= 3
           UNION ALL
           SELECT 'span' AS det, ${px}pn.doc_id FROM ${px}pn
             LEFT JOIN ${px}pr USING (doc_id)
             WHERE COALESCE(${px}pr.n_kept, 0) * 2 < ${px}pn.n_spans
           UNION ALL
           SELECT DISTINCT 'semantic' AS det, dropped_id AS doc_id
             FROM ${px}ev WHERE rn = 1)"""

  /** The q108 frozen-logistic score as oracle CTEs ending in
    * `sc(doc_id, source, quality_score)` — the SQL twin of
    * [[docQuality]], shared by the q108 gate and the q205 DoReMi step
    * so the two cannot desynchronize on a coefficient.
    */
  private[queries] lazy val duckQualityCtes: String = s"""
         t AS (SELECT doc_id, source, text, ${duckToks("text")} AS toks
           FROM documents),
         ${duckQualityFeatures(", source")},
         z AS (SELECT doc_id, source, 0.5 + 4.0 * stop - 6.0 * punct
             - 0.4 * abs(mwl - 5.0) + 0.15 * ln(1.0 + n_words) AS zz FROM f),
         sc AS (SELECT doc_id, source,
           round(1.0 / (1.0 + exp(-zz)), 6) AS quality_score FROM z)"""
}
